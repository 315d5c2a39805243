package graft.sources

import java.io.File

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Driver-memory contract of the bloom sidecars at file scale: decoded
  * bloom bits are 4 KB per (file, column), so a 100k-file table must
  * never load them wholesale. Pinned here:
  *  - a scan with NO equality/IN filter never reads the manifest at all
  *    (zero driver bytes, not just fewer);
  *  - decoding restricts to the columns the query's filters reference;
  *  - the per-scan entry cap degrades to no-pruning (sound), never to
  *    an OOM;
  *  - runtime join-key sets arriving AFTER planning still re-resolve
  *    the bloom cache (the lazy-load regression this design invites).
  */
class BloomScaleSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_bloomsc")

  private def writeTwoCol(dir: String): Unit =
    spark.range(0, 800).toDF("k")
      .withColumn("tag", F.concat(F.lit("t"), F.col("k").cast("string")))
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartition(8, F.col("k"))
      .write.format("graft-avro").option("bloomFor", "k,tag")
      .mode("overwrite").save(dir)

  private def planned(dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Int = {
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema)
    if (filters.nonEmpty) sb.pushFilters(filters.toArray)
    ScanSplits.count(sb.build())
  }

  test("a filterless scan never reads the bloom manifest") {
    val dir = tmp()
    writeTwoCol(dir)
    val before = AvroFileSource.bloomManifestReads.get()
    planned(dir) shouldBe 8
    // range/sort predicates cannot use membership bits either
    import org.apache.spark.sql.sources.GreaterThan
    planned(dir, Seq(GreaterThan("k", 10L))) shouldBe 8
    AvroFileSource.bloomManifestReads.get() shouldBe before
    // an equality filter is what finally pays the one manifest read
    import org.apache.spark.sql.sources.EqualTo
    planned(dir, Seq(EqualTo("k", 42L))) should be <= 2
    AvroFileSource.bloomManifestReads.get() shouldBe (before + 1)
  }

  test("decode work restricts to the probed columns") {
    val dir = tmp()
    writeTwoCol(dir)
    val d = new File(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    // probing only k decodes the 8 k-entries, never tag's 8
    val before = AvroFileSource.bloomEntriesDecoded.get()
    val dropped = AvroFileSource.bloomDroppedFiles(
      AvroFileSource.bloomFile(d), d, schema,
      Map("k" -> Seq(AvroFileSource.bloomProbeEq(Seq("42")))))
    AvroFileSource.bloomEntriesDecoded.get() shouldBe (before + 8)
    // k=42 lives in exactly one hash partition's file
    dropped.size shouldBe 7
  }

  test("pruning survives manifests far past the old 32k-entry cap") {
    val dir = tmp()
    writeTwoCol(dir)
    val d = new File(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    // Forge a 33k-entry manifest (one shared 4 KB payload holding only
    // "present") on top of the real 8 files' entries: the r13 design
    // stood pruning down past 32768 entries; the streaming verdict
    // path must keep pruning with heap = O(dropped paths) + ONE
    // transient bit array, decoding each entry exactly once.
    val bits = Array.ofDim[Long](AvroFileSource.BloomBits / 64)
    AvroFileSource.bloomAdd(bits, "present")
    val bb = java.nio.ByteBuffer.allocate(AvroFileSource.BloomBits / 8)
    bits.foreach(bb.putLong)
    val b64 = java.util.Base64.getEncoder.encodeToString(bb.array())
    val forged = new File(d, "_graft_blooms_forged")
    val w = new java.io.PrintWriter(forged, "UTF-8")
    try (0 until 33000).foreach(i => w.println(s"fake-$i.avro\tk\tbigint\t$b64"))
    finally w.close()

    val before = AvroFileSource.bloomEntriesDecoded.get()
    val missing = AvroFileSource.bloomDroppedFiles(forged, d, schema,
      Map("k" -> Seq(AvroFileSource.bloomProbeEq(Seq("absent")))))
    missing.size shouldBe 33000 // every forged file pruned, no stand-down
    AvroFileSource.bloomEntriesDecoded.get() shouldBe (before + 33000)
    val kept = AvroFileSource.bloomDroppedFiles(forged, d, schema,
      Map("k" -> Seq(AvroFileSource.bloomProbeEq(Seq("present")))))
    kept shouldBe empty
    // scans stay correct with pruning active (bloom never lies: the
    // real manifest's verdicts only drop files without the key)
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("k") === 42L).count() shouldBe 1
  }

  test("runtime join-key sets arriving after planning still load blooms") {
    val dir = tmp()
    writeTwoCol(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    val scan = new AvroScanBuilder(dir, schema).build()
    // first plan: no filters -> nothing loaded, all files planned
    ScanSplits.count(scan) shouldBe 8
    // runtime IN on k arrives (broadcast join build side), re-plan:
    // the bloom cache must re-resolve for the new column set
    scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("IN", Array[
          org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("k"), Expressions.literal(7L)))))
    ScanSplits.count(scan) should be <= 2
  }
}
