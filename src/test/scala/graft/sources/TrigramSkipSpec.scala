package graft.sources

import java.io.File

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Trigram bloom sidecars (`trigramFor=col`): pg_trgm-style file
  * skipping for substring predicates — a row containing needle s
  * necessarily contains every trigram of s, so a file whose trigram
  * set definitely lacks one holds no match. Pinned here: LIKE
  * '%needle%' opens ~1 file of 8; zero false negatives over every
  * present needle (and prefix/suffix forms); the equality bloom
  * reader and the trigram reader cannot decode each other's entries;
  * the string-only write guard.
  */
class TrigramSkipSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_trgm")

  /** 8 range-partitioned files (k ranges align with the marker, so
    * every file is non-empty and holds exactly ONE marker word — a
    * hash partition would leave empty files whose missing bloom entry
    * is always kept); every file also shares common text, so only the
    * marker distinguishes them.
    */
  private def writeMarked(dir: String): Unit =
    spark.range(0, 800).toDF("k")
      .withColumn("doc", F.concat(F.lit("shared prefix text "),
        F.lit("marker_"), F.expr("k div 100").cast("string"),
        F.lit(" shared suffix")))
      .repartitionByRange(8, F.col("k"))
      .write.format("graft-avro").option("trigramFor", "doc")
      .mode("overwrite").save(dir)

  private def scanParts(dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Int = {
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema)
    sb.pushFilters(filters.toArray)
    ScanSplits.count(sb.build())
  }

  test("LIKE '%needle%' opens ~1 of 8 files; results stay exact") {
    val dir = tmp()
    writeMarked(dir)
    AvroFileSource.listAvro(new File(dir)).size shouldBe 8
    import org.apache.spark.sql.sources.StringContains
    // the unique marker prunes to ~1 file (bloom fp may keep a stray)
    scanParts(dir, Seq(StringContains("doc", "marker_3 "))) should be <= 2
    // a needle present everywhere keeps everything
    scanParts(dir, Seq(StringContains("doc", "shared"))) shouldBe 8
    // an absent needle prunes everything
    scanParts(dir, Seq(StringContains("doc", "zzz_not_there"))) shouldBe 0
    // end-to-end rows are exact for every marker (no false negative)
    (0 until 8).foreach { m =>
      spark.read.format("graft-avro").load(dir)
        .filter(F.col("doc").contains(s"marker_$m "))
        .count() shouldBe 100
    }
    // prefix and suffix predicates ride the same entries
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("doc").startsWith("shared prefix"))
      .count() shouldBe 800
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("doc").endsWith("shared suffix"))
      .count() shouldBe 800
  }

  test("equality and trigram entries are mutually invisible") {
    val dir = tmp()
    spark.range(0, 100).toDF("k")
      .withColumn("doc", F.concat(F.lit("val_"), F.col("k").cast("string")))
      // range-partition: hash partitioning can land both halves in one
      // partition, leaving an entry-less empty file that always keeps
      .repartitionByRange(2, F.col("k"))
      .write.format("graft-avro")
      .option("bloomFor", "doc").option("trigramFor", "doc")
      .mode("overwrite").save(dir)
    val d = new File(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    val bf = AvroFileSource.bloomFile(d)
    // same manifest, disjoint verdicts: equality mode must consult
    // only the exact-value bits, trigram mode only the trigram bits
    // (exact-value bits answering trigram questions, or vice versa,
    // would be garbage verdicts). "val_7" lives in the low-k file;
    // trigram "_93" (of doc "val_93") exists only in the high-k one.
    val eqDrop = AvroFileSource.bloomDroppedFiles(bf, d, schema,
      Map("doc" -> Seq(AvroFileSource.bloomProbeEq(Seq("val_7")))))
    eqDrop.size shouldBe 1
    val tgDrop = AvroFileSource.bloomDroppedFiles(bf, d, schema,
      Map("doc" -> Seq(AvroFileSource.bloomProbeSubstring("_93"))),
      trigram = true)
    tgDrop.size shouldBe 1
    // mutual invisibility under a one-kind manifest: a trigram-mode
    // read of an equality-only manifest (and the reverse) matches no
    // entry's type tag — NOTHING dropped even for absent needles,
    // because the other kind's bits are not consulted at all
    val eqOnly = tmp()
    spark.range(0, 50).toDF("k")
      .withColumn("doc", F.concat(F.lit("val_"), F.col("k").cast("string")))
      .coalesce(1).write.format("graft-avro")
      .option("bloomFor", "doc").mode("overwrite").save(eqOnly)
    AvroFileSource.bloomDroppedFiles(
      AvroFileSource.bloomFile(new File(eqOnly)), new File(eqOnly), schema,
      Map("doc" -> Seq(AvroFileSource.bloomProbeSubstring("zzz"))),
      trigram = true) shouldBe empty
    val tgOnly = tmp()
    spark.range(0, 50).toDF("k")
      .withColumn("doc", F.concat(F.lit("val_"), F.col("k").cast("string")))
      .coalesce(1).write.format("graft-avro")
      .option("trigramFor", "doc").mode("overwrite").save(tgOnly)
    AvroFileSource.bloomDroppedFiles(
      AvroFileSource.bloomFile(new File(tgOnly)), new File(tgOnly), schema,
      Map("doc" -> Seq(AvroFileSource.bloomProbeEq(Seq("zzz"))))) shouldBe empty
    // equality pruning still behaves with both kinds present
    import org.apache.spark.sql.sources.{EqualTo, StringContains}
    scanParts(dir, Seq(EqualTo("doc", "val_7"))) should be <= 2
    scanParts(dir, Seq(StringContains("doc", "val_7"))) should be >= 1
  }

  test("trigramFor refuses non-string columns") {
    val dir = tmp()
    val e = intercept[Exception] {
      spark.range(0, 10).toDF("k")
        .write.format("graft-avro").option("trigramFor", "k")
        .mode("overwrite").save(dir)
    }
    e.getMessage should include("string")
  }
}
