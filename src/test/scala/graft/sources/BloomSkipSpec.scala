package graft.sources

import java.io.File

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Per-file bloom sidecars (`_graft_blooms`): equality/IN membership
  * pruning for HASH-SCATTERED high-cardinality keys — the case zone
  * ranges cannot touch, because every file's [min,max] spans the whole
  * domain. Pinned here: point lookups open ~1 file of 8 while zone
  * pruning alone keeps all 8; zero false negatives over every present
  * key; the runtime join-key path; manifest lifecycle across
  * overwrites; and the unsupported-type write guard.
  */
class BloomSkipSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_bloom")

  /** 8 files of ~100 HASH-SCATTERED keys each (hash partition on k):
    * every file's k-range spans nearly the whole 0..799 domain — zones
    * are useless, blooms are not — and each key lives in exactly one
    * file.
    */
  private def writeScattered(dir: String): Unit =
    spark.range(0, 800).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartition(8, F.col("k"))
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("overwrite").save(dir)

  private def scanParts(dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      runtimeIn: Seq[Long] = Nil): Int = {
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema)
    if (filters.nonEmpty) sb.pushFilters(filters.toArray)
    val scan = sb.build()
    if (runtimeIn.nonEmpty)
      scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
        new Predicate("IN", (Expressions.column("k") +:
          runtimeIn.map(v => Expressions.literal(v))).toArray[
            org.apache.spark.sql.connector.expressions.Expression])))
    ScanSplits.count(scan)
  }

  test("point lookups on scattered keys open ~1 file; zones alone keep all") {
    val dir = tmp()
    writeScattered(dir)
    AvroFileSource.listAvro(new File(dir)).size shouldBe 8
    AvroFileSource.bloomFile(new File(dir)) should exist
    import org.apache.spark.sql.sources.EqualTo
    // zone pruning alone cannot help (every file spans the domain):
    // the bloom must cut 8 -> ~1 (false positives may keep a stray)
    scanParts(dir, Seq(EqualTo("k", 42L))) should be <= 2
    scanParts(dir) shouldBe 8
    // and answers stay exact through the pruned scan
    val avro = spark.read.format("graft-avro").load(dir)
    avro.filter(F.col("k") === 42L).select("payload").head().getString(0) shouldBe
      spark.range(42, 43).select(F.md5(F.col("id").cast("string")))
        .head().getString(0)
  }

  test("zero false negatives: every present key's file survives pruning") {
    val dir = tmp()
    writeScattered(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    // every 13th key: each equality lookup must return its row
    (0L until 800L by 13).foreach { k =>
      avro.filter(F.col("k") === k).count() shouldBe 1
    }
    // absent keys prune everything (no file contains them)
    import org.apache.spark.sql.sources.{EqualTo, In}
    scanParts(dir, Seq(EqualTo("k", 100000L))) shouldBe 0
    // IN over two files' keys keeps <= 2 (+ false positives)
    scanParts(dir, Seq(In("k", Array(3L, 12L)))) should be <= 3
  }

  test("runtime join-key IN-sets prune through blooms too") {
    val dir = tmp()
    writeScattered(dir)
    scanParts(dir, runtimeIn = Seq(7L)) should be <= 2
    scanParts(dir, runtimeIn = Seq(7L, 16L)) should be <= 3
    // end-to-end: broadcast join keyed on k answers exactly
    import spark.implicits._
    val fact = spark.read.format("graft-avro").load(dir)
    val dim = Seq(7L, 16L, 399L).toDF("j")
    fact.join(F.broadcast(dim), fact("k") === dim("j"))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(7L, 16L, 399L)
  }

  test("decimal keys bloom-prune; canonical identity survives scale drift (r20)") {
    val dir = tmp()
    // price = k * 1.25 at DECIMAL(12,2): exact 2-decimal values,
    // hash-scattered so zones are useless and only the bloom can prune
    spark.range(0, 800).toDF("k")
      .withColumn("price", F.expr("CAST(k * 1.25 AS DECIMAL(12,2))"))
      .repartition(8, F.col("price"))
      .write.format("graft-avro").option("bloomFor", "price")
      .mode("overwrite").save(dir)
    import org.apache.spark.sql.sources.{EqualTo, In}
    def parts(f: org.apache.spark.sql.sources.Filter): Int = {
      val schema = spark.read.format("graft-avro").load(dir).schema
      val sb = new AvroScanBuilder(dir, schema)
      sb.pushFilters(Array(f))
      ScanSplits.count(sb.build())
    }
    // writer scale 2 vs probe literals at scales 1, 2 and 0: all three
    // spellings of the same numeric value hit the same canonical hash
    parts(EqualTo("price", new java.math.BigDecimal("52.50"))) should be <= 2
    parts(EqualTo("price", new java.math.BigDecimal("52.5"))) should be <= 2
    parts(EqualTo("price", new java.math.BigDecimal("400"))) should be <= 2
    parts(In("price", Array(new java.math.BigDecimal("3.75"),
      new java.math.BigDecimal("15.00")))) should be <= 3
    // absent value prunes everything; zero false negatives end-to-end
    parts(EqualTo("price", new java.math.BigDecimal("52.51"))) shouldBe 0
    val avro = spark.read.format("graft-avro").load(dir)
    (0L until 800L by 37).foreach { k =>
      avro.filter(F.col("price") ===
        new java.math.BigDecimal(k * 125).movePointLeft(2))
        .count() shouldBe 1
    }
  }

  test("timestamp keys bloom-prune: epoch-micros canonical identity (r20)") {
    val dir = tmp()
    // ts = epoch + k minutes, hash-scattered: only the bloom can prune
    spark.range(0, 800).toDF("k")
      .withColumn("ts", F.expr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,k,0)"))
      .repartition(8, F.col("ts"))
      .write.format("graft-avro").option("bloomFor", "ts")
      .mode("overwrite").save(dir)
    import org.apache.spark.sql.sources.EqualTo
    def parts(f: org.apache.spark.sql.sources.Filter): Int = {
      val schema = spark.read.format("graft-avro").load(dir).schema
      val sb = new AvroScanBuilder(dir, schema)
      sb.pushFilters(Array(f))
      ScanSplits.count(sb.build())
    }
    val probe = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:42:00Z"))
    parts(EqualTo("ts", probe)) should be <= 2
    // absent instant prunes everything
    parts(EqualTo("ts", java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:42:01Z")))) shouldBe 0
    // no false negatives end-to-end
    val avro = spark.read.format("graft-avro").load(dir)
    (0L until 800L by 97).foreach { k =>
      avro.filter(F.col("ts") === java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(k * 60))).count() shouldBe 1
    }
  }

  test("manifest lifecycle: overwrites replace entries, plain appends leave gaps") {
    val dir = tmp()
    writeScattered(dir)
    // an append WITHOUT bloomFor adds uncovered files: pruning still
    // sound (absent entries always scan), lookups into the new file work
    spark.range(10000, 10005).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    avro.filter(F.col("k") === 10002L).count() shouldBe 1
    avro.filter(F.col("k") === 42L).count() shouldBe 1
    // overwrite rewrites the manifest for the fresh file set only
    spark.range(0, 10).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("overwrite").save(dir)
    val raw = AvroFileSource.readBloomsRaw(
      AvroFileSource.bloomFile(new File(dir)))
    raw.keySet.size shouldBe 1 // only the new generation's file
    spark.read.format("graft-avro").load(dir).count() shouldBe 10
  }

  test("bloomFor rejects unsupported column types") {
    val dir = tmp()
    intercept[IllegalArgumentException] {
      spark.range(3).toDF("k").withColumn("d", F.col("k").cast("double"))
        .write.format("graft-avro").option("bloomFor", "d")
        .mode("overwrite").save(dir)
    }.getMessage should include("does not support")
    intercept[IllegalArgumentException] {
      spark.range(3).toDF("k")
        .write.format("graft-avro").option("bloomFor", "nope")
        .mode("overwrite").save(dir)
    }.getMessage should include("not in schema")
  }
}
