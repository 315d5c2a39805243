package graft.sources

import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** `cnt:` cells — per-file (non-null count, row total) per leaf, riding
  * the all-column manifest. What they buy: IS [NOT] NULL file pruning
  * and tri-state decisions, zone-decision eligibility for NULLABLE
  * columns (a file proven null-free upgrades its bounds from "all
  * values" to "all rows"), and metadata-served COUNT(col) for every
  * leaf type (strings included). Soundness: absence of a cell = scan;
  * equality deletes only shrink a file's rows, so "zero nulls" stays
  * true under merge-on-read.
  */
class NullCellsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_nullcells")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Three files: A (k 0..9, no nulls), B (10 all-null k), C (mixed). */
  private def writeThree(dir: String): Unit = {
    spark.range(0, 10).selectExpr("id AS k", "concat('a', id) AS s")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(0, 10)
      .selectExpr("CAST(null AS BIGINT) AS k", "concat('b', id) AS s")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    spark.range(20, 30)
      .selectExpr("if(id % 2 = 0, id, null) AS k", "concat('c', id) AS s")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
  }

  private def scanParts(dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Int = {
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema)
    sb.pushFilters(filters.toArray)
    ScanSplits.count(sb.build())
  }

  test("IS NULL / IS NOT NULL prune on per-file null counts") {
    val dir = tmp()
    writeThree(dir)
    import org.apache.spark.sql.sources.{IsNotNull, IsNull}
    scanParts(dir, Nil) shouldBe 3
    scanParts(dir, Seq(IsNull("k"))) shouldBe 2 // B + C
    scanParts(dir, Seq(IsNotNull("k"))) shouldBe 2 // A + C
    scanParts(dir, Seq(IsNull("s"))) shouldBe 0 // no file has null s
    // answers stay exact through the pruned read
    val t = spark.read.format("graft-avro").load(dir)
    t.filter(F.col("k").isNull).count() shouldBe 15
    t.filter(F.col("k").isNotNull).count() shouldBe 15
  }

  test("nullable columns become zone-decidable when a file is null-free") {
    val dir = tmp()
    // two null-free files with disjoint k ranges, nullable schema
    // (range + selectExpr yields nullable columns through if())
    spark.range(0, 100).selectExpr("if(id >= 0, id, null) AS k")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(1000, 1100).selectExpr("if(id >= 0, id, null) AS k")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    schema("k").nullable shouldBe true
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val sb = new AvroScanBuilder(dir, schema)
    // every file decides (one all-match, one none-match): the filter
    // comes back NON-residual even though the column is nullable
    val residual = sb.pushFilters(Array(GreaterThanOrEqual("k", 1000L)))
    residual shouldBe empty
    ScanSplits.count(sb.build()) shouldBe 1
    // zero-decode filtered COUNT composes
    val df = spark.read.format("graft-avro").load(dir)
      .filter(F.col("k") >= 1000L).agg(F.count(F.lit(1)))
    plan(df) should include("PushedAggregation")
    df.head().getLong(0) shouldBe 100L
  }

  test("IS NULL is a DECIDED filter: zero-decode count under it") {
    val dir = tmp()
    // only fully-decidable files (a MIXED file is undecidable for
    // IS NULL and correctly forces the residual path — first test)
    spark.range(0, 10).selectExpr("id AS k", "concat('a', id) AS s")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(0, 12)
      .selectExpr("CAST(null AS BIGINT) AS k", "concat('b', id) AS s")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val t = spark.read.format("graft-avro").load(dir)
    val df = t.filter(F.col("k").isNull).agg(F.count(F.lit(1)).as("n"))
    plan(df) should include("PushedAggregation")
    df.head().getLong(0) shouldBe 12L
    val df2 = t.filter(F.col("k").isNotNull).agg(F.count(F.lit(1)).as("n"))
    plan(df2) should include("PushedAggregation")
    df2.head().getLong(0) shouldBe 10L
  }

  test("metadata COUNT(col) serves string columns") {
    val dir = tmp()
    spark.range(0, 500)
      .selectExpr("id AS k", "if(id % 5 = 0, null, concat('x', id)) AS s")
      .write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(500, 800)
      .selectExpr("id AS k", "concat('y', id) AS s")
      .write.format("graft-avro").mode("append").save(dir)
    val df = spark.read.format("graft-avro").load(dir)
      .agg(F.count("s").as("c"), F.count(F.lit(1)).as("n"))
    plan(df) should include("PushedAggregation")
    df.head() match { case r =>
      r.getLong(0) shouldBe 400L + 300L
      r.getLong(1) shouldBe 800L
    }
  }

  test("float/double IS [NOT] NULL decides — null counting is " +
      "finiteness-independent") {
    val dir = tmp()
    // file A: doubles, no nulls, includes NaN/Infinity (the value
    // bounds go DEAD on non-finite, but the cnt: cell is exact)
    spark.range(0, 10)
      .selectExpr("id AS k",
        "if(id = 3, double('NaN'), if(id = 5, double('Infinity'), " +
          "CAST(id AS DOUBLE))) AS x")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(dir)
    // file B: all-null doubles
    spark.range(10, 22)
      .selectExpr("id AS k", "CAST(null AS DOUBLE) AS x")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    import org.apache.spark.sql.sources.{IsNotNull, IsNull}
    scanParts(dir, Seq(IsNull("x"))) shouldBe 1 // B only
    scanParts(dir, Seq(IsNotNull("x"))) shouldBe 1 // A only
    val t = spark.read.format("graft-avro").load(dir)
    // the filters DECIDE (all-or-nothing per file) ⇒ zero-decode count
    val df = t.filter(F.col("x").isNull).agg(F.count(F.lit(1)).as("n"))
    plan(df) should include("PushedAggregation")
    df.head().getLong(0) shouldBe 12L
    val df2 = t.filter(F.col("x").isNotNull).agg(F.count(F.lit(1)).as("n"))
    plan(df2) should include("PushedAggregation")
    df2.head().getLong(0) shouldBe 10L
    // value answers stay exact through the pruned reads (NaN included)
    t.filter(F.col("x").isNotNull).select(F.sum(F.col("k")))
      .head().getLong(0) shouldBe (0L until 10L).sum
  }

  test("soundness: files without cells are always kept") {
    val dir = tmp()
    writeThree(dir)
    // a streaming-epoch-style unstaged file carries no stats: simulate
    // by deleting the manifest — every IS NULL query must still scan
    AvroFileSource.colZoneFile(new java.io.File(dir)).delete()
    import org.apache.spark.sql.sources.IsNull
    scanParts(dir, Seq(IsNull("k"))) shouldBe 3
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("k").isNull).count() shouldBe 15
  }
}
