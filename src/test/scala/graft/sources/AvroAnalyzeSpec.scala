package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** ANALYZE backfill (AvroMaintenance.analyze / CALL system.analyze):
  * one distributed pass rebuilds the pruning/statistics manifests for
  * existing data through the SAME per-file builders the write path
  * uses — zone pruning, metadata aggregates, and opt-in bloom/NDV
  * skipping light up on tables that predate the stats writers, without
  * rewriting a byte.
  */
class AvroAnalyzeSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_analyze")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def dropStats(dir: String): Unit = {
    val d = new java.io.File(dir)
    AvroFileSource.colZoneFile(d).delete()
    AvroFileSource.rowsFile(d).delete()
    AvroFileSource.bloomFile(d).delete()
    AvroFileSource.ndvFile(d).delete()
  }

  test("backfilled manifests serve metadata aggregates exactly") {
    val dir = tmp()
    spark.range(1000).selectExpr("id as k", "id * 2 as v")
      .write.format("graft-avro").mode("overwrite").save(dir)
    dropStats(dir) // simulate a pre-stats legacy table
    def agg = spark.read.format("graft-avro").load(dir)
      .agg(F.sum("v").as("s"), F.min("k").as("mn"),
        F.max("k").as("mx"), F.count(F.lit(1)).as("n"))
    (plan(agg) should not).include("PushedAggregation")
    AvroMaintenance.analyze(spark, dir) shouldBe
      AvroFileSource.listLive(new java.io.File(dir)).size
    plan(agg) should include("PushedAggregation")
    val r = agg.collect().head
    r.getLong(0) shouldBe (0L until 1000L).map(_ * 2).sum
    r.getLong(1) shouldBe 0L
    r.getLong(2) shouldBe 999L
    r.getLong(3) shouldBe 1000L
  }

  test("backfilled zones restore zone-decided filter pushdown") {
    val dir = tmp()
    spark.range(500).selectExpr("id as k")
      .write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(500, 800).selectExpr("id as k")
      .write.format("graft-avro").mode("append").save(dir)
    dropStats(dir)
    def q = spark.read.format("graft-avro").load(dir).filter("k >= 500")
    plan(q) should include("Filter") // undecidable: residual
    AvroMaintenance.analyze(spark, dir)
    val decided = q
    plan(decided) should not include "Filter ("
    decided.count() shouldBe 300L
  }

  test("backfilled blooms prune scattered point lookups") {
    val dir = tmp()
    // hash-scattered keys: every file spans the domain, zones can't
    // prune, membership can
    spark.range(4000).selectExpr("id as k")
      .repartition(8, F.col("k"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    dropStats(dir)
    AvroMaintenance.analyze(spark, dir, bloomFor = Seq("k"))
    AvroFileSource.bloomFile(new java.io.File(dir)).isFile shouldBe true
    val nFiles = AvroFileSource.listLive(new java.io.File(dir)).size
    val q = spark.read.format("graft-avro").load(dir).filter("k = 1234")
    ScanSplits.count(q) should be < nFiles
    q.collect().map(_.getLong(0)).toSeq shouldBe Seq(1234L)
  }

  test("analyze is delete-agnostic: physical counts, read guards govern") {
    val dir = tmp()
    spark.range(100).selectExpr("id as k", "cast(id as string) as s")
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(7L))
    dropStats(dir)
    AvroMaintenance.analyze(spark, dir)
    // the delete sidecar still stands metadata aggregates down...
    val agg = spark.read.format("graft-avro").load(dir)
      .agg(F.count(F.lit(1)).as("n"))
    (plan(agg) should not).include("PushedAggregation")
    // ...and the real scan is exact
    agg.collect().head.getLong(0) shouldBe 99L
  }

  test("CALL system.analyze backfills a catalog table") {
    spark.conf.set("spark.sql.catalog.ganl",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ganl.root", tmp())
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ganl.ns")
    spark.sql("DROP TABLE IF EXISTS ganl.ns.t")
    spark.sql("CREATE TABLE ganl.ns.t (k BIGINT NOT NULL, v BIGINT)")
    spark.sql("INSERT INTO ganl.ns.t SELECT id, id * 5 FROM range(200)")
    val dir = spark.sql("CALL ganl.system.analyze('ns.t', '', '', '')")
    dir.collect().head.getLong(0) should be >= 1L
    val agg = spark.sql("SELECT sum(v), max(k) FROM ganl.ns.t")
    agg.queryExecution.executedPlan.toString should
      include("PushedAggregation")
    val r = agg.collect().head
    r.getLong(0) shouldBe (0L until 200L).map(_ * 5).sum
    r.getLong(1) shouldBe 199L
  }
}
