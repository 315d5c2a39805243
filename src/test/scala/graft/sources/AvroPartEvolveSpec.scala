package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** PARTITION EVOLUTION: appends may use a different `partitionBy` than the
  * data already in the table (including none). Files self-describe — the
  * full schema is written into every data file and the hive segments are
  * routing metadata — so a mixed-spec directory stays fully readable, and
  * each file is pruned against the values its OWN path carries: old-spec
  * filters prune old-spec dirs while keeping every new-spec file, and
  * vice versa. SPJ key reporting declines (UnknownPartitioning) the
  * moment any file lacks a key column — grouping by a key some files
  * don't carry would be wrong, not just slow.
  */
class AvroPartEvolveSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_pevolve")

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    ScanSplits.count(df)

  /** 200 rows, two generations: gen 0 partitioned by pa, gen 1 by pb. */
  private def writeEvolved(dir: String): Unit = {
    val df = spark.range(200).selectExpr("id",
      "concat('p', id % 2) as pa", "concat('q', (id div 2) % 2) as pb")
    df.filter("id < 100").coalesce(1)
      .write.format("graft-avro").option("partitionBy", "pa")
      .mode("overwrite").save(dir)
    df.filter("id >= 100").coalesce(1)
      .write.format("graft-avro").option("partitionBy", "pb")
      .mode("append").save(dir)
  }

  test("mixed-spec table reads fully; each spec prunes its own files") {
    val dir = tmp()
    writeEvolved(dir)
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 200
    // 2 pa-dirs + 2 pb-dirs, one file each
    scanPartitions(back) shouldBe 4
    // old-spec filter: prunes to 1 old file, keeps BOTH new files
    scanPartitions(back.filter(F.col("pa") === "p0")) shouldBe 3
    // new-spec filter: prunes to 1 new file, keeps BOTH old files
    scanPartitions(back.filter(F.col("pb") === "q1")) shouldBe 3
    // and values are exact either way (hive segment ≡ in-file column)
    back.filter(F.col("pa") === "p0").count() shouldBe 100
    back.filter(F.col("pb") === "q1").agg(F.sum("id")).head().getLong(0) shouldBe
      (0L until 200L).filter(i => (i / 2) % 2 == 1).sum
  }

  test("evolving to unpartitioned: root files coexist and stay readable") {
    val dir = tmp()
    writeEvolved(dir)
    spark.range(200, 250).selectExpr("id", "'px' as pa", "'qx' as pb")
      .coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 250
    // the flat file carries no pa SEGMENT — but the all-column zone
    // manifest records its in-file pa range [px, px], so the pa filter
    // still skips it: directory pruning and zone pruning compose across
    // specs (1 pa=p0 dir file + both pb files; flat file zone-pruned)
    scanPartitions(back.filter(F.col("pa") === "p0")) shouldBe 3
    back.filter(F.col("pa") === "px").count() shouldBe 50
  }

  test("files metadata table reports both specs with exact counts") {
    val dir = tmp()
    writeEvolved(dir)
    val ft = AvroMaintenance.filesTable(spark, dir).collect()
    ft.length shouldBe 4
    ft.map(_.getAs[String]("rel")).distinct.length shouldBe 4
    ft.map(_.getAs[String]("part")).sorted shouldBe
      Array("pa=p0", "pa=p1", "pb=q0", "pb=q1")
    ft.map(_.getAs[Long]("n_records")).sum shouldBe 200L
    all(ft.map(_.getAs[Long]("bytes"))) should be > 0L
  }

  test("SPJ key reporting declines on a mixed layout") {
    val dir = tmp()
    writeEvolved(dir)
    val scan = spark.read.format("graft-avro")
      .option("preservePartitioning", "true").load(dir)
    // grouped execution would be WRONG (pb files carry no pa key) — the
    // scan must fall back to one task per file, and still read everything
    scanPartitions(scan) shouldBe 4
    scan.count() shouldBe 200
  }
}
