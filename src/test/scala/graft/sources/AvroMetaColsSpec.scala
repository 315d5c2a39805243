package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Hidden metadata columns `_graft_file` / `_graft_pos`
  * (SupportsMetadataColumns): invisible to `SELECT *`, requestable by
  * name, exact coordinates for positional deletes — and requesting
  * `_graft_pos` forces whole-file reads so ordinals stay absolute.
  */
class AvroMetaColsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_metacols")

  test("hidden by default, exact when requested, closed loop with deletes") {
    val dir = tmp()
    spark.range(50).selectExpr("id as k", "id * 7 as v").coalesce(1)
      .sortWithinPartitions("k")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    back.schema.fieldNames.toSeq shouldBe Seq("k", "v") // hidden

    val withMeta = back.select(F.col("k"),
      F.col("_graft_file"), F.col("_graft_pos"))
    // single sorted file: ordinal == k
    withMeta.filter(F.col("_graft_pos") =!= F.col("k")).count() shouldBe 0
    val rel = withMeta.select("_graft_file").head().getString(0)
    rel should endWith(".avro")
    rel should not startWith "/"

    // the closed loop: find bad rows' coordinates, delete them by position
    val bad = withMeta.filter(F.col("k") % 10 === 3)
      .select("_graft_file", "_graft_pos").collect()
    bad.groupBy(_.getString(0)).foreach { case (f, rows) =>
      AvroMaintenance.deleteAtPositions(dir, f, rows.map(_.getLong(1)))
    }
    spark.read.format("graft-avro").load(dir).count() shouldBe 45
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("k") % 10 === 3).count() shouldBe 0
  }

  test("partitioned files report dir-qualified relative paths") {
    val dir = tmp()
    spark.range(40).selectExpr("id as k", "concat('p', id % 2) as part")
      .coalesce(1)
      .write.format("graft-avro").option("partitionBy", "part")
      .mode("overwrite").save(dir)
    val files = spark.read.format("graft-avro").load(dir)
      .select("_graft_file").distinct().collect().map(_.getString(0))
    files.length shouldBe 2
    files.map(_.split('/').head).sorted.toSeq shouldBe Seq("part=p0", "part=p1")
  }

  test("_graft_pos stays absolute across byte-range splits") {
    val dir = tmp()
    spark.range(20000)
      .selectExpr("id as k", "repeat('x', 200) as pad").coalesce(1)
      .write.format("graft-avro").option("codec", "null")
      .mode("overwrite").save(dir)
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      ScanSplits.count(df)
    def load() = spark.read.format("graft-avro")
      .option("maxSplitBytes", "262144").load(dir)
    parts(load().select("k")) should be > 1
    // projecting the ordinal no longer pins one task per file: each
    // split seeds its counter from the block-header prefix walk
    parts(load().select("k", "_graft_pos")) should be > 1
    // and the ordinals really are absolute, split or not
    load().select(F.col("k"), F.col("_graft_pos"))
      .filter(F.col("k") =!= F.col("_graft_pos")).count() shouldBe 0
  }
}
