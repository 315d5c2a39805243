package graft.sources

import java.io.File

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Composition contract of `writeStream.toTable` (r17): a catalog table
  * whose DDL declares HIDDEN partitioning — `days(ts)` temporal
  * transform plus `bucket(4, id)` — must route STREAMING epochs into
  * the same `ts_day=<epochDay>/id_bucket=<b>` segments as batch
  * INSERTs, merge the transform/bucket specs per epoch, fold the stat
  * manifests (r17: streamed files carry col-zones + rows), and prune
  * raw-column range predicates on the streamed data exactly like a
  * batch-written table.
  */
class StreamToTableSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    ScanSplits.count(df)

  test("streaming epochs route through days(ts) + bucket(id) hidden " +
      "partitioning and prune like batch writes") {
    val root = graft.operators.Catalog.tempDir("graft_stt_cat")
    val src = graft.operators.Catalog.tempDir("graft_stt_src")
    val ckpt = graft.operators.Catalog.tempDir("graft_stt_ckpt")
    spark.conf.set("spark.sql.catalog.graft_stt",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_stt.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_stt.ns")
    spark.sql("DROP TABLE IF EXISTS graft_stt.ns.ev")
    spark.sql("""CREATE TABLE graft_stt.ns.ev
                |  (id BIGINT, ts TIMESTAMP, v BIGINT)
                |  PARTITIONED BY (days(ts), bucket(4, id))""".stripMargin)
    // 8 distinct days x interleaved ids
    val fed = spark.range(0, 400).toDF("id")
      .select(F.col("id"),
        F.timestamp_seconds(F.lit(86400L * 19000) + F.col("id") % 8 * 86400L
          + F.col("id")).as("ts"),
        (F.col("id") * 3).as("v"))
    fed.coalesce(1).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(fed.schema).parquet(src)
      .coalesce(1)
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("graft_stt.ns.ev")
    try q.processAllAvailable() finally q.stop()

    val tdir = new File(new File(root, "ns"), "ev")
    // hidden segments on disk: ts_day=<epochDay>/id_bucket=<b>
    val files = AvroFileSource.listAvro(tdir)
    files should not be empty
    val base = tdir.getAbsoluteFile.toPath
    val rels = files.map(f =>
      base.relativize(f.getAbsoluteFile.toPath).toString)
    all(rels) should include("ts_day=")
    all(rels) should include("id_bucket=")
    rels.flatMap(_.split('/').find(_.startsWith("ts_day=")))
      .distinct.size shouldBe 8
    rels.flatMap(_.split('/').find(_.startsWith("id_bucket=")))
      .distinct.size shouldBe 4
    // specs merged on the streaming epoch like a batch append
    AvroTransforms.read(tdir).map(_.render) shouldBe Seq("ts:day")
    AvroFileSource.readBucketSpec(tdir).map(t => (t._1, t._2)) shouldBe
      Seq(("id", 4))
    // r17: streamed files carry stat manifests (rows at minimum)
    new File(tdir, "_graft_rows").isFile shouldBe true

    // raw-column day-range predicate prunes streamed files through the
    // transform's monotonicity; a bucket point-lookup prunes too
    val t = spark.read.format("graft-avro").load(tdir.getPath)
    val total = scanPartitions(t)
    // bound = start of the 5th of the 8 written days (epoch-seconds
    // literal: timezone-proof)
    val dayParts = scanPartitions(
      t.filter(F.col("ts") >= F.timestamp_seconds(F.lit(86400L * 19004))))
    dayParts should be < total
    val idParts = scanPartitions(t.filter(F.col("id") === 7L))
    idParts should be < total
    // streamed content round-trips exactly
    t.agg(F.count(F.lit(1)), F.sum("v")).head().toSeq shouldBe
      Seq(400L, (0L until 400L).map(_ * 3).sum)
    // a batch INSERT agrees with the streamed layout (same segments)
    spark.sql("INSERT INTO graft_stt.ns.ev VALUES " +
      "(1000, TIMESTAMP '2022-01-05 12:00:00', 5)")
    spark.read.format("graft-avro").load(tdir.getPath).count() shouldBe 401L
  }
}
