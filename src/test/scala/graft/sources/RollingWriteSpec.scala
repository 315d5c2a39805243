package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Rolling writer (`targetFileBytes` option / `graft.targetFileBytes`
  * property): staged batch writes roll to a fresh container file once
  * the on-disk size crosses the target, so one huge task can never pin
  * one huge file. Every rolled file is a first-class file: own zone
  * bounds + sum cells + row count (metadata aggregates still serve),
  * own sort verification (the sorted claim survives), full round-trip.
  */
class RollingWriteSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_roll")

  test("one task rolls into several bounded files, data exact") {
    val dir = tmp()
    spark.range(400000)
      .selectExpr("id as k", "repeat(cast(id as string), 4) as s")
      .coalesce(1)
      .write.format("graft-avro")
      .option("targetFileBytes", (256 * 1024).toString)
      .option("codec", "null")
      .mode("overwrite").save(dir)
    val files = AvroFileSource.listAvro(new java.io.File(dir))
    files.size should be > 3
    // bounded: target + one container block of slack (the roll check
    // observes flushed bytes only)
    files.foreach(f => f.length() should be < (512L * 1024))
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 400000L
    back.agg(F.sum("k")).head().getLong(0) shouldBe
      (0L until 400000L).sum
    // every rolled file carries manifest entries: the metadata
    // aggregate still serves with zero decode
    val agg = spark.read.format("graft-avro").load(dir)
      .agg(F.sum("k").as("s"), F.min("k"), F.max("k"))
    agg.queryExecution.executedPlan.toString should
      include("PushedAggregation")
  }

  test("rolling preserves the verified sorted claim and zone pruning") {
    val dir = tmp()
    spark.range(300000).selectExpr("id as k")
      .orderBy("k").coalesce(1)
      .write.format("graft-avro")
      .option("sortedBy", "k")
      .option("targetFileBytes", (128 * 1024).toString)
      .option("codec", "null")
      .mode("overwrite").save(dir)
    val d = new java.io.File(dir)
    AvroFileSource.listAvro(d).size should be > 2
    AvroFileSource.sortedColumnOf(d) shouldBe Some("k")
    // disjoint per-file zones: a point predicate plans few partitions
    val q = spark.read.format("graft-avro").load(dir).filter("k = 250000")
    ScanSplits.count(q) shouldBe 1
    q.collect().map(_.getLong(0)).toSeq shouldBe Seq(250000L)
  }

  test("partitioned rolling: per-dir bounded files, values routed") {
    val dir = tmp()
    spark.range(200000)
      .selectExpr("id as k", "cast(id % 2 as string) as p",
        "repeat('x', 20) as pad")
      .coalesce(1)
      .write.format("graft-avro")
      .option("partitionBy", "p")
      .option("targetFileBytes", (128 * 1024).toString)
      .option("codec", "null")
      .mode("overwrite").save(dir)
    val byPart = AvroFileSource.listPartitioned(new java.io.File(dir))
      .groupBy(_._2.get("p"))
    byPart.keySet shouldBe Set(Some("0"), Some("1"))
    byPart.values.foreach(_.size should be > 1)
    spark.read.format("graft-avro").load(dir)
      .groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("0" -> 100000L, "1" -> 100000L)
  }

  test("streaming rolls deterministically; a replayed epoch rewrites the same files") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp()
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("s", StringType)))
    def attempt(): Seq[String] = {
      val w = AvroStreamingWriterFactory(dir, schema, codec = "null",
        targetFileBytes = Some(64L * 1024)).createWriter(0, 0L, 7L)
      (0L until 60000L).foreach { i =>
        w.write(InternalRow(i, UTF8String.fromString("x" * 16)))
      }
      w.commit()
      AvroFileSource.listAvro(new java.io.File(dir)).map(_.getName).sorted
    }
    val first = attempt()
    first.size should be > 2
    first.foreach(_ should startWith("part-e000007-00000"))
    val sizes = AvroFileSource.listAvro(new java.io.File(dir))
      .map(f => f.getName -> f.length()).toMap
    // replay of the SAME epoch (task retry): identical names, identical
    // bytes — truncate-rewrites, never a duplicate segment
    attempt() shouldBe first
    AvroFileSource.listAvro(new java.io.File(dir))
      .map(f => f.getName -> f.length()).toMap shouldBe sizes
    spark.read.format("graft-avro").load(dir).count() shouldBe 60000L
  }

  test("a writeStream honors targetFileBytes: file count tracks bytes") {
    val src = tmp(); val out = tmp(); val ckpt = tmp()
    val data = spark.range(150000)
      .selectExpr("id as k", "repeat('y', 24) as pad")
    data.coalesce(1).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(data.schema).parquet(src)
      .coalesce(1) // one task: rolling is the only way to many files
      .writeStream.format("graft-avro")
      .option("checkpointLocation", ckpt)
      .option("targetFileBytes", (128 * 1024).toString)
      .option("codec", "null")
      .outputMode("append").start(out)
    try q.processAllAvailable() finally q.stop()
    val files = AvroFileSource.listAvro(new java.io.File(out))
    files.size should be > 2
    files.foreach(f => f.length() should be < (512L * 1024))
    spark.read.format("graft-avro").load(out).count() shouldBe 150000L
  }

  test("epoch commit sweeps a failed attempt's stale same-epoch segments") {
    // exactly-once hazard: a crashed/retried task attempt can leave a
    // higher-seq rolled file the committed attempt never reproduced
    // (abort() cleanup is skipped on executor death). The epoch commit
    // must delete every part-e<epoch>-* file not named in a task commit
    // message BEFORE appendSnapshot journals it as live data.
    val src = tmp(); val out = tmp(); val ckpt = tmp()
    val data = spark.range(500).selectExpr("id as k", "'a' as pad")
    data.coalesce(1).write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val q = spark.readStream.schema(data.schema).parquet(src)
        .coalesce(1)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", ckpt)
        .option("codec", "null")
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
    }
    run() // epoch 0 commits normally
    val outDir = new java.io.File(out)
    val epoch0 = AvroFileSource.listAvro(outDir)
    epoch0 should not be empty
    // forge a stale file a dead epoch-1 attempt "left behind": real
    // avro bytes (a copy of an epoch-0 file) under an epoch-1 rolled name
    val stale = new java.io.File(outDir, "part-e000001-00000-r7.avro")
    java.nio.file.Files.copy(epoch0.head.toPath, stale.toPath)
    // feed epoch 1 and resume: its commit must sweep the straggler
    spark.range(500, 900).selectExpr("id as k", "'b' as pad")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    stale.exists() shouldBe false
    spark.read.format("graft-avro").load(out).count() shouldBe 900L
    spark.read.format("graft-avro").load(out)
      .agg(F.sum("k")).head().getLong(0) shouldBe (0L until 900L).sum
  }

  test("the table property drives SQL INSERT rolling") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.groll",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.groll.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS groll.ns")
    spark.sql("DROP TABLE IF EXISTS groll.ns.t")
    spark.sql("CREATE TABLE groll.ns.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.targetFileBytes' = '131072', " +
      "'graft.codec' = 'null')")
    spark.sql("INSERT INTO groll.ns.t " +
      "SELECT id, repeat(cast(id as string), 6) FROM range(200000)")
    val d = new java.io.File(root, "ns/t")
    AvroFileSource.listAvro(d).size should be >
      spark.sparkContext.defaultParallelism / 8 // rolled beyond 1/task
    spark.sql("SELECT count(*) FROM groll.ns.t").head().getLong(0) shouldBe
      200000L
  }
}
