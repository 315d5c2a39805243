package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Specs for the graft-avro DataSource V2 source/sink. */
class AvroFileSourceSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_avro_src")

  test("round-trips the documents table through avro container files") {
    val dir = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(3).write.format("graft-avro").mode("append").save(dir)

    val back = spark.read.format("graft-avro").load(dir)
    back.schema.fieldNames.sorted shouldBe docs.schema.fieldNames.sorted
    back.count() shouldBe docs.count()
    // value-exact: compare the md5 of every row's concatenated fields
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(F.md5(F.concat_ws("|",
        F.col("doc_id"), F.col("text"), F.col("lang"),
        F.col("source"), F.col("n_chars"))).as("h"))
      .agg(F.sum(F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long")))
      .head().getLong(0)
    sig(back) shouldBe sig(docs)
  }

  test("one input partition per container file") {
    val dir = tmp()
    spark.range(100).selectExpr("id", "cast(id as string) as s")
      .repartition(4).write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    ScanSplits.count(back) shouldBe 4
    back.count() shouldBe 100
  }

  test("column pruning reaches the scan (pruned read schema)") {
    val dir = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.format("graft-avro").mode("append").save(dir)
    val pruned = spark.read.format("graft-avro").load(dir)
      .select("doc_id", "lang")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    scans should not be empty
    scans.head.output.map(_.name).toSet shouldBe Set("doc_id", "lang")
    pruned.count() shouldBe 500
    pruned.agg(F.sum("doc_id")).head().getLong(0) shouldBe (0L until 500L).sum
  }

  test("nested structs and arrays survive the avro round trip") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, ("alice", 10.5), Seq("a", "b")),
      (2L, ("bob", -3.0), Seq.empty[String]))
      .toDF("id", "info", "tags")
    df.write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
      .orderBy("id").collect()
    back.length shouldBe 2
    back.head.getStruct(1).getString(0) shouldBe "alice"
    back.head.getSeq[String](2) shouldBe Seq("a", "b")
    back(1).getStruct(1).getDouble(1) shouldBe -3.0
  }

  test("overwrite mode truncates previous files; append adds") {
    val dir = tmp()
    spark.range(10).write.format("graft-avro").mode("append").save(dir)
    spark.range(5).write.format("graft-avro").mode("overwrite").save(dir)
    spark.read.format("graft-avro").load(dir).count() shouldBe 5
    spark.range(7).write.format("graft-avro").mode("append").save(dir)
    spark.read.format("graft-avro").load(dir).count() shouldBe 12
  }

  test("streams a growing avro directory incrementally (micro-batch read)") {
    val dir = tmp()
    spark.range(3).selectExpr("id").write.format("graft-avro")
      .mode("append").save(dir)
    val stream = spark.readStream.format("graft-avro")
      .schema(spark.read.format("graft-avro").load(dir).schema)
      .load(dir)
    stream.isStreaming shouldBe true
    val q = stream.writeStream.format("memory").queryName("avro_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("avro_stream").count() shouldBe 3
      // new container files arrive; the next micro-batch picks up ONLY them
      spark.range(10, 15).selectExpr("id").write.format("graft-avro")
        .mode("append").save(dir)
      q.processAllAvailable()
      val ids = spark.table("avro_stream")
        .collect().map(_.getLong(0)).sorted
      ids.toSeq shouldBe Seq(0L, 1L, 2L, 10L, 11L, 12L, 13L, 14L)
    } finally q.stop()
  }

  test("filter pushdown skips rows at decode time, same results as parquet") {
    val dir = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.format("graft-avro").mode("append").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)

    // conjunction + disjunction + string predicate over three columns
    val pred = (F.col("lang") === "en" || F.col("n_chars") > 3000) &&
      F.col("source").startsWith("w")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.filter(pred).select("doc_id").collect().map(_.get(0).toString).sorted
    ids(avro) shouldBe ids(docs)

    // the pushed set is visible in the scan description
    val planned = avro.filter(F.col("n_chars") > 3000 && F.col("lang") === "en")
    val scan = planned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    scan.scan.description() should include("PushedFilters: [")
    scan.scan.description() should include("n_chars")
  }

  test("nested struct filters push down with null-safe navigation") {
    val dir = tmp()
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row("a", 10L)),
      org.apache.spark.sql.Row(2L, null),
      org.apache.spark.sql.Row(3L, org.apache.spark.sql.Row("b", 30L)))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("info", StructType(Seq(
        StructField("name", StringType), StructField("x", LongType))),
        nullable = true)))
    spark.createDataFrame(rows, schema)
      .write.format("graft-avro").mode("append").save(dir)
    val avro = spark.read.format("graft-avro").schema(schema).load(dir)

    val hit = avro.filter(F.col("info.x") > 15)
    val scan = hit.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    scan.scan.description() should include("info.x")
    hit.select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    // null parent: IsNull(info.name) is TRUE for the null struct row
    avro.filter(F.col("info.name").isNull)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L)
  }

  test("Not filters are rejected from pushdown but still answered correctly") {
    val dir = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.format("graft-avro").mode("append").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    val noten = avro.filter(!(F.col("lang") === "en"))
    val scan = noten.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    // Not would break may-match soundness: must NOT appear pushed
    scan.scan.description() should not include "Not("
    val expected = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(!(F.col("lang") === "en")).count()
    noten.count() shouldBe expected
  }

  test("streaming restart resumes exactly-once from the journaled registry") {
    val dir = tmp(); val ckpt = tmp(); val out = tmp()
    spark.range(3).selectExpr("id").write.format("graft-avro")
      .mode("append").save(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    def start() = spark.readStream.format("graft-avro").schema(schema)
      .load(dir).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // files arrive while the stream is DOWN, with names sorting BEFORE the
    // committed prefix (the writer-name interleaving hazard): a sorted-
    // listing rebuild would count them into already-committed slots and
    // silently skip them; the journal pins the committed prefix instead.
    val staging = tmp()
    spark.range(10, 15).selectExpr("id").write.format("graft-avro")
      .mode("append").save(staging)
    AvroFileSource.listAvro(new java.io.File(staging)).zipWithIndex
      .foreach { case (f, i) =>
        Files.move(f.toPath,
          new java.io.File(dir, s"0000-outage-$i.avro").toPath)
      }

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    got.toSeq shouldBe Seq(0L, 1L, 2L, 10L, 11L, 12L, 13L, 14L)
  }

  test("journal compaction drops retained-out prefix, offsets survive restart") {
    val dir = tmp(); val ckpt = tmp(); val out = tmp()
    // four single-row files in known append order
    (0 until 4).foreach { i =>
      spark.range(i, i + 1).selectExpr("id").coalesce(1)
        .write.format("graft-avro").mode("append").save(dir)
    }
    val schema = spark.read.format("graft-avro").load(dir).schema
    def start() = spark.readStream.format("graft-avro").schema(schema)
      .option("journalCompactAfter", "2").load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // Spark hands the source a per-source checkpoint subdir
    val journal = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt)).iterator().asScala
        .find(_.getFileName.toString == "graft-avro-seen.log")
        .getOrElse(fail("journal not found under checkpoint")).toFile
    }
    val before = java.nio.file.Files.readAllLines(journal.toPath).size()

    // retention deletes the two oldest consumed files (oldest = first
    // JOURNAL entries — listing order is lexicographic, not append);
    // the next commit compacts them out of the journal
    java.nio.file.Files.readAllLines(journal.toPath).subList(0, 2)
      .forEach(p => new java.io.File(p).delete())
    spark.range(10, 11).selectExpr("id").coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val lines = java.nio.file.Files.readAllLines(journal.toPath)
    lines.get(0) should startWith("#base=")
    lines.get(0).stripPrefix("#base=").toLong should be >= 2L
    lines.size() should be < (before + 1)

    // restart AFTER compaction with a fresh file: exactly-once continues
    spark.range(20, 21).selectExpr("id").coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    got.toSeq shouldBe Seq(0L, 1L, 2L, 3L, 10L, 20L)
  }

  test("bare count(*) is answered from block headers (no record decode)") {
    val dir = tmp()
    spark.range(12345).selectExpr("id", "cast(id as string) as s")
      .repartition(3).write.format("graft-avro").mode("append").save(dir)
    // aggregates plan under AQE: unwrap the adaptive barrier to reach the
    // scan node
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val root = df.queryExecution.executedPlan
      val under = root.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(root)
      under.collectFirst { case b: BatchScanExec => b }.get
    }
    val counted = spark.read.format("graft-avro").load(dir)
      .agg(F.count(F.lit(1)))
    scanOf(counted).scan.description() should
      include("PushedAggregation: [COUNT(*)]")
    counted.head().getLong(0) shouldBe 12345L

    // a filtered count needs real rows: must NOT push, must stay correct
    val filtered = spark.read.format("graft-avro").load(dir)
      .filter(F.col("id") < 100).agg(F.count(F.lit(1)))
    scanOf(filtered).scan.description() should not include "PushedAggregation"
    filtered.head().getLong(0) shouldBe 100L
  }

  test("reported size statistics let the planner broadcast a small avro dim") {
    val dir = tmp()
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .write.format("graft-avro").mode("append").save(dir)
    val dim = spark.read.format("graft-avro").load(dir)
    val fact = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val joined = fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    hasBroadcast shouldBe true
    joined.count() shouldBe fact.count()
  }

  test("avro-to-avro streaming pipeline (streaming sink, idempotent names)") {
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    spark.range(4).selectExpr("id").write.format("graft-avro")
      .mode("append").save(src)
    val q = spark.readStream.format("graft-avro")
      .schema(spark.read.format("graft-avro").load(src).schema)
      .load(src)
      .writeStream.format("graft-avro")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.read.format("graft-avro").load(dst)
        .agg(F.sum("id")).head().getLong(0) shouldBe 6L
      val filesAfterFirst = AvroFileSource.listAvro(new java.io.File(dst)).size
      // idle epochs write no empty files (lazy creation)
      q.processAllAvailable()
      AvroFileSource.listAvro(new java.io.File(dst)).size shouldBe filesAfterFirst
      spark.range(10, 13).selectExpr("id").write.format("graft-avro")
        .mode("append").save(src)
      q.processAllAvailable()
      val ids = spark.read.format("graft-avro").load(dst)
        .collect().map(_.getLong(0)).sorted
      ids.toSeq shouldBe Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch (backlog drains in steps)") {
    val dir = tmp()
    (0 until 3).foreach { i =>
      spark.range(i * 10, i * 10 + 2).selectExpr("id")
        .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    }
    val q = spark.readStream.format("graft-avro")
      .schema(spark.read.format("graft-avro").load(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .load(dir)
      .writeStream.format("memory").queryName("avro_throttled")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("avro_throttled").count() shouldBe 6
      // 3-file backlog with a 1-file cap: at least 3 non-empty batches
      q.recentProgress.count(_.numInputRows > 0) should be >= 3
    } finally q.stop()
  }

  test("large files split at sync markers: fan-out with exact fidelity") {
    val dir = tmp()
    // one container file, many blocks (sync interval is per ~64KB block)
    spark.range(60000).selectExpr("id", "md5(cast(id as string)) as h")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val whole = spark.read.format("graft-avro").load(dir)
    ScanSplits.count(whole) shouldBe 1

    val split = spark.read.format("graft-avro")
      .option("maxSplitBytes", 64 * 1024).load(dir)
    ScanSplits.count(split) should be > 4
    // every row exactly once across the ranges
    split.count() shouldBe 60000
    split.agg(F.sum("id")).head().getLong(0) shouldBe
      (0L until 60000L).sum
    // decode-time filters compose with ranges
    split.filter(F.col("id") % 1000 === 7).count() shouldBe 60
    // block-header count(*) pushdown composes with ranges
    val counted = split.agg(F.count(F.lit(1)))
    counted.head().getLong(0) shouldBe 60000L
  }

  test("write codec option: zstandard / snappy / null round-trip") {
    for (codec <- Seq("zstandard", "snappy", "null")) {
      val dir = tmp()
      spark.range(500).selectExpr("id", "md5(cast(id as string)) as h")
        .write.format("graft-avro").option("codec", codec)
        .mode("append").save(dir)
      val back = spark.read.format("graft-avro").load(dir)
      withClue(codec) {
        back.agg(F.sum("id")).head().getLong(0) shouldBe (0L until 500L).sum
      }
    }
  }

  test("schema drift: older files resolve missing columns to null defaults") {
    val dir = tmp()
    // v1 writer: (id, s)
    spark.range(3).selectExpr("id", "concat('v1_', id) as s")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    Thread.sleep(20) // distinct mtime so inferSchema picks the v2 file
    // v2 writer adds a nullable double column
    spark.range(10, 12)
      .selectExpr("id", "concat('v2_', id) as s", "cast(id as double) as score")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)

    val back = spark.read.format("graft-avro").load(dir)
    back.schema.fieldNames.toSeq shouldBe Seq("id", "s", "score")
    val rows = back.orderBy("id").collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 2L, 10L, 11L)
    rows.take(3).foreach(r => r.isNullAt(2) shouldBe true)
    rows.drop(3).map(_.getDouble(2)).toSeq shouldBe Seq(10.0, 11.0)
    // pruning a drifted column alone still works
    back.select("score").where(F.col("score").isNotNull).count() shouldBe 2
  }

  test("schema drift: int-written columns promote to a long/double view") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    spark.range(5).selectExpr("cast(id as int) as id", "cast(id as float) as x")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val widened = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType)))
    val back = spark.read.format("graft-avro").schema(widened).load(dir)
    back.agg(F.sum("id"), F.sum("x")).head().toSeq shouldBe Seq(10L, 10.0)
  }

  test("partitioned writes: hive-style dirs, pruned reads, null values") {
    val dir = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.format("graft-avro").option("partitionBy", "lang")
      .mode("append").save(dir)
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq shouldBe
      Seq("lang=de", "lang=en", "lang=es", "lang=fr", "lang=zh")

    val all = spark.read.format("graft-avro").load(dir)
    all.count() shouldBe 500
    // partition-directory pruning: the lang=en filter plans only the
    // files under lang=en (1 writer task x 1 value dir = 1 partition)
    val en = all.filter(F.col("lang") === "en")
    val enParts = ScanSplits.count(en)
    enParts should be < ScanSplits.count(all)
    en.count() shouldBe spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(F.col("lang") === "en").count()
    // lang survives IN the rows (dir is an index, not the storage)
    en.select("lang").distinct().collect().map(_.getString(0)).toSeq shouldBe
      Seq("en")

    // null partition values round-trip through the __null__ directory
    val d2 = tmp()
    spark.range(4).selectExpr("id",
      "CASE WHEN id % 2 = 0 THEN concat('g', id % 2) END as grp")
      .write.format("graft-avro").option("partitionBy", "grp")
      .mode("append").save(d2)
    val back = spark.read.format("graft-avro").load(d2)
    back.count() shouldBe 4
    back.filter(F.col("grp").isNull).count() shouldBe 2

    // a literal "__null__" STRING must not collide with the null marker
    val d3 = tmp()
    spark.range(2).selectExpr("id",
      "CASE WHEN id = 0 THEN '__null__' END as grp")
      .write.format("graft-avro").option("partitionBy", "grp")
      .mode("append").save(d3)
    val b3 = spark.read.format("graft-avro").load(d3)
    b3.filter(F.col("grp") === "__null__").count() shouldBe 1
    b3.filter(F.col("grp").isNull).count() shouldBe 1
  }

  test("runtime filtering: broadcast-join keys prune partition dirs") {
    import spark.implicits._
    val dir = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.format("graft-avro").option("partitionBy", "lang")
      .mode("append").save(dir)
    val fact = spark.read.format("graft-avro").load(dir)
    val dim = Seq(("en", 1), ("fr", 2)).toDF("l", "w")
    val joined = fact.join(F.broadcast(dim), fact("lang") === dim("l"))
    // the scan declares the partition column runtime-filterable
    joined.queryExecution.executedPlan.toString should
      include("RuntimeFilters: [")
    val got = joined.groupBy("lang").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val exp = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(F.col("lang").isin("en", "fr")).groupBy("lang").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    got.toSeq shouldBe exp.toSeq
  }

  test("reading an empty or missing directory fails with a clear message") {
    val err = intercept[Exception] {
      spark.read.format("graft-avro").load(tmp())
    }
    err.getMessage should include("no .avro files")
  }

  test("minhash4 rejects non-string input at analysis time") {
    graft.functions.VectorFunctions.register(spark)
    spark.range(3).createOrReplaceTempView("mh_badtype")
    val err = intercept[Exception] {
      spark.sql("SELECT minhash4(id) FROM mh_badtype").collect()
    }
    err.getMessage.toLowerCase should include("string")
  }

  test("resolves by short name through the service registry") {
    val dir = tmp()
    spark.range(3).write.format("graft-avro").mode("append").save(dir)
    // the read above already used the short name; also check the provider
    // class resolves directly
    spark.read.format("graft.sources.AvroFileSource").load(dir)
      .count() shouldBe 3
  }

  // ---- transactional batch-write protocol (staged files + job commit) ----

  private def internalRowOf(id: Long) = {
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    import org.apache.spark.sql.types.{LongType, StructType}
    val schema = new StructType().add("id", LongType, nullable = false)
    ExpressionEncoder(RowEncoder.encoderFor(schema))
      .createSerializer()(org.apache.spark.sql.Row(id)).copy()
  }

  test("batch write abort leaves the previous dataset fully intact") {
    import org.apache.spark.sql.types.{LongType, StructType}
    val dir = tmp()
    spark.range(10).write.format("graft-avro").mode("append").save(dir)
    val schema = new StructType().add("id", LongType, nullable = false)
    val bw = new AvroWriteBuilder(dir, schema).build().toBatch
    val w = bw.createBatchWriterFactory(null).createWriter(0, 12345L)
    w.write(internalRowOf(42L))
    val msg = w.commit()
    // task committed, job not: the staged file is invisible to readers
    spark.read.format("graft-avro").load(dir).count() shouldBe 10
    bw.abort(Array(msg))
    new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".staging")) shouldBe 0
    spark.read.format("graft-avro").load(dir).count() shouldBe 10
  }

  test("truncate is deferred to job commit; commit publishes atomically") {
    import org.apache.spark.sql.types.{LongType, StructType}
    val dir = tmp()
    spark.range(10).write.format("graft-avro").mode("append").save(dir)
    val schema = new StructType().add("id", LongType, nullable = false)
    val builder = new AvroWriteBuilder(dir, schema)
    builder.truncate()
    val bw = builder.build().toBatch
    val w = bw.createBatchWriterFactory(null).createWriter(0, 1L)
    // truncate has NOT happened yet — old data still readable mid-job
    spark.read.format("graft-avro").load(dir).count() shouldBe 10
    w.write(internalRowOf(42L))
    bw.commit(Array(w.commit()))
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 1
    back.head().getLong(0) shouldBe 42L
  }

  test("overwrite via the DataFrame API leaves no staging litter") {
    val dir = tmp()
    spark.range(10).write.format("graft-avro").mode("append").save(dir)
    spark.range(5).write.format("graft-avro").mode("overwrite").save(dir)
    spark.read.format("graft-avro").load(dir).count() shouldBe 5
    new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".staging")) shouldBe 0
  }

  test("nested-column pruning narrows the scan to touched subfields") {
    import spark.implicits._
    val dir = tmp()
    spark.range(200)
      .selectExpr("id",
        "named_struct('a', id * 2, 'b', cast(id as string), 'c', id + 7) as m")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val q = spark.read.format("graft-avro").load(dir).select($"id", $"m.b")
    // Spark's nested schema pruning must reach the scan: the read schema's
    // `m` struct carries ONLY subfield b, so Avro resolution skips a and c
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    scans should not be empty
    val m = scans.head.output.find(_.name == "m")
    m should not be empty
    m.get.dataType match {
      case st: org.apache.spark.sql.types.StructType
          if st.fields.map(_.dataType).forall(
            _.isInstanceOf[org.apache.spark.sql.types.StructType]) =>
        fail(s"unexpected shape: ${st.simpleString}")
      case st: org.apache.spark.sql.types.StructType =>
        st.fieldNames.toSeq shouldBe Seq("b")
      case other => fail(s"m is not a struct: $other")
    }
    q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .take(3) shouldBe Seq((0L, "0"), (1L, "1"), (2L, "2"))
  }

  test("storage-partitioned join: co-partitioned tables join with no shuffle") {
    val d1 = tmp(); val d2 = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.select("doc_id", "lang", "n_chars").write.format("graft-avro")
      .option("partitionBy", "lang").mode("append").save(d1)
    docs.select("doc_id", "lang", "source").write.format("graft-avro")
      .option("partitionBy", "lang").mode("append").save(d2)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = spark.read.format("graft-avro")
        .option("preservePartitioning", "true").load(d1)
        .groupBy("lang").agg(F.sum("n_chars").as("chars"))
      val b = spark.read.format("graft-avro")
        .option("preservePartitioning", "true").load(d2)
        .groupBy("lang").count()
      val j = a.join(b, Seq("lang"))
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      shuffles shouldBe empty
      val expected = docs.groupBy("lang")
        .agg(F.sum("n_chars").as("chars"), F.count(F.lit(1)).as("count"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val got = j.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      got.toSeq shouldBe expected.toSeq
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("limit pushdown caps per-partition decode, keeps the global limit") {
    val dir = tmp()
    spark.range(1000).selectExpr("id", "cast(id as string) as s")
      .repartition(4).write.format("graft-avro").mode("append").save(dir)
    val q = spark.read.format("graft-avro").load(dir).limit(7)
    q.count() shouldBe 7
    // a limit above a filter must NOT short-circuit decode-time skipping
    val f = spark.read.format("graft-avro").load(dir)
      .filter(F.col("id") >= 990).limit(5)
    f.collect().map(_.getLong(0)).foreach(_ should be >= 990L)
    f.count() shouldBe 5
  }

  test("timestamp_ntz columns round-trip and filter through the source") {
    val dir = tmp()
    // lineitem's date columns are TIMESTAMP_NTZ in the testdata parquet
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
    li.schema("l_shipdate").dataType shouldBe
      org.apache.spark.sql.types.TimestampNTZType
    li.write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    back.schema("l_shipdate").dataType shouldBe
      org.apache.spark.sql.types.TimestampNTZType
    back.count() shouldBe li.count()
    val cut = "1995-06-15 00:00:00"
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .filter(F.col("l_shipdate") >= F.lit(cut).cast("timestamp_ntz"))
      .agg(F.count(F.lit(1)), F.min("l_shipdate"), F.max("l_shipdate"))
      .head().toSeq
    agg(back) shouldBe agg(li)
  }

  test("fused encoder writes canonical avro raw values (no cancelling bugs)") {
    val dir = tmp()
    // one row with every logical-type carrier; values chosen so the raw
    // avro longs/ints are hand-checkable
    spark.sql(
      """SELECT DATE'1970-01-11' AS d,
                TIMESTAMP'1970-01-01 00:00:01.5' AS ts,
                TIMESTAMP_NTZ'1970-01-01 00:00:02.25' AS tn,
                CAST(12.34 AS DECIMAL(10,2)) AS dec""")
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val f = AvroFileSource.listAvro(new java.io.File(dir)).head
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      f, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val rec = try r.next() finally r.close()
    rec.get("d") shouldBe 10                 // days since epoch
    rec.get("ts") shouldBe 1500000L          // timestamp-micros (UTC session)
    rec.get("tn") shouldBe 2250000L          // local-timestamp-micros
    val bytes = rec.get("dec").asInstanceOf[java.nio.ByteBuffer]
    new java.math.BigInteger({
      val d = bytes.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a); a
    }).longValue() shouldBe 1234L            // unscaled, scale 2
  }

  test("verified sortedBy layout: reported ordering eliminates sorts") {
    val dir = tmp()
    spark.range(500).selectExpr("id", "id % 7 as grp")
      .repartition(4).sortWithinPartitions("id")
      .write.format("graft-avro").option("sortedBy", "id")
      .mode("append").save(dir)
    AvroFileSource.sortedColumnOf(new java.io.File(dir)) shouldBe Some("id")
    val back = spark.read.format("graft-avro").load(dir)
    def sorts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
    // per-partition sort on the marker column is satisfied by the scan
    sorts(back.sortWithinPartitions("id")) shouldBe empty
    // ...but a sort on another column is not
    sorts(back.sortWithinPartitions("grp")) should not be empty
    back.count() shouldBe 500

    // appending unverified data withdraws the claim
    spark.range(3).selectExpr("id", "id as grp").write.format("graft-avro")
      .mode("append").save(dir)
    AvroFileSource.sortedColumnOf(new java.io.File(dir)) shouldBe None
    val again = spark.read.format("graft-avro").load(dir)
    sorts(again.sortWithinPartitions("id")) should not be empty
  }

  test("unsorted data under a sortedBy claim fails the write job") {
    val dir = tmp()
    spark.range(10).selectExpr("id").write.format("graft-avro")
      .mode("append").save(dir)
    val err = intercept[Exception] {
      spark.range(100).selectExpr("(100 - id) as id").coalesce(1)
        .write.format("graft-avro").option("sortedBy", "id")
        .mode("overwrite").save(dir)
    }
    err.toString + Option(err.getCause).mkString should include("violated")
    // failed job: previous dataset intact, no marker stamped
    spark.read.format("graft-avro").load(dir).count() shouldBe 10
    AvroFileSource.sortedColumnOf(new java.io.File(dir)) shouldBe None
  }

  test("external files: [T,null] unions with defaults and fixed decimals read") {
    import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = tmp()
    // hand-built writer schema an EXTERNAL producer could emit: a
    // [int, null] union (non-null first) with a non-null default, and a
    // decimal on a FIXED carrier — shapes our own writer never produces
    val fixed = Schema.createFixed("amt_fixed", null, null, 4)
    LogicalTypes.decimal(9, 2).addToSchema(fixed)
    val schema = SchemaBuilder.record("ext").fields()
      .name("id").`type`().longType().noDefault()
      .name("count").`type`(Schema.createUnion(
        Schema.create(Schema.Type.INT), Schema.create(Schema.Type.NULL)))
      .withDefault(7)
      .name("amt").`type`(fixed).noDefault()
      .endRecord()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(dir, "ext-0.avro"))
    (0 until 5).foreach { i =>
      val r = new GenericData.Record(schema)
      r.put("id", i.toLong)
      r.put("count", if (i == 3) null else Int.box(i * 10))
      val unscaled = java.math.BigInteger.valueOf(12345L + i)
      val raw = unscaled.toByteArray
      val buf = new Array[Byte](4)
      // sign-extend into the fixed width (big-endian two's complement)
      java.util.Arrays.fill(buf, if (unscaled.signum() < 0) (-1).toByte else 0.toByte)
      System.arraycopy(raw, 0, buf, 4 - raw.length, raw.length)
      r.put("amt", new GenericData.Fixed(fixed, buf))
      w.append(r)
    }
    w.close()
    val back = spark.read.format("graft-avro").load(dir)
    // both the plain read and a filtered (pruned-schema) read must work
    back.count() shouldBe 5
    val row = back.filter(F.col("id") === 1).head()
    row.getAs[Int]("count") shouldBe 10
    row.getAs[java.math.BigDecimal]("amt").toPlainString shouldBe "123.46"
    back.filter(F.col("count").isNull).count() shouldBe 1
    back.select("id", "amt").agg(F.sum("amt")).head()
      .getDecimal(0).toPlainString shouldBe "617.35"
  }

  test("projector tolerates records whose schema reorders fields") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.generic.GenericData
    val declared = SchemaBuilder.record("msg").fields()
      .name("name").`type`().stringType().noDefault()
      .name("age").`type`().intType().noDefault()
      .endRecord()
    val reordered = SchemaBuilder.record("msg").fields()
      .name("age").`type`().intType().noDefault()
      .name("name").`type`().stringType().noDefault()
      .endRecord()
    val p = new graft.avro.AvroProjector(spark, declared, "SELECT name, age")
    val r1 = new GenericData.Record(declared)
    r1.put("name", "ada"); r1.put("age", 36)
    val r2 = new GenericData.Record(reordered)
    r2.put("name", "bob"); r2.put("age", 41)
    p(r1).get("name").toString shouldBe "ada"
    val out2 = p(r2)
    out2.get("name").toString shouldBe "bob"
    out2.get("age") shouldBe 41
    // and back to the declared order (cache re-plans again)
    p(r1).get("age") shouldBe 36
  }

  test("numeric pushdown tolerates NaN and infinite values") {
    import spark.implicits._
    val dir = tmp()
    val src = Seq(1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 2.5).toDF("x")
    src.coalesce(1).write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    // decode-time eval must answer may-match on non-finite values (it
    // used to throw NumberFormatException from BigDecimal); Spark's
    // residual re-evaluation then decides — results equal the in-memory
    // DataFrame's under Spark's NaN-is-largest ordering
    def got(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(_.getDouble(0)).map(d =>
        if (d.isNaN) "NaN" else d.toString).sorted.toSeq
    got(back.filter($"x" > 1.5)) shouldBe got(src.filter($"x" > 1.5))
    got(back.filter($"x" === 1.0)) shouldBe got(src.filter($"x" === 1.0))
    got(back.filter($"x".isin(2.5, Double.NaN))) shouldBe
      got(src.filter($"x".isin(2.5, Double.NaN)))
    got(back.filter($"x" <= 2.0)) shouldBe got(src.filter($"x" <= 2.0))
  }

  test("mid-epoch writer failure: restart recovers to an exactly-once multiset") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val src = tmp(); val out = tmp(); val ckpt = tmp()
    // three input files → three epochs under maxFilesPerTrigger=1
    Seq(0L -> 100L, 100L -> 200L, 200L -> 300L).foreach { case (a, b) =>
      spark.range(a, b).coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema

    // the partition key values 1 and 2 have distinct murmur3 parity
    // (pmod(hash(1),2)=1, pmod(hash(2),2)=0 — fixed seed-42 murmur, stable
    // across versions), so poisoned rows (id >= 280, third file only) and
    // clean rows land in DIFFERENT tasks deterministically: the clean task
    // completes its epoch file (commit message sent, job not yet
    // committed) while the poisoned task fails — leaving a real
    // uncommitted file for the torn-bytes step below
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .repartition(2, F.when(F.col("id") >= 280, 2).otherwise(1))
      // the poison runs INSIDE the epoch's write-side tasks: while armed,
      // any id >= 280 fails its task after a beat — a real mid-epoch
      // crash through the engine's own failure path (offsets already
      // logged, commit never reached, DataWriter.abort invoked)
      .select(MidEpochPoison.udf(F.col("id")).as("id"))
      .writeStream.format("graft-avro")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(out)

    MidEpochPoison.armed = true
    val q1 = start()
    val failure = intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    failure.toString should include("injected mid-epoch failure")

    // the crash window is real: the engine logged the failed batch's
    // offsets but never its commit — the canonical torn-epoch state
    def entries(d: String) = Option(new java.io.File(ckpt, d).list())
      .map(_.count(!_.startsWith("."))).getOrElse(0)
    entries("offsets") should be > entries("commits")

    // any uncommitted-epoch file a completed sibling task left behind is
    // fair game for torn bytes: truncate it to half, like a crashed disk
    // flush would — replay must rewrite it in place, not append beside it.
    // Only the FAILED epoch's files may be torn (committed epochs are
    // durable data the replay will never touch).
    val failedEpoch = Option(new java.io.File(ckpt, "commits").list())
      .map(_.filterNot(_.startsWith(".")).map(_.toLong))
      .filter(_.nonEmpty).map(_.max + 1).getOrElse(0L)
    val preRestart = AvroFileSource.listAvro(new java.io.File(out))
    val uncommitted = preRestart.filter(
      _.getName.startsWith(f"part-e$failedEpoch%06d"))
    // the clean sibling task's file MUST exist (partition separation is
    // deterministic, see start()) — without this the torn-file branch
    // below would be silently dead and the spec's claim vacuous
    uncommitted should not be empty
    uncommitted.foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(math.max(1, f.length() / 2)) finally ch.close()
    }
    val preRestartNames = preRestart.map(_.getName).toSet

    MidEpochPoison.armed = false
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // exactly-once despite the torn epoch: every id exactly once — no
    // loss from the truncated file, no duplicates from the replay
    val got = spark.read.format("graft-avro").load(out)
      .collect().map(_.getLong(0)).sorted.toSeq
    got shouldBe (0L until 300L)
    // replay reused the epoch-deterministic names (idempotent rewrite,
    // not append-beside)
    preRestartNames.subsetOf(
      AvroFileSource.listAvro(new java.io.File(out)).map(_.getName).toSet) shouldBe true
  }
}

/** Failure injector for the mid-epoch crash spec: a JVM-wide switch the
  * write-side tasks consult (local mode — executor and driver share the
  * JVM). The sleep lets sibling tasks finish their (uncommitted) epoch
  * files first, so the restart also exercises torn-file rewrite.
  */
object MidEpochPoison {
  @volatile var armed = false
  val udf = F.udf((v: Long) => {
    if (armed && v >= 280) {
      Thread.sleep(300)
      throw new RuntimeException("injected mid-epoch failure")
    }
    v
  })
}
