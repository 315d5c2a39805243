package graft.sources

import java.io.File

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.sources._
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Hidden temporal/truncate partition transforms (`transformBy=ts:day`,
  * DDL `PARTITIONED BY (days(ts))`): rows route to `<col>_<kind>=<v>`
  * segments by the UTC transform of the value, the spec lives in the
  * stamped `_graft_xform` sidecar (immutable per column, truncate
  * replaces), and RAW-COLUMN predicates prune files through the
  * transform's monotonicity — ranges included, which buckets cannot do.
  * The verdict's top-leverage item: `PARTITIONED BY (days(ts))` is the
  * single most common real-table layout.
  */
class XformLayoutSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_xform")

  /** 600 rows over six UTC days (epoch days 0..5). */
  private def writeDays(dir: String, mode: String = "overwrite"): Unit =
    spark.range(0, 600).toDF("id")
      .withColumn("ts",
        F.expr("timestamp_micros(86400000000L * (id % 6) + id * 1000000)"))
      .withColumn("payload", F.md5(F.col("id").cast("string")))
      .write.format("graft-avro").option("transformBy", "ts:day")
      .mode(mode).save(dir)

  private def scanParts(dir: String, filters: Seq[Filter] = Nil,
      runtimeTs: Seq[Long] = Nil): Int = {
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema)
    if (filters.nonEmpty) sb.pushFilters(filters.toArray)
    val scan = sb.build()
    if (runtimeTs.nonEmpty)
      scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
        new Predicate("IN", (Expressions.column("ts") +:
          runtimeTs.map(us => Expressions.literal(us))).toArray[
            org.apache.spark.sql.connector.expressions.Expression])))
    ScanSplits.count(scan)
  }

  private def ts(epochDay: Long, sec: Long = 0L): java.sql.Timestamp =
    java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(epochDay * 86400L + sec))

  test("days write: segments, stamped sidecar, complete read-back") {
    val dir = tmp()
    writeDays(dir)
    AvroTransforms.read(new File(dir)) shouldBe Seq(Xform("ts", "day", 0))
    AvroTransforms.readStamped(new File(dir)).head._2 shouldBe 1L
    val segs = AvroFileSource.listPartitioned(new File(dir))
      .flatMap(_._2.get("ts_day")).distinct.map(_.toLong).sorted
    segs shouldBe Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 600
    back.agg(F.sum("id")).head().getLong(0) shouldBe (0L until 600L).sum
  }

  test("equality, range, and IN prune raw-ts predicates to day segments") {
    val dir = tmp()
    writeDays(dir)
    val all = scanParts(dir)
    val oneDay = scanParts(dir, Seq(EqualTo("ts", ts(2, 120))))
    oneDay should be < all
    oneDay should be <= (all + 5) / 6 + 1
    // range: ts >= day-4 start keeps days 4..5 only
    val upper = scanParts(dir, Seq(GreaterThanOrEqual("ts", ts(4))))
    upper should be <= 2 * ((all + 5) / 6 + 1)
    upper should be < all
    // strict > just below a boundary widens to >= the boundary's day
    scanParts(dir, Seq(GreaterThan("ts", ts(5, -1)))) should be <= upper
    // range: ts < day-1 start keeps days 0..1 (<= widening is sound)
    scanParts(dir, Seq(LessThan("ts", ts(1)))) should
      be <= 2 * ((all + 5) / 6 + 1)
    // IN over two timestamps keeps at most two days
    scanParts(dir, Seq(In("ts", Array(ts(0, 7), ts(3, 9))))) should
      be <= 2 * ((all + 5) / 6 + 1)
    // conjunction intersects to EXACTLY one day: `< day-3 start` maps
    // through X−1µs to `seg <= 2`, excluding the boundary day (the
    // inclusive <= variant keeps two days — strictly more files)
    val conj = scanParts(dir, Seq(GreaterThanOrEqual("ts", ts(2)),
      LessThan("ts", ts(3))))
    conj should be <= (all + 5) / 6 + 1
    conj should be < scanParts(dir, Seq(GreaterThanOrEqual("ts", ts(2)),
      LessThanOrEqual("ts", ts(3, 50))))
    // no false negatives through the full read path
    val avro = spark.read.format("graft-avro").load(dir)
    avro.filter(F.col("ts") >= F.lit(ts(4))).count() shouldBe 200
    // a REAL row: id = 122 has id % 6 == 2 → ts = day-2 start + 122 s
    avro.filter(F.col("ts") === F.lit(
      new java.sql.Timestamp(ts(2, 122).getTime))).count() shouldBe 1
  }

  test("runtime join-key IN-sets prune through day segments") {
    val dir = tmp()
    writeDays(dir)
    val all = scanParts(dir)
    // two timestamp keys (internal micros) land in two days
    val us = Seq(2L * 86400000000L + 5000000L, 5L * 86400000000L)
    val kept = scanParts(dir, runtimeTs = us)
    kept should be < all
    kept should be <= 2 * ((all + 5) / 6 + 1)
  }

  test("nulls route to __null__; IS NULL / IS NOT NULL decide; compares prune it") {
    val dir = tmp()
    spark.range(0, 100).toDF("id")
      .withColumn("ts", F.when(F.col("id") % 2 === 0,
        F.expr("timestamp_micros(86400000000L * (id % 4))")))
      .repartition(2, F.col("id") % 2) // null and non-null files apart
      .write.format("graft-avro").option("transformBy", "ts:day")
      .mode("overwrite").save(dir)
    val segs = AvroFileSource.listPartitioned(new File(dir))
      .flatMap(_._2.get("ts_day")).distinct
    segs should contain("__null__")
    val all = scanParts(dir)
    scanParts(dir, Seq(IsNull("ts"))) should be < all
    scanParts(dir, Seq(IsNotNull("ts"))) should be < all
    // equality never matches null: the __null__ segment is pruned too
    val eq = scanParts(dir, Seq(EqualTo("ts", ts(0))))
    eq should be < all
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("ts").isNull).count() shouldBe 50
  }

  test("months and truncate transforms route and prune") {
    val dir = tmp()
    // 8 months starting 1970-01 (epoch months 0..7)
    spark.range(0, 240).toDF("id")
      .withColumn("ts", F.expr(
        "cast(concat('1970-0', cast(1 + id % 8 as string), '-15') " +
          "as timestamp)"))
      .withColumn("v", F.col("id").cast("long"))
      .withColumn("s", F.concat(F.lit("grp"),
        (F.col("id") % 3).cast("string"), F.lit("_x")))
      .write.format("graft-avro")
      .option("transformBy", "ts:month,v:trunc:100,s:trunc:4")
      .mode("overwrite").save(dir)
    val parts = AvroFileSource.listPartitioned(new File(dir))
    parts.flatMap(_._2.get("ts_month")).distinct.map(_.toInt).sorted shouldBe
      (0 to 7)
    parts.flatMap(_._2.get("v_trunc")).distinct.map(_.toInt).sorted shouldBe
      Seq(0, 100, 200)
    parts.flatMap(_._2.get("s_trunc")).distinct.sorted shouldBe
      Seq("grp0", "grp1", "grp2")
    val all = scanParts(dir)
    // int trunc range: v >= 150 keeps trunc segments 100, 200
    scanParts(dir, Seq(GreaterThanOrEqual("v", 150L))) should be < all
    // string trunc equality + startsWith
    scanParts(dir, Seq(EqualTo("s", "grp1_x"))) should be < all
    scanParts(dir, Seq(StringStartsWith("s", "grp2"))) should be < all
    // month range on the raw timestamp
    scanParts(dir, Seq(LessThan("ts",
      java.sql.Timestamp.valueOf("1970-03-01 00:00:00")))) should be < all
    // full read-back agrees
    val avro = spark.read.format("graft-avro").load(dir)
    avro.filter(F.col("v") >= 150).count() shouldBe
      spark.range(0, 240).filter(F.col("id") >= 150).count()
    avro.filter(F.col("s") === "grp1_x").count() shouldBe 80
  }

  test("transform spec is immutable; untransformed appends keep files") {
    val dir = tmp()
    writeDays(dir)
    // conflicting transform on an established column fails loudly
    val ex = intercept[Exception] {
      spark.range(600, 610).toDF("id")
        .withColumn("ts", F.expr("timestamp_micros(id * 1000000)"))
        .withColumn("payload", F.md5(F.col("id").cast("string")))
        .write.format("graft-avro").option("transformBy", "ts:month")
        .mode("append").save(dir)
    }
    ex.getMessage should include("conflicts")
    // a plain append (no transform) lands segment-less files that are
    // ALWAYS kept — pruning stays sound
    spark.range(600, 700).toDF("id")
      .withColumn("ts", F.expr("timestamp_micros(86400000000L * 2)"))
      .withColumn("payload", F.md5(F.col("id").cast("string")))
      .write.format("graft-avro").mode("append").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    avro.count() shouldBe 700
    // day-2 equality must still see the unsegmented rows
    avro.filter(F.col("ts") === F.lit(ts(2))).count() shouldBe 100
    // and a day-5 filter keeps the segment-less file (sound, not pruned)
    avro.filter(F.col("ts") >= F.lit(ts(5))).count() shouldBe 100
  }

  test("DDL PARTITIONED BY (days(ts)) through the catalog; DESCRIBE shows it") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.xfc",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.xfc.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS xfc.ns")
    spark.sql("DROP TABLE IF EXISTS xfc.ns.tdays")
    spark.sql("CREATE TABLE xfc.ns.tdays (id BIGINT, ts TIMESTAMP) " +
      "USING `graft-avro` PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO xfc.ns.tdays SELECT id, " +
      "timestamp_micros(86400000000 * (id % 4) + id) FROM range(0, 400)")
    val dir = new File(new File(new File(root), "ns"), "tdays")
    AvroTransforms.read(dir) shouldBe Seq(Xform("ts", "day", 0))
    AvroFileSource.listPartitioned(dir)
      .flatMap(_._2.get("ts_day")).distinct.size shouldBe 4
    // DESCRIBE surfaces the transform
    val desc = spark.sql("DESCRIBE EXTENDED xfc.ns.tdays")
      .collect().map(_.mkString(" ")).mkString("\n")
    desc should include("days(ts)")
    // pruned read through SQL
    // days 2 and 3 of the four → 200 rows
    spark.sql("SELECT count(*) FROM xfc.ns.tdays WHERE " +
      "ts >= timestamp'1970-01-03 00:00:00'").head().getLong(0) shouldBe 200
    val kept = scanParts(dir.getPath,
      Seq(GreaterThanOrEqual("ts", ts(3))))
    kept should be < scanParts(dir.getPath)
    spark.sql("DROP TABLE xfc.ns.tdays")
  }

  test("time travel resolves the spec through stamps; truncate re-partitions") {
    val dir = tmp()
    writeDays(dir) // v1, ts:day
    spark.range(600, 700).toDF("id")
      .withColumn("ts", F.expr("timestamp_micros(86400000000L * (id % 6))"))
      .withColumn("payload", F.md5(F.col("id").cast("string")))
      .write.format("graft-avro").option("transformBy", "ts:day")
      .mode("append").save(dir) // v2
    // travel to v1 prunes (spec established at v1)
    val schema = spark.read.format("graft-avro").load(dir).schema
    val sb = new AvroScanBuilder(dir, schema, travelVersion = Some(1L))
    sb.pushFilters(Array[Filter](EqualTo("ts", ts(2, 120))))
    val keptV1 = ScanSplits.count(sb.build())
    val sbAll = new AvroScanBuilder(dir, schema, travelVersion = Some(1L))
    keptV1 should be < ScanSplits.count(sbAll.build())
    // truncate overwrite RE-partitions under a new spec + younger stamp
    spark.range(0, 100).toDF("id")
      .withColumn("ts", F.expr("timestamp_micros(86400000000L * (id % 3))"))
      .withColumn("payload", F.md5(F.col("id").cast("string")))
      .write.format("graft-avro").option("transformBy", "ts:month")
      .mode("overwrite").save(dir) // v3
    AvroTransforms.read(new File(dir)) shouldBe Seq(Xform("ts", "month", 0))
    AvroTransforms.readStamped(new File(dir)).head._2 shouldBe 3L
    // a travel read BELOW the new stamp stands down (kept = all of v2)
    val sbOld = new AvroScanBuilder(dir, schema, travelVersion = Some(2L))
    sbOld.pushFilters(Array[Filter](EqualTo("ts", ts(2, 120))))
    val allV2 = ScanSplits.count(
      new AvroScanBuilder(dir, schema, travelVersion = Some(2L)).build())
    ScanSplits.count(sbOld.build()) shouldBe allV2
    // and the travel read still answers exactly
    spark.read.format("graft-avro").option("versionAsOf", 2)
      .load(dir).count() shouldBe 700
  }

  test("compactPartition works on the transform segment column") {
    val dir = tmp()
    spark.range(0, 600).toDF("id")
      .withColumn("ts",
        F.expr("timestamp_micros(86400000000L * (id % 3) + id * 1000000)"))
      .withColumn("payload", F.md5(F.col("id").cast("string")))
      .repartition(4) // several files per day
      .write.format("graft-avro").option("transformBy", "ts:day")
      .mode("overwrite").save(dir)
    val before = AvroFileSource.listPartitioned(new File(dir))
    val day1Before = before.count(_._2.get("ts_day").contains("1"))
    day1Before should be > 1
    val n = AvroMaintenance.compactPartition(spark, dir, "ts_day", "1",
      targetBytes = 1L << 30)
    n shouldBe 1
    val after = AvroFileSource.listPartitioned(new File(dir))
    after.count(_._2.get("ts_day").contains("1")) shouldBe 1
    // other days untouched (same file names)
    after.filterNot(_._2.get("ts_day").contains("1")).map(_._1.getName)
      .toSet shouldBe
      before.filterNot(_._2.get("ts_day").contains("1")).map(_._1.getName)
        .toSet
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 600
    back.agg(F.sum("id")).head().getLong(0) shouldBe (0L until 600L).sum
  }

  test("compactInPlace preserves the transform layout") {
    val dir = tmp()
    writeDays(dir)
    spark.range(600, 700).toDF("id")
      .withColumn("ts", F.expr("timestamp_micros(86400000000L * (id % 6))"))
      .withColumn("payload", F.md5(F.col("id").cast("string")))
      .write.format("graft-avro").option("transformBy", "ts:day")
      .mode("append").save(dir)
    AvroMaintenance.compactInPlace(spark, dir, targetBytes = 1L << 30)
    val parts = AvroFileSource.listPartitioned(new File(dir))
    parts.flatMap(_._2.get("ts_day")).distinct.map(_.toLong).sorted shouldBe
      Seq(0L, 1L, 2L, 3L, 4L, 5L)
    AvroTransforms.read(new File(dir)) shouldBe Seq(Xform("ts", "day", 0))
    spark.read.format("graft-avro").load(dir).count() shouldBe 700
  }

  test("guards: bad kinds, type mismatches, collisions refuse loudly") {
    val dir = tmp()
    def df = spark.range(0, 10).toDF("id")
      .withColumn("ts", F.expr("timestamp_micros(id)"))
    intercept[IllegalArgumentException] {
      AvroTransforms.parse("ts:week")
    }
    intercept[IllegalArgumentException] {
      AvroTransforms.parse("s:trunc:0")
    }
    // hour of a DATE column refuses
    intercept[Exception] {
      spark.range(0, 10).toDF("id")
        .withColumn("d", F.expr("date_add(date'1970-01-01', cast(id as int))"))
        .write.format("graft-avro").option("transformBy", "d:hour")
        .mode("overwrite").save(dir)
    }.getMessage should include("does not support")
    // trunc of a timestamp refuses
    intercept[Exception] {
      df.write.format("graft-avro").option("transformBy", "ts:trunc:3")
        .mode("overwrite").save(dir)
    }.getMessage should include("does not support")
    // overlap with identity partitioning refuses
    intercept[Exception] {
      df.withColumn("k", F.col("id") % 2)
        .write.format("graft-avro").option("transformBy", "ts:day")
        .option("partitionBy", "ts").mode("overwrite").save(dir)
    }.getMessage should include("identity partition")
  }
}
