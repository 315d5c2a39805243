package graft.sources

import java.io.File

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Hidden hash-bucket partitioning (`bucketBy=col:n`): rows route to
  * `<col>_bucket=b` directory segments by a deterministic hash of the
  * value's canonical string, the spec lives in the `_graft_bucket`
  * sidecar, and equality/IN filters — pushed or runtime join-key
  * IN-sets — prune to the literal's bucket. Unlike identity
  * partitioning this bounds the directory fan-out by N regardless of
  * key cardinality: the point-lookup layout for high-cardinality keys
  * at 100 TB. Also pinned: the bucket spec's immutability, soundness
  * across unbucketed appends (missing segment = keep), null routing,
  * and storage-partitioned joins between co-bucketed catalog tables
  * (zero exchanges via the catalog's `bucket` function).
  */
class BucketLayoutSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_bucket")

  private def writeBucketed(dir: String, n: Int = 8): Unit =
    spark.range(0, 800).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").option("bucketBy", s"k:$n")
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

  test("bucketed write: segments, sidecar, complete read-back") {
    val dir = tmp()
    writeBucketed(dir)
    AvroFileSource.readBucketSpec(new File(dir)) shouldBe Seq("k" -> 8)
    val segs = AvroFileSource.listPartitioned(new File(dir))
      .flatMap(_._2.get("k_bucket")).distinct
    segs.nonEmpty shouldBe true
    segs.foreach(s => s.toInt should (be >= 0 and be < 8))
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 800
    back.agg(F.sum("k")).head().getLong(0) shouldBe (0L until 800L).sum
  }

  test("equality and IN prune to the literal's bucket; zero false negatives") {
    val dir = tmp()
    writeBucketed(dir)
    val all = scanParts(dir)
    import org.apache.spark.sql.sources.{EqualTo, In}
    // a point lookup keeps only files of ONE bucket segment
    val one = scanParts(dir, Seq(EqualTo("k", 42L)))
    one should be < all
    one should be <= (all + 7) / 8 + 1
    // IN over two keys keeps at most two buckets' files
    scanParts(dir, Seq(In("k", Array(3L, 12L)))) should
      be <= 2 * ((all + 7) / 8 + 1)
    // no false negatives through the full read path
    val avro = spark.read.format("graft-avro").load(dir)
    (0L until 800L by 53).foreach { k =>
      avro.filter(F.col("k") === k).count() shouldBe 1
    }
    // IN with only nulls matches nothing and prunes everything
    scanParts(dir, Seq(In("k", Array(null)))) shouldBe 0
  }

  test("runtime join-key IN-sets prune through buckets") {
    val dir = tmp()
    // a SINGLE task writes all buckets so zone bounds per bucket file
    // span the domain: any pruning observed is the bucket's
    spark.range(0, 800).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").option("bucketBy", "k:8")
      .mode("overwrite").save(dir)
    val all = scanParts(dir)
    scanParts(dir, runtimeIn = Seq(7L)) should be < all
    // end-to-end join answers exactly
    import spark.implicits._
    val fact = spark.read.format("graft-avro").load(dir)
    val dim = Seq(7L, 16L, 399L).toDF("j")
    fact.join(F.broadcast(dim), fact("k") === dim("j"))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(7L, 16L, 399L)
  }

  test("identity + bucket segments compose") {
    val dir = tmp()
    spark.range(0, 400).toDF("k")
      .withColumn("p", F.col("k") % 2)
      .write.format("graft-avro")
      .option("partitionBy", "p").option("bucketBy", "k:4")
      .mode("overwrite").save(dir)
    val vals = AvroFileSource.listPartitioned(new File(dir)).map(_._2)
    vals.foreach { m =>
      m.keySet should contain allOf ("p", "k_bucket")
    }
    import org.apache.spark.sql.sources.EqualTo
    val all = scanParts(dir)
    // both prunings stack: p=0 alone halves, k=10 alone quarters
    scanParts(dir, Seq(EqualTo("p", 0L), EqualTo("k", 10L))) should
      be < scanParts(dir, Seq(EqualTo("p", 0L)))
    scanParts(dir, Seq(EqualTo("k", 10L))) should be < all
    val back = spark.read.format("graft-avro").load(dir)
    back.filter(F.col("k") === 10L).count() shouldBe 1
    back.count() shouldBe 400
  }

  test("nulls route to __null__ and prune under equality, read under IS NULL") {
    val dir = tmp()
    spark.range(0, 40).toDF("i")
      .withColumn("k", F.when(F.col("i") % 4 === 0, F.col("i"))
        .cast("long"))
      .write.format("graft-avro").option("bucketBy", "k:4")
      .mode("overwrite").save(dir)
    val segs = AvroFileSource.listPartitioned(new File(dir))
      .flatMap(_._2.get("k_bucket")).distinct
    segs should contain("__null__")
    val back = spark.read.format("graft-avro").load(dir)
    back.filter(F.col("k").isNull).count() shouldBe 30
    back.filter(F.col("k") === 8L).count() shouldBe 1
  }

  test("spec immutability: conflicting N refuses; unbucketed appends stay sound") {
    val dir = tmp()
    writeBucketed(dir, n = 8)
    // appending with a DIFFERENT N fails loudly (ambiguous segments)
    val boom = intercept[Exception] {
      spark.range(800, 810).toDF("k")
        .withColumn("payload", F.md5(F.col("k").cast("string")))
        .write.format("graft-avro").option("bucketBy", "k:16")
        .mode("append").save(dir)
    }
    boom.getMessage should include("immutable")
    // an append WITHOUT bucketBy adds segment-less files: always kept
    spark.range(800, 810).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    avro.filter(F.col("k") === 805L).count() shouldBe 1
    avro.filter(F.col("k") === 42L).count() shouldBe 1
    // truncate re-buckets: the sidecar is replaced wholesale
    spark.range(0, 10).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").option("bucketBy", "k:16")
      .mode("overwrite").save(dir)
    AvroFileSource.readBucketSpec(new File(dir)) shouldBe Seq("k" -> 16)
    spark.read.format("graft-avro").load(dir).count() shouldBe 10
  }

  test("time travel prunes through stamped specs; re-bucketing stands down") {
    val dir = tmp()
    writeBucketed(dir) // v1: k:8
    spark.range(800, 1200).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").option("bucketBy", "k:8")
      .mode("append").save(dir) // v2
    // the entry carries the establishing version
    AvroFileSource.readBucketSpecStamped(new File(dir)) shouldBe
      Seq(("k", 8, 1L))
    import org.apache.spark.sql.sources.EqualTo
    def partsAt(v: Long, filters: Seq[org.apache.spark.sql.sources.Filter])
        : Int = {
      val schema = spark.read.format("graft-avro")
        .option("versionAsOf", v).load(dir).schema
      val sb = new AvroScanBuilder(dir, schema, travelVersion = Some(v))
      if (filters.nonEmpty) sb.pushFilters(filters.toArray)
      ScanSplits.count(sb.build())
    }
    // a point lookup at the OLD version prunes to the key's bucket
    val allV1 = partsAt(1L, Nil)
    val prunedV1 = partsAt(1L, Seq(EqualTo("k", 7L)))
    prunedV1 should be < allV1
    spark.read.format("graft-avro").option("versionAsOf", 1)
      .load(dir).filter(F.col("k") === 7L).count() shouldBe 1
    // re-bucket via truncate: the younger stamp stands pruning down for
    // pre-truncate versions (their segments were routed under k:8)
    spark.range(0, 100).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").option("bucketBy", "k:16")
      .mode("overwrite").save(dir) // v3
    AvroFileSource.readBucketSpecStamped(new File(dir)) shouldBe
      Seq(("k", 16, 3L))
    partsAt(1L, Seq(EqualTo("k", 7L))) shouldBe allV1 // no pruning: sound
    // the post-rebucket version prunes under the new spec
    val allV3 = partsAt(3L, Nil)
    partsAt(3L, Seq(EqualTo("k", 7L))) should be < allV3
    // correctness across the whole arc
    spark.read.format("graft-avro").option("versionAsOf", 1)
      .load(dir).filter(F.col("k") === 7L).count() shouldBe 1
    spark.read.format("graft-avro").option("versionAsOf", 3)
      .load(dir).filter(F.col("k") === 7L).count() shouldBe 1
    // a same-N overwrite (compaction shape) PRESERVES the establishing
    // stamp — historical pruning survives the rewrite
    spark.range(0, 100).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").option("bucketBy", "k:16")
      .mode("overwrite").save(dir) // v4, same N as v3's spec
    AvroFileSource.readBucketSpecStamped(new File(dir)) shouldBe
      Seq(("k", 16, 3L))
    partsAt(3L, Seq(EqualTo("k", 7L))) should be < allV3
    // legacy unstamped entries never answer historical reads
    val raw = new String(java.nio.file.Files.readAllBytes(
      AvroFileSource.bucketFile(new File(dir)).toPath), "UTF-8")
    java.nio.file.Files.write(
      AvroFileSource.bucketFile(new File(dir)).toPath,
      raw.linesIterator.map(_.split('\t').take(2).mkString("\t"))
        .mkString("\n").getBytes("UTF-8"))
    partsAt(3L, Seq(EqualTo("k", 7L))) shouldBe allV3 // stamp 0 ⇒ keep
  }

  test("multi-column bucketing: independent segments, per-column pruning") {
    val dir = tmp()
    spark.range(0, 400).toDF("k")
      .withColumn("s", F.concat(F.lit("u"), F.pmod(F.col("k"), F.lit(50))))
      .write.format("graft-avro").option("bucketBy", "k:4,s:3")
      .mode("overwrite").save(dir)
    AvroFileSource.readBucketSpec(new File(dir)) shouldBe
      Seq("k" -> 4, "s" -> 3)
    AvroFileSource.listPartitioned(new File(dir)).foreach { case (_, m) =>
      m.keySet should contain allOf ("k_bucket", "s_bucket")
    }
    import org.apache.spark.sql.sources.EqualTo
    val all = scanParts(dir)
    val byK = scanParts(dir, Seq(EqualTo("k", 10L)))
    val byS = scanParts(dir, Seq(EqualTo("s", "u10")))
    byK should be < all
    byS should be < all
    // conjunction stacks both columns' bucket targets
    scanParts(dir, Seq(EqualTo("k", 10L), EqualTo("s", "u10"))) should
      be <= math.min(byK, byS)
    val back = spark.read.format("graft-avro").load(dir)
    back.filter(F.col("k") === 10L && F.col("s") === "u10").count() shouldBe 1
    back.count() shouldBe 400
  }

  test("decimal bucket keys: canonical identity across scales (r20)") {
    val dir = tmp()
    // one task writes all buckets so zone bounds span the domain: any
    // pruning observed is the bucket's
    spark.range(0, 800).toDF("k")
      .withColumn("price", F.expr("CAST(k * 1.25 AS DECIMAL(12,2))"))
      .coalesce(1)
      .write.format("graft-avro").option("bucketBy", "price:8")
      .mode("overwrite").save(dir)
    AvroFileSource.readBucketSpec(new java.io.File(dir)) shouldBe
      Seq("price" -> 8)
    import org.apache.spark.sql.sources.EqualTo
    def parts(f: org.apache.spark.sql.sources.Filter): Int = {
      val schema = spark.read.format("graft-avro").load(dir).schema
      val sb = new AvroScanBuilder(dir, schema)
      sb.pushFilters(Array(f))
      ScanSplits.count(sb.build())
    }
    val all = scanParts(dir)
    // scale-2 and scale-1 spellings of one value route to ONE bucket
    parts(EqualTo("price", new java.math.BigDecimal("12.50"))) should be < all
    parts(EqualTo("price", new java.math.BigDecimal("12.5"))) shouldBe
      parts(EqualTo("price", new java.math.BigDecimal("12.50")))
    // graft_bucket SQL expression agrees with the write routing at
    // every scale spelling (the single-source-of-truth contract)
    val b = spark.sql(
      "SELECT graft_bucket(CAST(12.50 AS DECIMAL(12,2)), 8), " +
        "graft_bucket(CAST(12.5 AS DECIMAL(3,1)), 8), " +
        "graft_bucket(CAST(400 AS DECIMAL(5,0)), 8), " +
        "graft_bucket(CAST(400.00 AS DECIMAL(12,2)), 8)").head()
    b.getInt(0) shouldBe b.getInt(1)
    b.getInt(2) shouldBe b.getInt(3)
    // no false negatives through the full read path, either scale
    val avro = spark.read.format("graft-avro").load(dir)
    (0L until 800L by 53).foreach { k =>
      avro.filter(F.col("price") ===
        new java.math.BigDecimal(k * 125).movePointLeft(2))
        .count() shouldBe 1
    }
    avro.filter("price = 12.5").count() shouldBe 1
  }

  test("timestamp bucket keys: micros canonical, SQL fn agrees (r20)") {
    val dir = tmp()
    spark.range(0, 800).toDF("k")
      .withColumn("ts", F.expr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,k,0)"))
      .coalesce(1)
      .write.format("graft-avro").option("bucketBy", "ts:8")
      .mode("overwrite").save(dir)
    import org.apache.spark.sql.sources.EqualTo
    def parts(f: org.apache.spark.sql.sources.Filter): Int = {
      val schema = spark.read.format("graft-avro").load(dir).schema
      val sb = new AvroScanBuilder(dir, schema)
      sb.pushFilters(Array(f))
      ScanSplits.count(sb.build())
    }
    val all = scanParts(dir)
    val probe = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:42:00Z"))
    parts(EqualTo("ts", probe)) should be < all
    // the SQL expression routes identically to the writer
    val b = spark.sql(
      "SELECT graft_bucket(timestamp'2024-01-01 00:42:00', 8)").head()
    val seg = AvroFileSource.listPartitioned(new java.io.File(dir))
      .flatMap(_._2.get("ts_bucket")).distinct
    seg should contain(b.getInt(0).toString)
    // exact answers through the full read path
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("ts") === probe).count() shouldBe 1
  }

  test("bucketBy rejects unsupported types and collisions") {
    val dir = tmp()
    intercept[IllegalArgumentException] {
      spark.range(3).toDF("k").withColumn("d", F.col("k").cast("double"))
        .write.format("graft-avro").option("bucketBy", "d:4")
        .mode("overwrite").save(dir)
    }.getMessage should include("does not support")
    intercept[IllegalArgumentException] {
      spark.range(3).toDF("k")
        .write.format("graft-avro").option("bucketBy", "nope:4")
        .mode("overwrite").save(dir)
    }.getMessage should include("not in schema")
    intercept[IllegalArgumentException] {
      spark.range(3).toDF("k")
        .write.format("graft-avro")
        .option("partitionBy", "k").option("bucketBy", "k:4")
        .mode("overwrite").save(dir)
    }.getMessage should include("identity partition")
  }

  test("bucketBy + sortedBy compose: range zones and bucket pruning stack") {
    val dir = tmp()
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    // 4 k-ranges × 4 c-buckets = 16 files; each file internally sorted
    // by k (verified — an unsorted write would fail), zone-mapped on k,
    // bucket-segmented on c
    val df = spark.range(0, 800).toDF("k")
      .withColumn("c", F.pmod(F.col("k") * 37L, F.lit(7)))
    df.repartitionByRange(4, F.col("k")).sortWithinPartitions("k")
      .write.format("graft-avro")
      .option("bucketBy", "c:4").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    val all = scanParts(dir)
    all should be >= 8 // 4 ranges × >=2 live buckets
    val byBucket = scanParts(dir, Seq(EqualTo("c", 3L)))
    val byRange = scanParts(dir, Seq(GreaterThan("k", 750L)))
    byBucket should be < all
    byRange should be < all
    // both prunings stack on the conjunction
    scanParts(dir, Seq(EqualTo("c", 3L), GreaterThan("k", 750L))) should
      be < math.min(byBucket, byRange)
    // and the pruned read answers exactly
    val back = spark.read.format("graft-avro").load(dir)
    back.filter(F.col("c") === 3L && F.col("k") > 750L).count() shouldBe
      (751L until 800L).count(v => (v * 37L) % 7L == 3L)
  }

  test("requestSort + bucketBy: catalog INSERTs cluster by the bucket ordinal") {
    val root = graft.operators.Catalog.tempDir("graft_bucket_wd")
    spark.conf.set("spark.sql.catalog.graft_wd",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wd.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wd.ns")
    spark.sql("DROP TABLE IF EXISTS graft_wd.ns.t")
    // the table property makes every SQL INSERT self-arranging: Spark
    // clusters rows by bucket(4, k) through the catalog's function, so
    // the job lands ONE file per bucket, not tasks x buckets
    spark.sql("CREATE TABLE graft_wd.ns.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('graft.requestSort'='true')")
    spark.sql("INSERT INTO graft_wd.ns.t SELECT id, id * 2 FROM range(5000)")
    AvroFileSource.listAvro(new File(s"$root/ns/t")).size shouldBe 4
    spark.sql("SELECT count(*) FROM graft_wd.ns.t").head().getLong(0) shouldBe
      5000L
    spark.sql("SELECT sum(v) FROM graft_wd.ns.t").head().getLong(0) shouldBe
      (0L until 5000L).map(_ * 2).sum
  }

  test("compactInPlace preserves the bucket layout") {
    val dir = tmp()
    writeBucketed(dir)
    AvroMaintenance.compactInPlace(spark, dir, targetBytes = 1L << 26)
    AvroFileSource.readBucketSpec(new File(dir)) shouldBe Seq("k" -> 8)
    AvroFileSource.listPartitioned(new File(dir))
      .foreach { case (_, vals) => vals.keySet should contain("k_bucket") }
    val avro = spark.read.format("graft-avro").load(dir)
    avro.count() shouldBe 800
    import org.apache.spark.sql.sources.EqualTo
    scanParts(dir, Seq(EqualTo("k", 42L))) should be < scanParts(dir)
  }

  test("storage-partitioned join: co-bucketed catalog tables join with zero exchanges") {
    val root = graft.operators.Catalog.tempDir("graft_bucket_cat")
    spark.conf.set("spark.sql.catalog.graft_bk",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bk.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bk.spj")
    spark.sql("DROP TABLE IF EXISTS graft_bk.spj.a")
    spark.sql("DROP TABLE IF EXISTS graft_bk.spj.b")
    spark.sql("CREATE TABLE graft_bk.spj.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k)) " +
      "TBLPROPERTIES ('graft.preservePartitioning'='true')")
    spark.sql("CREATE TABLE graft_bk.spj.b (k BIGINT, w STRING) " +
      "PARTITIONED BY (bucket(8, k)) " +
      "TBLPROPERTIES ('graft.preservePartitioning'='true')")
    spark.sql("INSERT INTO graft_bk.spj.a SELECT id, id * 3 FROM range(500)")
    spark.sql("INSERT INTO graft_bk.spj.b " +
      "SELECT id, concat('w', id) FROM range(0, 500, 2)")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val joined = spark.sql(
        "SELECT a.k, a.v, b.w FROM graft_bk.spj.a a " +
          "JOIN graft_bk.spj.b b ON a.k = b.k")
      joined.count() shouldBe 250
      joined.agg(F.sum("v")).head().getLong(0) shouldBe
        (0L until 500L by 2).map(_ * 3).sum
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "Exchange"
      // and a groupBy on the bucket KEY is exchange-free too: equal
      // keys share a bucket partition, so KeyGroupedPartitioning
      // satisfies the aggregation's clustering with no shuffle
      val agg = spark.sql(
        "SELECT k, count(*) AS n, sum(v) AS s FROM graft_bk.spj.a GROUP BY k")
      agg.queryExecution.executedPlan.toString should not include "Exchange"
      agg.count() shouldBe 500
      agg.agg(F.sum("s")).head().getLong(0) shouldBe
        (0L until 500L).map(_ * 3).sum
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
