package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plain batch scans pack small files into one task per core with
  * Spark's FilePartition rule. Reads here run twice, both ways through
  * Spark's own confs: packed as far as the rule allows
  * (`spark.sql.files.minPartitionNum` 1), and unpacked
  * (`spark.sql.files.openCostInBytes` far above the split size gives
  * each split a partition of its own). Both must return the same rows
  * in the same order. Order-reporting scans chain files only in
  * strictly ascending, null-free key ranges; keyed scans never pack.
  */
class ScanPackingSpec extends AnyFunSuite with SparkSpec with Matchers
    with AdaptiveSparkPlanHelper {

  private def tmp() = graft.operators.Catalog.tempDir("graft_packing")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One split per partition. */
  private def unpacked[T](body: => T): T =
    withConf("spark.sql.files.openCostInBytes" -> (1L << 40).toString)(body)

  /** One core's worth of packing: every split that may chain, chains. */
  private def onePack[T](body: => T): T =
    withConf("spark.sql.files.minPartitionNum" -> "1")(body)

  private def parts(df: DataFrame): Seq[InputPartition] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .head.inputPartitions

  private def packedIn(df: DataFrame): Boolean =
    parts(df).exists(_.isInstanceOf[AvroPackedPartition])

  private def load(dir: String): DataFrame =
    spark.read.format("graft-avro").load(dir)

  private def rels(dir: String): Seq[String] =
    AvroFileSource.listAvro(new File(dir)).map(_.getName).sorted

  /** Packed (under [[onePack]]) and unpacked reads of `q` return the
    * same rows in the same order, from the same splits; the packed plan
    * really packs.
    */
  private def sameAsUnpacked(q: => DataFrame): Seq[Row] = {
    val (packedDf, packed) = onePack {
      val df = q
      packedIn(df) shouldBe true
      (df, df.collect().toSeq)
    }
    val plain = unpacked {
      val df = q
      packedIn(df) shouldBe false
      (df.collect().toSeq, ScanSplits.count(df))
    }
    packed shouldBe plain._1
    onePack(ScanSplits.count(packedDf)) shouldBe plain._2
    packed
  }

  /** 16 one-file appends, file i holding k in [100i, 100i + 100). */
  private def writeSixteen(dir: String): Unit =
    (0 until 16).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L).toDF("k")
        .withColumn("g", F.col("k") % 7)
        .withColumn("s", F.concat(F.lit("v"), F.col("k").cast("string")))
        .withColumn("arr", F.array(F.struct(F.col("g").as("x"))))
        .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    }

  test("small files pack into about one partition per core") {
    val dir = tmp()
    writeSixteen(dir)
    val df = load(dir)
    ScanSplits.count(df) shouldBe 16
    ScanSplits.files(df) shouldBe 16
    parts(df).size should be <= spark.sparkContext.defaultParallelism
    unpacked(parts(load(dir)).size) shouldBe 16
  }

  test("row and columnar paths return the same rows, in the same order") {
    val dir = tmp()
    writeSixteen(dir)
    // arrays of structs decode on the row path
    sameAsUnpacked(load(dir)).size shouldBe 1600
    val flat = sameAsUnpacked(load(dir).select("k", "g", "s"))
    flat.map(_.getLong(0)).sorted shouldBe (0L until 1600L)
    collect(load(dir).select("k", "g", "s").queryExecution.executedPlan) {
      case b: BatchScanExec => b.supportsColumnar
    } shouldBe Seq(true)
    sameAsUnpacked(load(dir).filter("g = 3 and s like 'v1%'"))
      .foreach(r => r.getLong(0) % 7 shouldBe 3L)
  }

  test("zero-decode COUNT(*) with decided filters, and posdel adjustment") {
    val dir = tmp()
    writeSixteen(dir)
    def counts(): Seq[Long] = onePack(Seq(
      load(dir).count(),
      load(dir).filter("k >= 400 and k < 1200").count(),
      load(dir).filter("k >= 1500").count()))
    val plain = unpacked(counts())
    counts() shouldBe plain
    plain shouldBe Seq(1600L, 800L, 100L)
    onePack(packedIn(load(dir).filter("k >= 400 and k < 1200")
      .groupBy().count())) shouldBe true

    AvroMaintenance.deleteAtPositions(dir, rels(dir).head, Seq(0L, 5L, 99L))
    val afterDel = unpacked(counts())
    counts() shouldBe afterDel
    afterDel.head shouldBe 1597L
    parts(load(dir).groupBy().count())
      .count(_.isInstanceOf[AvroCountAdjustPartition]) shouldBe 1
  }

  test("_graft_file, _graft_pos, equality and positional deletes") {
    val dir = tmp()
    writeSixteen(dir)
    AvroMaintenance.deleteAtPositions(dir, rels(dir)(3), Seq(1L, 2L))
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(7L, 777L, 1555L))
    val rows = sameAsUnpacked(load(dir)
      .select("k", AvroFileSource.MetaFile, AvroFileSource.MetaPos))
    rows.size shouldBe 1600 - 2 - 3
    rows.map(_.getLong(0)) should contain noneOf (7L, 777L, 1555L)
    // each file holds one contiguous k block in append order: the
    // ordinal is k's offset inside its block
    rows.foreach(r => r.getLong(2) shouldBe r.getLong(0) % 100)
    rows.groupBy(_.getString(1)).keySet shouldBe rels(dir).toSet
    sameAsUnpacked(load(dir).select("k", "g")).size shouldBe 1595
  }

  test("a pushed LIMIT stops the chain, on both decode paths") {
    val dir = tmp()
    writeSixteen(dir)
    val full = load(dir).schema
    val required = StructType(Seq(StructField("k", LongType)))
    val files = AvroFileSource.listAvro(new File(dir)).take(3)
    val pack = AvroPackedPartition(files.map(f =>
      AvroInputPartition(f.getAbsolutePath, 0L, Long.MaxValue)))
    val byFile = unpacked(load(dir).select("k", AvroFileSource.MetaFile)
      .collect().toSeq).groupMap(_.getString(1))(_.getLong(0))
    val expected = files.flatMap(f => byFile(f.getName)).take(150)
    val rows = AvroReaderFactory(required, full, limit = Some(150))
      .createReader(pack)
    val got = Iterator.continually(rows.next()).takeWhile(identity)
      .map(_ => rows.get().getLong(0)).toList
    rows.close()
    got shouldBe expected
    val cols = AvroReaderFactory(required, full, limit = Some(150),
      columnarBatch = 64).createColumnarReader(pack)
    val gotCols = Iterator.continually(cols.next()).takeWhile(identity)
      .flatMap { _ =>
        val b = cols.get()
        (0 until b.numRows()).map(i => b.column(0).getLong(i))
      }.toList
    cols.close()
    gotCols shouldBe expected

    load(dir).limit(250).collect().map(_.getLong(0)).distinct.length shouldBe
      250
  }

  test("block-index chunks and files past maxSplitBytes pack exactly") {
    val dir = tmp()
    spark.range(0, 40000L).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    // two disjoint slices survive as two chunk ranges of the one file
    val sliced = sameAsUnpacked(load(dir).filter("k < 3000 or k > 37000"))
    sliced.map(_.getLong(0)) shouldBe ((0L until 3000L) ++ (37001L until 40000L))
    ScanSplits.count(load(dir).filter("k < 3000 or k > 37000")) shouldBe 2

    // one file split at 64 KB, then small files: with a 1 KB open cost
    // the big file's tail range and the small files share partitions
    val mixed = tmp()
    spark.range(0, 40000L).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).write.format("graft-avro").mode("append").save(mixed)
    (0 until 8).foreach { i =>
      spark.range(40000L + i * 10L, 40010L + i * 10L).toDF("k")
        .withColumn("payload", F.lit("p"))
        .coalesce(1).write.format("graft-avro").mode("append").save(mixed)
    }
    def big() = spark.read.format("graft-avro")
      .option("maxSplitBytes", 64 * 1024).load(mixed)
    withConf("spark.sql.files.openCostInBytes" -> "1024") {
      ScanSplits.count(big()) should be > 4 + 8
      sameAsUnpacked(big()).map(_.getLong(0)).sorted shouldBe (0L until 40080L)
      sameAsUnpacked(big().select(AvroFileSource.MetaPos, "k"))
        .filter(_.getLong(1) < 40000L)
        .foreach(r => r.getLong(0) shouldBe r.getLong(1))
    }
  }

  /** Per-partition key sequences of a scan (nulls as None). */
  private def keysByPartition(df: DataFrame): Seq[Seq[Option[Long]]] =
    df.select("k").rdd.glom().collect().toSeq
      .map(_.toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))))

  private def sortedNullsFirst(ks: Seq[Option[Long]]): Boolean =
    ks.sliding(2).forall {
      case Seq(Some(a), Some(b)) => a <= b
      case Seq(Some(_), None) => false
      case _ => true
    }

  test("a sorted table of disjoint files chains into ordered partitions") {
    val dir = tmp()
    spark.range(0, 1600).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(16, F.col("k")).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    onePack {
      val df = load(dir)
      parts(df).size shouldBe 1
      ScanSplits.count(df) shouldBe 16
      keysByPartition(df).head shouldBe (0L until 1600L).map(Some(_))
      df.sortWithinPartitions("k").queryExecution.executedPlan.collect {
        case s: SortExec => s
      } shouldBe empty
    }
    val byPart = keysByPartition(load(dir))
    byPart.size should be <= spark.sparkContext.defaultParallelism
    byPart.foreach(ks => sortedNullsFirst(ks) shouldBe true)
  }

  test("overlapping and null-leading files never chain after another file") {
    val dir = tmp()
    // nullable key: null-freedom must come from the `cnt:` cells
    def nullableK(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(F.when(F.col("id") >= 0, F.col("id")).as("k"))
    def append(df: DataFrame): Unit = df.coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("append").save(dir)
    (0 until 6).foreach(i => append(nullableK(i * 100L, i * 100L + 100L)))
    append(nullableK(50, 150)) // overlaps the first file
    append(nullableK(1000, 1100).union(
      spark.range(3).select(F.lit(null).cast("long").as("k"))))
    append(nullableK(2000, 2100))
    AvroFileSource.sortedColumnOf(new File(dir)) shouldBe Some("k")
    val files = load(dir).select("k", AvroFileSource.MetaFile).collect()
      .toSeq.groupBy(_.getString(1)).map { case (rel, rs) =>
        val ks = rs.filterNot(_.isNullAt(0)).map(_.getLong(0))
        new File(dir, rel).getAbsolutePath ->
          (ks.min, ks.max, rs.exists(_.isNullAt(0)))
      }
    files.size shouldBe 9
    onePack {
      val df = load(dir)
      val chains = parts(df).map(p => AvroReaderFactory.splits(p).map(_.file))
      chains.flatten.toSet shouldBe files.keySet
      // a file follows another only above its max and with no null
      chains.foreach(_.sliding(2).foreach {
        case Seq(a, b) if a != b =>
          files(a)._2 should be < files(b)._1
          files(b)._3 shouldBe false
        case _ => ()
      })
      // the disjoint null-free files did chain somewhere
      chains.exists(_.distinct.size > 1) shouldBe true
      keysByPartition(df).foreach(ks => sortedNullsFirst(ks) shouldBe true)
      df.sortWithinPartitions("k").queryExecution.executedPlan.collect {
        case s: SortExec => s
      } shouldBe empty
    }
  }

  test("keyed scans are never packed") {
    val dir = tmp()
    spark.range(0, 1600).toDF("k")
      .withColumn("g", F.col("k") % 4)
      .repartition(16)
      .write.format("graft-avro").option("partitionBy", "g")
      .mode("overwrite").save(dir)
    onePack {
      val keyed = spark.read.format("graft-avro")
        .option("preservePartitioning", "true").load(dir)
      val ps = parts(keyed)
      ps.size should be > 4
      ps.foreach(_ shouldBe a[AvroKeyedPartition])
      keyed.count() shouldBe 1600
      packedIn(load(dir)) shouldBe true
    }
  }

  test("copy-on-write UPDATE over a packed scan replaces exactly its files") {
    val root = graft.operators.Catalog.tempDir("graft_packing_rl")
    spark.conf.set("spark.sql.catalog.graft_pk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pk.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_pk.lab")
    spark.sql("CREATE TABLE graft_pk.lab.u (k BIGINT, v BIGINT)")
    val dir = s"$root/lab/u"
    (0 until 8).foreach { i =>
      spark.range(i * 50L, i * 50L + 50L).selectExpr("id as k", "id as v")
        .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    }
    val before = rels(dir).toSet
    before.size shouldBe 8
    onePack {
      packedIn(load(dir)) shouldBe true
      // matches in two of the eight files
      spark.sql("UPDATE graft_pk.lab.u SET v = v * 10 WHERE k < 10 OR k >= 390")
    }
    val after = rels(dir).toSet
    (before intersect after).size shouldBe 6
    val t = spark.sql("SELECT k, v FROM graft_pk.lab.u").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.size shouldBe 400
    t.foreach { case (k, v) =>
      v shouldBe (if (k < 10 || k >= 390) k * 10 else k)
    }
  }
}
