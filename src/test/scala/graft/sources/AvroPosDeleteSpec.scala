package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Positional deletes: specific physical rows die by ordinal, exactly at
  * decode, in batch AND in combination with equality deletes; byte-range
  * splits stay exact (each range seeds its ordinal from a block-header
  * prefix walk); dense delete sets persist as deletion-vector bitmaps;
  * COUNT(*) pushdown subtracts the dead rows exactly; metadata MIN/MAX
  * self-disables; compaction materializes and clears; historical reads
  * refuse while pending.
  */
class AvroPosDeleteSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_posdel")

  private def rels(dir: String): Seq[String] =
    AvroFileSource.listAvro(new java.io.File(dir)).map(_.getName)

  test("ordinals die exactly; equality deletes compose; count is real") {
    val dir = tmp()
    spark.range(100).selectExpr("id as k", "id * 3 as v").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val rel = rels(dir).head
    // rows are written in id order (single task, range source)
    AvroMaintenance.deleteAtPositions(dir, rel, Seq(0L, 7L, 99L))
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 97
    back.agg(F.sum("k")).head().getLong(0) shouldBe
      (0L until 100L).sum - 0L - 7L - 99L
    // equality delete on top: both flavors apply in one read
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(50L))
    spark.read.format("graft-avro").load(dir).count() shouldBe 96
  }

  test("positions are validated against the physical row count") {
    val dir = tmp()
    spark.range(10).selectExpr("id as k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    intercept[IllegalArgumentException] {
      AvroMaintenance.deleteAtPositions(dir, rels(dir).head, Seq(10L))
    }
    intercept[IllegalArgumentException] {
      AvroMaintenance.deleteAtPositions(dir, "_graft_zones", Seq(0L))
    }
  }

  test("byte-range splits keep ordinals absolute: deletes land exactly") {
    val dir = tmp()
    spark.range(20000)
      .selectExpr("id as k", "repeat('x', 200) as pad").coalesce(1)
      .write.format("graft-avro").option("codec", "null")
      .mode("overwrite").save(dir)
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      ScanSplits.count(df)
    def load() = spark.read.format("graft-avro")
      .option("maxSplitBytes", "262144").load(dir)
    parts(load()) should be > 1
    // ordinals scattered across the whole file, including block
    // boundaries every split must count past
    val dead = Seq(0L, 5L, 4999L, 5000L, 9999L, 15000L, 19999L)
    AvroMaintenance.deleteAtPositions(dir, rels(dir).head, dead)
    parts(load()) should be > 1 // splitting SURVIVES the sidecar
    load().count() shouldBe (20000 - dead.size)
    // rows written in id order by one task: ordinal == k, so exactly
    // these keys must be gone — a mis-seeded split would shift them
    load().agg(F.sum("k")).head().getLong(0) shouldBe
      ((0L until 20000L).sum - dead.sum)
    // _graft_pos stays absolute across splits too
    val pos = load().selectExpr("k", "_graft_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    pos(1L) shouldBe 1L
    pos(10000L) shouldBe 10000L
    pos(19998L) shouldBe 19998L
  }

  test("recordsBefore agrees with the reader's own block walk") {
    val dir = tmp()
    spark.range(30000).selectExpr("id as k", "repeat('y', 120) as pad")
      .coalesce(1).write.format("graft-avro").option("codec", "null")
      .mode("overwrite").save(dir)
    val f = AvroFileSource.listAvro(new java.io.File(dir)).head
    def oracle(start: Long): Long = {
      val r = new org.apache.avro.file.DataFileReader[AnyRef](f,
        new org.apache.avro.generic.GenericDatumReader[AnyRef]())
      var n = 0L
      try while (r.hasNext && !r.pastSync(start)) {
        n += r.getBlockCount; r.nextBlock()
      } finally r.close()
      n
    }
    val len = f.length()
    val starts = Seq(1L, 100L, len / 7, len / 3, len / 2, len - 1, len)
    starts.foreach { s =>
      AvroFileSource.recordsBefore(f, s) shouldBe oracle(s)
    }
    AvroFileSource.recordsBefore(f, 0L) shouldBe 0L
  }

  test("dense delete sets persist as deletion-vector bitmaps") {
    val dir = tmp()
    spark.range(10000).selectExpr("id as k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    // every even ordinal: CSV would be ~24 KB, the bitmap ~1.7 KB
    AvroMaintenance.deleteAtPositions(dir, rels(dir).head,
      (0L until 10000L by 2).toSeq)
    val sidecar = AvroFileSource.posdelFile(new java.io.File(dir))
    val line = scala.io.Source.fromFile(sidecar, "UTF-8").getLines().next()
    line.split('\t')(1) should startWith("B:")
    val back = spark.read.format("graft-avro").load(dir)
    back.count() shouldBe 5000
    back.agg(F.sum("k")).head().getLong(0) shouldBe
      (1L until 10000L by 2).sum
    // merging more positions re-reads the bitmap correctly
    AvroMaintenance.deleteAtPositions(dir, rels(dir).head, Seq(1L, 3L))
    spark.read.format("graft-avro").load(dir).count() shouldBe 4998
  }

  test("COUNT(*) pushdown subtracts positional deletes exactly") {
    val dir = tmp()
    spark.range(5000).selectExpr("id as k").repartition(3)
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.deleteAtPositions(dir, rels(dir).head, Seq(0L, 1L, 2L))
    AvroMaintenance.deleteAtPositions(dir, rels(dir).last, Seq(7L))
    val counted = spark.read.format("graft-avro").load(dir)
      .agg(F.count(F.lit(1)))
    counted.queryExecution.executedPlan.toString should
      include("PushedAggregation: [COUNT(*)]")
    counted.head().getLong(0) shouldBe 4996L
  }

  test("historical reads apply each snapshot's journaled posdel overlay") {
    val dir = tmp()
    spark.range(10).selectExpr("id as k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir) // v1
    spark.range(10, 20).selectExpr("id as k").coalesce(1)
      .write.format("graft-avro").mode("append").save(dir) // v2
    AvroMaintenance.deleteAtPositions(dir, rels(dir).head, Seq(1L)) // v3
    // pre-delete versions serve the rows alive; the posdel version
    // applies its own recorded overlay — never the live sidecar
    def at(v: Int): Long =
      spark.read.format("graft-avro").option("versionAsOf", v.toString)
        .load(dir).count()
    at(1) shouldBe 10L
    at(2) shouldBe 20L
    at(3) shouldBe 19L
    // the posdel version replays identically to the live read
    val liveSum = spark.read.format("graft-avro").load(dir)
      .agg(F.sum("k")).head().getLong(0)
    spark.read.format("graft-avro").option("versionAsOf", "3").load(dir)
      .agg(F.sum("k")).head().getLong(0) shouldBe liveSum
    // a LEGACY overlay (sidecar mutated without journaling) still
    // refuses: its arrival versions are unknowable
    AvroFileSource.writePosdelSidecar(new java.io.File(dir),
      AvroFileSource.readPosdel(new java.io.File(dir)) +
        (rels(dir).head -> Array(1L, 2L)))
    val err = intercept[Exception] {
      spark.read.format("graft-avro").option("versionAsOf", "1")
        .load(dir).count()
    }
    err.getMessage should include("compact first")
  }

  test("compaction materializes positional deletes and clears the sidecar") {
    val dir = tmp()
    val out = tmp()
    spark.range(30).selectExpr("id as k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.deleteAtPositions(dir, rels(dir).head, Seq(0L, 29L))
    AvroMaintenance.compactTo(spark, dir, out, 1L << 30)
    AvroFileSource.posdelFile(new java.io.File(out)).isFile shouldBe false
    val back = spark.read.format("graft-avro").load(out)
    back.count() shouldBe 28
    back.agg(F.min("k"), F.max("k")).head() match {
      case r => (r.getLong(0), r.getLong(1)) shouldBe (1L, 28L)
    }
  }
}
