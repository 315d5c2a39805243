package perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sql.GraftSql.implicits._

/** Rows of a graft-avro table as pure functions of (seed, id), computed by
  * Spark when writing and by the generator when checking answers.
  */
final class TableGen(seed: Long) {
  private val KMask = (1L << 40) - 1
  private val kOff = (seed * 0x632BE5ABL) & KMask
  private val aOff = Math.floorMod(seed, 100003L)
  private val zOff = Math.floorMod(seed, 1000L)

  /** Bloomed key: a bijective scatter of the dense id, so each value names one row. */
  def k(id: Long): Long = (id * 0x9E3779B1L + kOff) & KMask
  def amountCents(id: Long): Long = (id * 7919 + aOff) % 100000
  def zip(id: Long): Long = (id * 31 + zOff) % 90000 + 10000

  def frame(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame = {
    val id = F.col("id")
    spark.range(from, until, 1, parts).select(
      id,
      id.multiply(F.lit(0x9E3779B1L)).plus(F.lit(kOff)).bitwiseAND(F.lit(KMask)).as("k"),
      F.expr(s"CAST(pmod(id * 7919 + $aOff, 100000) / 100.0 AS DECIMAL(12,2))").as("amount"),
      F.struct(
        F.concat(F.lit("p"), id.cast("string")).as("name"),
        F.struct(
          F.concat(F.lit("c"), F.pmod(id, F.lit(97L)).cast("string")).as("city"),
          F.pmod(id.multiply(31).plus(zOff), F.lit(90000L)).plus(10000L).as("zip"),
          F.struct(
            (F.pmod(id, F.lit(1800L)) / 10.0 - 90).as("lat"),
            (F.pmod(id, F.lit(3600L)) / 10.0 - 180).as("lon")).as("geo")
        ).as("address")).as("person"),
      F.timestamp_millis(id.multiply(1000L).plus(1700000000000L)).as("ts"))
  }

  def write(df: DataFrame, dir: File, mode: String): Unit =
    df.write.format("graft-avro").option("sortedBy", "id").option("bloomFor", "k")
      .mode(mode).save(dir.getPath)

  def cents(v: Any): Long = v.asInstanceOf[java.math.BigDecimal].movePointRight(2).longValueExact()
}

/** File-level scan facts read from a planned DataFrame (traced runs only). */
object ScanFiles extends AdaptiveSparkPlanHelper {
  /** (distinct data files planned, bytes planned) over the plan's v2 scans;
    * input partitions that carry no file (metadata-answered) count for none.
    */
  def apply(df: DataFrame): (Int, Long) = {
    val parts = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .flatMap(b => Try(b.inputPartitions).getOrElse(Nil))
    def field[T](p: AnyRef, name: String): Option[T] =
      Try(p.getClass.getMethod(name).invoke(p).asInstanceOf[T]).toOption
    // a split's byte range, clipped to its file (whole-file splits end at Long.MaxValue)
    val ranges = parts.flatMap { p =>
      field[String](p, "file").map { f =>
        val len = new File(f.stripPrefix("file:")).length()
        (f, math.max(0L, math.min(len, field[Long](p, "end").getOrElse(len)) -
          field[Long](p, "start").getOrElse(0L)))
      }
    }
    (ranges.map(_._1).distinct.size, ranges.map(_._2).sum)
  }
}

/** Shared read path: `load()` plus `df.sql` under the scan span. */
trait TableOps { self: Workload =>
  def gen: TableGen

  def load(dir: File): DataFrame =
    tr.span("sources.load")(spark.read.format("graft-avro").load(dir.getPath))

  def sql(df: DataFrame, q: String): DataFrame = tr.span("sql.df_sql")(df.sql(q))

  /** Traced runs: file and row facts of the last scan, outside its timing. */
  def scanFacts(df: => DataFrame, filesTotal: Int, rowsReturned: Long): Unit = if (tr.on) {
    val (files, bytes) = ScanFiles(df)
    tr.attr("sources.scan", "filesPlanned", files)
    tr.attr("sources.scan", "filesTotal", filesTotal)
    tr.attr("sources.scan", "bytesPlanned", bytes.toDouble)
    tr.attr("sources.scan", "rowsReturned", rowsReturned.toDouble)
  }

  /** Traced runs: what one commit added, from listings around the save. */
  def commitFacts(before: DirStats, after: DirStats, rows: Long): Unit = if (tr.on) {
    tr.attr("sources.save", "metaBytes", after.metaBytesSince(before).toDouble)
    tr.attr("sources.save", "files", after.dataFilesSince(before).toDouble)
    tr.attr("sources.save", "rows", rows.toDouble)
  }

  def dirBases(dir: File): Map[String, Any] = {
    val d = DirStats.of(dir)
    Map("data_files" -> d.dataFiles, "data_bytes" -> d.dataBytes,
      "meta_files" -> d.metaFiles, "meta_bytes" -> d.metaBytes)
  }

  def dirTableStats(dir: File): Map[String, Double] = {
    val d = DirStats.of(dir)
    Map("data_files" -> d.dataFiles.toDouble,
      "meta_bytes_per_data_byte" -> d.metaBytes.toDouble / math.max(1L, d.dataBytes))
  }
}
