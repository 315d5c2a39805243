package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run. */
final case class Cfg(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: File, out: Option[File], cores: Int, scale: Double, setupReps: Int)

object Cfg {
  def parse(args: Array[String]): Cfg = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Cfg(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = new File(need("work")),
      out = m.get("out").map(new File(_)),
      cores = m.get("cores").map(_.toInt).getOrElse(4),
      scale = m.get("scale").map(_.toDouble).getOrElse(1.0),
      setupReps = m.get("setup-reps").map(_.toInt).getOrElse(3))
  }
}

/** One workload: a closed loop of ops from a single client thread. */
abstract class Workload(val spark: SparkSession, val cfg: Cfg, val tr: Tracer, val rec: Recorder) {
  def roles: Roles
  /** Build inputs (a fresh copy each repetition) and warm up. */
  def setup(rep: Int): Unit
  /** Run the next op (or op pair) of the seeded mix, record and check it. */
  def step(traced: Boolean): Unit
  /** The workload's end-to-end numbers under their per-op-kind names. */
  def named(): Seq[(String, Double, String, Int)]
  /** Record, row, file and byte counts, taken at the start and end of a run. */
  def bases(): Map[String, Any]
  /** Data files and metadata share of the workload's table, if it has one. */
  def tableStats(): Map[String, Double] = Map.empty
  /** Traced runs only: ops on the layers this workload's own mix misses. */
  def probe(): Unit
  def close(): Unit = ()

  /** Time one op; the result is checked by the caller outside the timed region. */
  @inline final def timed[T](kind: String, traced: Boolean, units: Long, jobs: Boolean = true)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = tr.op(kind, jobs)(f)
    rec.add(kind, traced, System.nanoTime() - t0, units)
    r
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, cfg: Cfg, tr: Tracer, rec: Recorder): Workload =
    name match {
      case "record_morph" => new RecordMorph(spark, cfg, tr, rec)
      case "table_read" => new TableRead(spark, cfg, tr, rec)
      case "table_write" => new TableWrite(spark, cfg, tr, rec)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (record_morph, table_read, table_write)")
    }
}
