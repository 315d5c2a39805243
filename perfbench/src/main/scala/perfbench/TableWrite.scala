package perfbench

import java.io.File

import org.apache.spark.sql.{SparkSession, functions => F}

/** `table_write`: appends to a graft-avro table that starts with a few
  * hundred files. Most ops are micro-batch appends, every `bulkEvery`-th a
  * bulk load, and each is followed by a read-back whose count must equal
  * the rows appended so far. Every commit invalidates the table's metadata
  * caches, so read-backs plan cold.
  */
final class TableWrite(spark: SparkSession, cfg: Cfg, tr: Tracer, rec: Recorder,
    tag: String = "table_write") extends Workload(spark, cfg, tr, rec) with TableOps {

  val roles: Roles = Roles(fast = "append", slow = "readback", throughput = "bulk_load")
  val gen = new TableGen(cfg.seed)
  private val rng = new java.util.Random(cfg.seed)
  private val initFiles = math.max(8, (240 * cfg.scale).toInt)
  private val initRows = initFiles * 100L
  private val bulkEvery = 4
  // micro-batches stay small so that per-commit cost, not encoding, sets an
  // append's latency; encoding throughput is what bulk loads measure
  private val appendSizes = new Deck((1 to 8).map(_ * 1000), rng)
  private val bulkSizes = new Deck(Seq(40000, 60000, 80000), rng)
  private def appendRows() = math.max(10, (appendSizes.next() * cfg.scale).toInt)
  private def bulkRows() = math.max(100, (bulkSizes.next() * cfg.scale).toInt)
  private var dir: File = _
  private var nextId = 0L
  private var ops = 0L

  def setup(rep: Int): Unit = {
    if (dir != null) DirStats.deleteRecursively(dir)
    dir = new File(cfg.work, s"${tag}_$rep")
    ops = 0L
    tr.op("setup_write") {
      tr.span("sources.save")(gen.write(gen.frame(spark, 0, initRows, initFiles), dir, "overwrite"))
    }
    if (tr.on) commitFacts(DirStats.of(new File(cfg.work, "none")), DirStats.of(dir), initRows)
    nextId = initRows
    (0 until 3).foreach { _ => save("append", appendRows(), 1, traced = false, live = false)
      readback(traced = false, live = false) }
  }

  private def save(kind: String, n: Int, parts: Int, traced: Boolean, live: Boolean): Unit = {
    val before = if (tr.on) DirStats.of(dir) else null
    val df = gen.frame(spark, nextId, nextId + n, parts)
    val run = () => tr.span("sources.save")(gen.write(df, dir, "append"))
    if (live) timed(kind, traced, n)(run()) else { run(); rec.attempted += 1 }
    nextId += n
    if (tr.on) commitFacts(before, DirStats.of(dir), n)
  }

  private def readback(traced: Boolean, live: Boolean): Unit = {
    val filesTotal = if (tr.on) DirStats.of(dir).dataFiles else 0
    var df: org.apache.spark.sql.DataFrame = null
    val run = () => tr.span("sources.scan") {
      df = load(dir).filter(F.col("id") >= initRows).agg(F.count(F.lit(1)))
      df.collect()(0).getLong(0)
    }
    val n = if (live) timed("readback", traced, 1)(run()) else { rec.attempted += 1; run() }
    rec.check(n == nextId - initRows, s"readback counted $n rows, appended ${nextId - initRows}")
    scanFacts(df, filesTotal, n)
  }

  def step(traced: Boolean): Unit = {
    ops += 1
    if (ops % bulkEvery == 2) save("bulk_load", bulkRows(), cfg.cores, traced, live = true)
    else save("append", appendRows(), 1, traced, live = true)
    readback(traced, live = true)
  }

  def named(): Seq[(String, Double, String, Int)] = {
    val a = rec.get("append", traced = false).ns.sorted
    val r = rec.get("readback", traced = false).ns.sorted
    Seq(
      ("append_p50_ms", Stats.pct(a, 50) / 1e6, "ms", a.length),
      ("append_p90_ms", Stats.pct(a, 90) / 1e6, "ms", a.length),
      ("readback_p50_ms", Stats.pct(r, 50) / 1e6, "ms", r.length),
      ("readback_p90_ms", Stats.pct(r, 90) / 1e6, "ms", r.length),
      ("bulk_load_rows_per_s", rec.unitsPerS("bulk_load", traced = false), "1/s",
        rec.count("bulk_load", traced = false)))
  }

  def bases(): Map[String, Any] = Map("table_rows" -> nextId) ++ dirBases(dir)

  override def tableStats(): Map[String, Double] = dirTableStats(dir)

  def probe(): Unit = RecordMorph.probe(spark, cfg, tr, rec)

  override def close(): Unit = if (dir != null) DirStats.deleteRecursively(dir)
}
