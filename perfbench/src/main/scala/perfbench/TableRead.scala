package perfbench

import java.io.File

import org.apache.spark.sql.{Observation, SparkSession, functions => F}
import org.apache.spark.sql.types.StructType

import graft.sql.GraftSql

/** `table_read`: a seeded mix of full-table `df.sql` projections into the
  * `noop` sink and selective reads that are collected, on one graft-avro
  * table built in setup (sorted by a dense id, bloom on a scattered key).
  * Nothing is written while timing, so metadata caches stay warm.
  */
final class TableRead(spark: SparkSession, cfg: Cfg, tr: Tracer, rec: Recorder)
    extends Workload(spark, cfg, tr, rec) with TableOps {

  val roles: Roles = Roles(fast = "pruned_read", slow = "full_scan", throughput = "full_scan")
  val gen = new TableGen(cfg.seed)
  private val rng = new java.util.Random(cfg.seed)
  private val rows = math.max(2000L, (60000 * cfg.scale).toLong)
  private val files = 24
  private var dir: File = _
  private var filesTotal = 0
  private var schema: StructType = _
  /** Half the ops are full scans; selective reads alternate range and point. */
  private val kinds = new Deck(Seq(true, true, false, false), rng)
  private val rangeLens = new Deck(Seq(0, 100, 400, 0, 1000, 2000), rng)
  private val queryPick = new Deck(Seq(0, 1), rng)

  private val scanQueries = Vector(
    "SELECT id, person.name AS who, person.address.city AS city, " +
      "person.address.geo.lat AS lat, amount, ts FROM t",
    "SELECT id, person.address.zip, person.address.geo, amount FROM t withstructure")
  private val pointQuery = "SELECT id, amount, person.address.zip AS zip FROM t"

  def setup(rep: Int): Unit = {
    if (dir != null) DirStats.deleteRecursively(dir)
    dir = new File(cfg.work, s"table_read_$rep")
    tr.op("setup_write") {
      tr.span("sources.save")(gen.write(gen.frame(spark, 0, rows, files), dir, "overwrite"))
    }
    if (tr.on) commitFacts(DirStats.of(new File(cfg.work, "none")), DirStats.of(dir), rows)
    filesTotal = DirStats.of(dir).dataFiles
    schema = spark.read.format("graft-avro").load(dir.getPath).schema
    (0 until 3).foreach(_ => fullScan(traced = false, live = false))
    (0 until 8).foreach(_ => prunedRead(traced = false, live = false))
  }

  private def fullScan(traced: Boolean, live: Boolean): Unit = {
    val q = scanQueries(queryPick.next())
    tr.measure("sql.plan")(GraftSql.plan(q, schema))
    var out: org.apache.spark.sql.DataFrame = null
    val obs = Observation("rows")
    val run = () => tr.span("sources.scan") {
      out = sql(load(dir), q)
      out.observe(obs, F.count(F.lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    if (live) timed("full_scan", traced, rows)(run()) else { run(); rec.attempted += 1 }
    val n = obs.get("n").asInstanceOf[Long]
    rec.check(n == rows, s"full_scan returned $n rows, expected $rows")
    scanFacts(out, filesTotal, n)
  }

  private def prunedRead(traced: Boolean, live: Boolean): Unit = {
    // length 0 draws a point read on the bloomed key, else an id range
    val len = rangeLens.next()
    val range = len > 0
    val lo = (rng.nextDouble() * (rows - len)).toLong
    val hi = if (range) lo + len else lo + 1
    tr.measure("sql.plan")(GraftSql.plan(pointQuery, schema))
    var df: org.apache.spark.sql.DataFrame = null
    val run = () => tr.span("sources.scan") {
      val t = load(dir)
      val filtered =
        if (range) t.filter(F.col("id") >= lo && F.col("id") < hi)
        else t.filter(F.col("k") === gen.k(lo))
      df = sql(filtered, pointQuery)
      df.collect()
    }
    val got = if (live) timed("pruned_read", traced, hi - lo)(run()) else { rec.attempted += 1; run() }
    val ids = got.map(_.getLong(0))
    val sum = got.map(r => gen.cents(r.get(1))).sum
    val zipOk = got.forall(r => r.getLong(2) == gen.zip(r.getLong(0)))
    rec.check(got.length == hi - lo && ids.min == lo && ids.max == hi - 1 &&
      sum == (lo until hi).map(gen.amountCents).sum && zipOk,
      s"pruned_read [$lo,$hi) range=$range returned ${got.length} rows")
    scanFacts(df, filesTotal, got.length)
  }

  def step(traced: Boolean): Unit =
    if (kinds.next()) fullScan(traced, live = true)
    else prunedRead(traced, live = true)

  def named(): Seq[(String, Double, String, Int)] = {
    val f = rec.get("full_scan", traced = false).ns.sorted
    val p = rec.get("pruned_read", traced = false).ns.sorted
    Seq(
      ("full_scan_p50_ms", Stats.pct(f, 50) / 1e6, "ms", f.length),
      ("full_scan_p90_ms", Stats.pct(f, 90) / 1e6, "ms", f.length),
      ("pruned_read_p50_ms", Stats.pct(p, 50) / 1e6, "ms", p.length),
      ("pruned_read_p99_ms", Stats.pct(p, 99) / 1e6, "ms", p.length))
  }

  def bases(): Map[String, Any] = Map("table_rows" -> rows) ++ dirBases(dir)

  override def tableStats(): Map[String, Double] = dirTableStats(dir)

  def probe(): Unit = RecordMorph.probe(spark, cfg, tr, rec)

  override def close(): Unit = if (dir != null) DirStats.deleteRecursively(dir)
}
