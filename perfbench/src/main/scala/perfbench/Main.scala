package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, drive its closed loop for the
  * given seconds, check every op, and print the result as the last line of
  * standard output. With `--trace 1` the run traces a seeded random half of
  * its ops, reports per-layer metrics from them, and the difference between
  * traced and untraced ops as tracing overhead.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val code = try run(Cfg.parse(args)) catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def session(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.local.dir", new File(cfg.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(cfg.work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(cfg: Cfg): Int = {
    cfg.work.mkdirs()
    val cpuBefore = Probe.cpu()
    val t0 = System.nanoTime()
    val spark = session(cfg)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(cfg.trace, spark.sparkContext)
    val rec = new Recorder
    val w = Workload(cfg.workload, spark, cfg, tr, rec)
    try {
      // set-up is traced in traced runs (projector builds, table writes), as
      // probe ops so that it stays out of the per-op Spark and self-time figures
      tr.on = cfg.trace; tr.probe = true
      val reps = (0 until cfg.setupReps).map { r =>
        val t = System.nanoTime(); w.setup(r); (System.nanoTime() - t) / 1e9
      }
      tr.on = false; tr.probe = false
      val setupS = sessionS + Stats.median(reps)
      val basesStart = w.bases()

      // a coin per op, not time blocks: block boundaries would alias with
      // the periodic op mixes (every 4th table_write op is a bulk load)
      val coin = new java.util.Random(cfg.seed ^ 0x7aceL)
      val ticksStart = Probe.cpuTicks()
      val runStart = System.nanoTime()
      val deadline = runStart + (cfg.seconds * 1e9).toLong
      while (System.nanoTime() < deadline) {
        val traced = cfg.trace && coin.nextBoolean()
        tr.on = traced
        w.step(traced)
      }
      tr.on = false
      val measuredS = (System.nanoTime() - runStart) / 1e9
      val steal = Probe.stealShare(ticksStart, Probe.cpuTicks())
      if (cfg.trace) {
        tr.on = true; tr.probe = true
        w.probe()
        tr.on = false; tr.probe = false
        tr.drain()
      }
      val basesEnd = w.bases()
      val cpuAfter = Probe.cpu()

      val plain = Metrics.e2e(rec, w.roles, traced = false) ++ Map(
        "setup_s" -> setupS,
        "ops_ok_ratio" -> (1.0 - rec.failed.toDouble / math.max(1L, rec.attempted)))
      val (metrics, missing) =
        if (!cfg.trace) (Metrics.E2eUnits.map { case (n, u) => (n, plain(n), u) }, Nil)
        else {
          val traced = Metrics.e2e(rec, w.roles, traced = true)
          val overhead = traced.map { case (k, v) => k -> (v - plain(k)) }
          val layers = Metrics.layers(tr, w.tableStats(), overhead)
          val all = Metrics.LayerUnits.map { case (n, u) => (n, layers.getOrElse(n, Double.NaN), u) }
          // a layer the run could not observe reads 0 and is listed as missing
          (all.map { case (n, v, u) => (n, if (v.isNaN || v.isInfinite) 0.0 else v, u) },
            all.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1))
        }
      val named = Seq(("setup_s", setupS, "s", cfg.setupReps),
        ("ops_failed_ratio", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio",
          rec.attempted.toInt)) ++ w.named()
      val badE2e = if (cfg.trace) Nil else metrics.filter(m => m._2.isNaN || m._2.isInfinite)
      val correct = rec.failed == 0 && badE2e.isEmpty

      val result = Map(
        "correct" -> correct,
        "attempted" -> rec.attempted,
        "failed" -> rec.failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
          .to(collection.immutable.ListMap))
      val bases = collection.immutable.ListMap(
        "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
        "master" -> spark.sparkContext.master, "cores" -> cfg.cores, "scale" -> cfg.scale,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "seconds" -> cfg.seconds, "measured_s" -> measuredS,
        "session_s" -> sessionS, "setup_reps_s" -> reps,
        "cpu_probe_s" -> Map("before" -> cpuBefore, "after" -> cpuAfter),
        "cpu_steal_share" -> steal,
        "counts" -> Map("start" -> basesStart, "end" -> basesEnd))
      val samples = Seq("append", "bulk_load", "full_scan", "morph", "pruned_read", "readback",
        "record_sql").flatMap(k => Seq(false, true).map(t => (k, t)))
        .filter { case (k, t) => rec.count(k, t) > 0 }
        .map { case (k, t) => s"$k${if (t) ".traced" else ""}" -> rec.count(k, t) }.toMap

      rec.failures.foreach(f => println(s"# check failed: $f"))
      badE2e.foreach(m => println(s"# metric not measured: ${m._1}"))
      missing.foreach(m => println(s"# layer metric not observed: $m"))
      named.foreach { case (n, v, u, k) => println(f"# ${cfg.workload} $n%-24s $v%14.4f $u%-5s n=$k") }
      cfg.out.foreach { f =>
        Option(f.getParentFile).foreach(_.mkdirs())
        val pw = new PrintWriter(f, "UTF-8")
        try pw.println(Json(collection.immutable.ListMap(
          "bases" -> bases, "samples" -> samples,
          "named" -> named.map { case (n, v, u, k) => n -> Map("value" -> v, "unit" -> u, "n" -> k) }
            .to(collection.immutable.ListMap),
          "result" -> result, "failures" -> rec.failures, "missing_layers" -> missing,
          "trace" -> (if (cfg.trace) TraceDump(tr) else null))))
        finally pw.close()
      }
      println(Json(result))
      if (badE2e.nonEmpty) 1 else 0
    } finally {
      w.close()
      spark.stop()
      DirStats.deleteRecursively(cfg.work)
    }
  }
}

/** The traced run's spans, jobs and task aggregates, as written out. */
object TraceDump {
  def apply(tr: Tracer): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val l = tr.listener
    Map(
      "clock" -> Map("epoch_ms0" -> tr.epochMs0, "nano0" -> tr.nano0),
      "aggregates" -> tr.agg.map { case (n, a) => n -> Map("calls" -> a(0), "ns" -> a(1), "units" -> a(2)) },
      "ops" -> tr.opCounts.map { case ((k, p), c) =>
        Map("kind" -> k, "probe" -> p, "traced" -> c(0), "stored" -> c(1)) },
      "spans" -> tr.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.t0 - tr.nano0, s.t1 - tr.nano0,
        if (s.attrs.isEmpty) null else s.attrs)),
      "span_columns" -> Seq("id", "parent", "op", "name", "start_ns", "end_ns", "attrs"),
      "jobs" -> l.jobs.values().asScala.toSeq.sortBy(_.id).map(j =>
        Map("job" -> j.id, "op" -> j.op, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages)),
      "stage_tasks" -> l.tasks.asScala.toSeq.sortBy(_._1).map { case (st, t) =>
        Map("stage" -> st, "tasks" -> t.n, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
          "scheduler_delay_ms" -> t.schedMs, "shuffle_bytes" -> t.shuffleBytes,
          "spill_bytes" -> t.spillBytes, "records_read" -> t.recordsRead, "bytes_read" -> t.bytesRead,
          "records_written" -> t.recordsWritten) })
  }
}
