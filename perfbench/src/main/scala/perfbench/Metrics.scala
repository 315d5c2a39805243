package perfbench

import scala.collection.mutable

/** Per-op latencies and work units, split by op kind and by whether the op
  * ran traced; plus the attempted/failed tally the result line reports.
  */
final class Recorder {
  final class Series {
    val ns = new LongBuf
    var units = 0L
  }
  private val series = mutable.LinkedHashMap.empty[(String, Boolean), Series]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def get(kind: String, traced: Boolean): Series =
    series.getOrElseUpdate((kind, traced), new Series)

  def add(kind: String, traced: Boolean, ns: Long, units: Long): Unit = {
    val s = get(kind, traced)
    s.ns += ns; s.units += units
    attempted += 1
  }

  /** An op's output check; only the first few failures keep their message. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def count(kind: String, traced: Boolean): Int = get(kind, traced).ns.size

  def pctMs(kind: String, traced: Boolean, p: Double): Double =
    Stats.pct(get(kind, traced).ns.sorted, p) / 1e6

  /** Units (records or rows) per second of time spent in ops of `kind`. */
  def unitsPerS(kind: String, traced: Boolean): Double = {
    val s = get(kind, traced)
    s.units / (s.ns.sum / 1e9)
  }
}

/** The op kinds behind a workload's end-to-end metrics. Every workload maps
  * the same metric names onto its own ops, so every run reports every name.
  */
final case class Roles(fast: String, slow: String, throughput: String)

object Metrics {
  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_ok_ratio" -> "ratio",
    "fast_op_p50_ms" -> "ms", "fast_op_p75_ms" -> "ms",
    "slow_op_p50_ms" -> "ms", "slow_op_p75_ms" -> "ms",
    "rows_per_s" -> "1/s")

  /** End-to-end metrics from one mode's ops (`traced` = the traced ones). The
    * tail is p75: a 12-second run of a table workload holds 15–60 ops of a
    * kind, so a higher percentile would rest on fewer than five samples.
    */
  def e2e(r: Recorder, roles: Roles, traced: Boolean): Map[String, Double] = Map(
    "fast_op_p50_ms" -> r.pctMs(roles.fast, traced, 50),
    "fast_op_p75_ms" -> r.pctMs(roles.fast, traced, 75),
    "slow_op_p50_ms" -> r.pctMs(roles.slow, traced, 50),
    "slow_op_p75_ms" -> r.pctMs(roles.slow, traced, 75),
    "rows_per_s" -> r.unitsPerS(roles.throughput, traced))

  val LayerUnits: Seq[(String, String)] = Seq(
    "sql.plan_us" -> "us",
    "avro.projector_build_ms" -> "ms",
    "avro.decode_ns_per_record" -> "ns",
    "avro.encode_ns_per_record" -> "ns",
    "avro.apply_ns_per_record" -> "ns",
    "avro.record_sql_jobs" -> "count",
    "avro.record_sql_driver_only_ms" -> "ms",
    "write.plan_ms" -> "ms",
    "write.job_ms" -> "ms",
    "write.commit_ms" -> "ms",
    "write.jobs_per_append" -> "count",
    "write.meta_bytes_per_commit" -> "bytes",
    "write.files_per_commit" -> "count",
    "write.task_cpu_ns_per_row" -> "ns",
    "table.data_files" -> "count",
    "table.meta_bytes_per_data_byte" -> "ratio",
    "scan.plan_ms" -> "ms",
    "scan.job_ms" -> "ms",
    "scan.jobs_per_query" -> "count",
    "scan.tasks" -> "count",
    "scan.files_skipped_ratio" -> "ratio",
    "scan.rows_decoded_per_row_returned" -> "ratio",
    "scan.task_cpu_ns_per_row" -> "ns",
    "scan.bytes_read" -> "bytes",
    "spark.driver_only_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "self.bench_pct" -> "%",
    "self.graft_sql_pct" -> "%",
    "self.graft_avro_pct" -> "%",
    "self.graft_sources_pct" -> "%",
    "self.spark_pct" -> "%",
    "trace.spans" -> "count",
  ) ++ E2eUnits.filterNot(m => Set("setup_s", "ops_ok_ratio")(m._1)).map {
    case (n, u) => s"trace.overhead.$n" -> u
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Length of the union of [a, b) intervals. */
  private def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total, end = Double.NegativeInfinity
    total = 0.0
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Every per-layer metric, derived from the stored spans, the per-name
    * aggregates and the listener's job/stage/task records. Times are on the
    * `System.nanoTime` axis; listener times (epoch ms) are mapped onto it.
    */
  def layers(tr: Tracer, table: Map[String, Double], overhead: Map[String, Double]): Map[String, Double] = {
    val l = tr.listener
    val out = mutable.LinkedHashMap.empty[String, Double]
    def aggPer(name: String, perUnit: Boolean, scale: Double): Double =
      tr.agg.get(name).map(a => a(1) / scale / math.max(1L, if (perUnit) a(2) else a(0)))
        .getOrElse(Double.NaN)
    def toNs(ms: Long): Double = tr.nano0 + (ms - tr.epochMs0) * 1e6

    // jobs per op, as nanoTime intervals clamped into the op's root span
    val byOp = tr.spans.groupBy(_.op)
    val rootOf = byOp.flatMap { case (op, ss) => ss.find(_.parent == 0).map(op -> _) }
    val jobsByOp: Map[Long, Seq[(JobListener#Job, Double, Double)]] =
      if (l == null) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        l.jobs.values().asScala.toSeq.filter(j => j.op != 0 && j.endMs >= 0 && rootOf.contains(j.op))
          .map { j =>
            val r = rootOf(j.op)
            (j, math.max(r.t0.toDouble, toNs(j.startMs)), math.min(r.t1.toDouble, toNs(j.endMs)))
          }.groupBy(_._1.op)
      }
    def jobsIn(s: Span) = jobsByOp.getOrElse(s.op, Nil).filter { case (_, a, _) => a >= s.t0 && a <= s.t1 }
    def tasksOf(js: Seq[(JobListener#Job, Double, Double)]) =
      js.flatMap(_._1.stages).distinct.flatMap(st => Option(l.tasks.get(st)))

    out("sql.plan_us") = aggPer("sql.plan", perUnit = false, 1e3)
    out("avro.projector_build_ms") = aggPer("avro.projector_build", perUnit = false, 1e6)
    out("avro.decode_ns_per_record") = aggPer("avro.decode_batch", perUnit = true, 1)
    out("avro.encode_ns_per_record") = aggPer("avro.encode_batch", perUnit = true, 1)
    out("avro.apply_ns_per_record") = aggPer("avro.apply_batch", perUnit = true, 1)

    // the workload's own spans of a name when it has any, else set-up and probe ones
    def own(name: String) = {
      val all = tr.spans.filter(_.name == name)
      if (all.exists(!_.probe)) all.filter(!_.probe) else all
    }
    val recSql = own("avro.record_sql")
    out("avro.record_sql_jobs") = mean(recSql.map(s => jobsIn(s).size.toDouble))
    out("avro.record_sql_driver_only_ms") =
      mean(recSql.map(s => (s.ns - unionLen(jobsIn(s).map(j => (j._2, j._3)))) / 1e6))

    val saves = own("sources.save")
    def phases(s: Span) = {
      val js = jobsIn(s)
      if (js.isEmpty) (s.ns.toDouble, 0.0, 0.0, js)
      else (js.map(_._2).min - s.t0, unionLen(js.map(j => (j._2, j._3))), s.t1 - js.map(_._3).max, js)
    }
    val sp = saves.map(phases)
    out("write.plan_ms") = mean(sp.map(_._1 / 1e6))
    out("write.job_ms") = mean(sp.map(_._2 / 1e6))
    out("write.commit_ms") = mean(sp.map(_._3 / 1e6))
    val appendSaves = saves.zip(sp).filter(_._1.kind == "append")
    out("write.jobs_per_append") = mean((if (appendSaves.nonEmpty) appendSaves.map(_._2) else sp)
      .map(_._4.size.toDouble))
    out("write.meta_bytes_per_commit") = mean(saves.flatMap(_.attrs.get("metaBytes")))
    out("write.files_per_commit") = mean(saves.flatMap(_.attrs.get("files")))
    out("write.task_cpu_ns_per_row") =
      sp.flatMap(x => tasksOf(x._4)).map(_.cpuNs.toDouble).sum / saves.flatMap(_.attrs.get("rows")).sum
    out("table.data_files") = table.getOrElse("data_files", Double.NaN)
    out("table.meta_bytes_per_data_byte") = table.getOrElse("meta_bytes_per_data_byte", Double.NaN)

    // planning and pruning are read on selective scans (pruned reads, read-backs),
    // decode cost on full scans; a workload without one kind uses all its scans
    val scans = own("sources.scan")
    def facts(ss: Seq[Span]) = ss.map { s =>
      val js = jobsIn(s)
      val firstJob = if (js.isEmpty) s.t1.toDouble else js.map(_._2).min
      val sqlBefore = byOp(s.op).filter(c => c.parent == s.id && c.layer == "graft.sql" && c.t1 <= firstJob)
        .map(_.ns).sum
      (s, firstJob - s.t0 - sqlBefore, js, tasksOf(js))
    }
    def kindOr(full: Boolean) = {
      val k = scans.filter(s => (s.kind == "full_scan") == full)
      facts(if (k.nonEmpty) k.toSeq else scans.toSeq)
    }
    val sel = kindOr(full = false)
    out("scan.plan_ms") = mean(sel.map(_._2 / 1e6))
    out("scan.job_ms") = mean(sel.map(x => unionLen(x._3.map(j => (j._2, j._3))) / 1e6))
    out("scan.jobs_per_query") = mean(sel.map(_._3.size.toDouble))
    out("scan.tasks") = mean(sel.map(_._4.map(_.n.toDouble).sum))
    out("scan.files_skipped_ratio") =
      1.0 - sel.flatMap(_._1.attrs.get("filesPlanned")).sum / sel.flatMap(_._1.attrs.get("filesTotal")).sum
    out("scan.rows_decoded_per_row_returned") =
      sel.flatMap(_._4).map(_.recordsRead.toDouble).sum / sel.flatMap(_._1.attrs.get("rowsReturned")).sum
    val full = kindOr(full = true)
    out("scan.task_cpu_ns_per_row") =
      full.flatMap(_._4).map(_.cpuNs.toDouble).sum / full.flatMap(_._4).map(_.recordsRead.toDouble).sum
    out("scan.bytes_read") = mean(full.map { x =>
      val b = x._4.map(_.bytesRead.toDouble).sum
      if (b > 0) b else x._1.attrs.getOrElse("bytesPlanned", 0.0)
    })

    // Spark and self time over the workload's own ops (probe ops excluded)
    // (ops that may run Spark jobs carry `gcMs`; an op without jobs is all driver time)
    val roots = rootOf.values.filter(!_.probe).toSeq
    val jobRoots = roots.filter(_.attrs.contains("gcMs"))
    out("spark.driver_only_ms") =
      mean(jobRoots.map(r => (r.ns - unionLen(jobsByOp.getOrElse(r.op, Nil).map(j => (j._2, j._3)))) / 1e6))
    val jobTasks = jobRoots.map(r => tasksOf(jobsByOp.getOrElse(r.op, Nil)))
    out("spark.scheduler_delay_ms") =
      jobTasks.flatten.map(_.schedMs.toDouble).sum / math.max(1.0, jobTasks.flatten.map(_.n.toDouble).sum)
    out("spark.stages_per_op") =
      mean(jobRoots.map(r => jobsByOp.getOrElse(r.op, Nil).flatMap(_._1.stages).distinct.size.toDouble))
    out("spark.tasks_per_op") = mean(jobTasks.map(_.map(_.n.toDouble).sum))
    out("spark.gc_ms") = mean(jobRoots.flatMap(_.attrs.get("gcMs")))
    out("spark.shuffle_bytes") = mean(jobTasks.map(_.map(_.shuffleBytes.toDouble).sum))
    out("spark.spill_bytes") = mean(jobTasks.map(_.map(_.spillBytes.toDouble).sum))

    // self time: a span's duration minus what its child spans and the jobs
    // that started inside it cover; ops of a kind whose spans were not all
    // stored are scaled up to the kind's traced count
    val self = mutable.LinkedHashMap("bench" -> 0.0, "graft.sql" -> 0.0, "graft.avro" -> 0.0,
      "graft.sources" -> 0.0, "spark" -> 0.0)
    var total = 0.0
    roots.groupBy(_.kind).foreach { case (kind, rs) =>
      val counts = tr.opCounts((kind, false))
      val scale = counts(0).toDouble / math.max(1L, counts(1))
      rs.foreach { r =>
        val ss = byOp(r.op)
        val js = jobsByOp.getOrElse(r.op, Nil)
        val children = ss.groupBy(_.parent)
        ss.foreach { s =>
          val inner = ss.filter(c => c.t0 >= s.t0 && c.t1 <= s.t1 && c.id != s.id)
          // a job belongs to the innermost span open at its start
          val own = js.filter { case (_, a, _) =>
            a >= s.t0 && a <= s.t1 && !inner.exists(c => a >= c.t0 && a <= c.t1)
          }
          val cover: Seq[(Double, Double)] =
            children.getOrElse(s.id, Nil).toSeq.map(c => (c.t0.toDouble, c.t1.toDouble)) ++
            own.map(j => (j._2, j._3))
          self(s.layer) = self.getOrElse(s.layer, 0.0) + (s.ns - unionLen(cover)) * scale
        }
        self("spark") += unionLen(js.map(j => (j._2, j._3))) * scale
        total += r.ns * scale
      }
    }
    Seq("bench", "graft.sql", "graft.avro", "graft.sources", "spark").foreach { layer =>
      out(s"self.${layer.replace('.', '_')}_pct") = 100.0 * self(layer) / total
    }
    out("trace.spans") = tr.agg.values.map(_(0).toDouble).sum
    overhead.foreach { case (k, v) => out(s"trace.overhead.$k") = v }
    out.toMap
  }
}
