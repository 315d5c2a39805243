package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. `t0`/`t1` are `System.nanoTime`; `parent` is 0 for an
  * op's root span; every span of one op shares `op`.
  */
final class Span(val id: Int, val parent: Int, val op: Long, val kind: String,
    val name: String, val t0: Long, var t1: Long, val probe: Boolean) {
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ns: Long = t1 - t0
  def layer: String = Trace.layerOf(name)
}

object Trace {
  val OpProperty = "perfbench.op"
  /** Ops of one kind whose spans are kept in full; beyond this only the
    * per-name aggregates grow, so a million-op run stays in bounded memory.
    */
  val StoredOpsPerKind = 5000

  def layerOf(name: String): String = name.takeWhile(_ != '.') match {
    case "op" => "bench"
    case "sql" => "graft.sql"
    case "avro" => "graft.avro"
    case "sources" => "graft.sources"
    case other => other
  }
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer, kept in memory and written out when the run ends. Disabled, every
  * entry point is a plain call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  /** Whether the current op is traced (traced runs trace a random half). */
  var on = false
  /** Ops run while `probe` is set fill in layers the workload's own ops miss. */
  var probe = false

  val listener: JobListener =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); l } else null
  val epochMs0: Long = System.currentTimeMillis()
  val nano0: Long = System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  /** name -> (calls, ns, units) over every traced call, stored or not. */
  val agg = mutable.LinkedHashMap.empty[String, Array[Long]]
  /** (kind, probe) -> (ops traced, ops stored) */
  val opCounts = mutable.LinkedHashMap.empty[(String, Boolean), Array[Long]]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1
  private var nextOp = 1L
  private var storing = false
  private var curOp = 0L
  private var curKind = ""
  private val lastOp = mutable.ArrayBuffer.empty[Span]

  private def bump(name: String, ns: Long, units: Long): Unit = {
    val a = agg.getOrElseUpdate(name, new Array[Long](3))
    a(0) += 1; a(1) += ns; a(2) += units
  }

  /** One op: a root span, with Spark jobs tagged by the op's id. For ops
    * that run Spark jobs (`jobs`), the JVM's GC time during the op is kept
    * as the root span's `gcMs` (in local mode driver and executor share it).
    */
  def op[T](kind: String, jobs: Boolean = true)(f: => T): T =
    if (!on) f
    else {
      curOp = nextOp; nextOp += 1; curKind = kind
      val c = opCounts.getOrElseUpdate((kind, probe), new Array[Long](2))
      c(0) += 1
      storing = c(1) < Trace.StoredOpsPerKind
      if (storing) c(1) += 1
      lastOp.clear()
      sc.setLocalProperty(Trace.OpProperty, curOp.toString)
      val gc0 = if (jobs) Probe.driverGcMs() else 0L
      try span("op." + kind)(f)
      finally {
        if (jobs) attr("op." + kind, "gcMs", (Probe.driverGcMs() - gc0).toDouble)
        sc.setLocalProperty(Trace.OpProperty, null); curOp = 0L; storing = false
      }
    }

  /** A call into a layer, nested under the innermost open span of the op. */
  def span[T](name: String)(f: => T): T =
    if (!on || curOp == 0L) f
    else {
      val parent = if (stack.isEmpty) 0 else stack.top.id
      val s = new Span(nextId, parent, curOp, curKind, name, System.nanoTime(), 0L, probe)
      nextId += 1
      stack.push(s)
      try f
      finally {
        s.t1 = System.nanoTime()
        stack.pop()
        bump(name, s.ns, 0)
        if (storing) { spans += s; lastOp += s }
      }
    }

  /** A measurement call outside any op (e.g. planning or a codec pass over a
    * batch): counted with its `units` (records) so ns-per-unit can be derived.
    */
  def measure[T](name: String, units: Long = 1)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally bump(name, System.nanoTime() - t0, units)
    }

  /** Attach a count to the last op's span of this name (a no-op when untraced). */
  def attr(name: String, key: String, v: Double): Unit =
    lastOp.findLast(_.name == name).foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(): Unit = if (listener != null) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (listener.openJobs > 0 || System.nanoTime() - listener.lastEventNs < 300000000L))
      Thread.sleep(20)
  }
}

/** Job, stage and task intervals from Spark's public listener interface. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val op: Long, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class Tasks {
    var n, runMs, cpuNs, gcMs, schedMs, shuffleBytes, spillBytes, recordsRead,
      bytesRead, recordsWritten = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentHashMap[Int, Tasks]()
  @volatile var lastEventNs: Long = System.nanoTime()

  def openJobs: Int = jobs.values().asScala.count(_.endMs < 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new Job(e.jobId, op, e.time, e.stageIds))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tasks.computeIfAbsent(e.stageId, _ => new Tasks)
    val m = e.taskMetrics
    val info = e.taskInfo
    t.n += 1
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsWritten += m.outputMetrics.recordsWritten
      if (info != null && info.finishTime > 0)
        t.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
    }
    lastEventNs = System.nanoTime()
  }
}
