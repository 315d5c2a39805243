package perfbench

import java.io.File

/** Growable primitive buffer: millions of per-op latencies without boxing. */
final class LongBuf(initial: Int = 1024) {
  private var a = new Array[Long](initial)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def size: Int = n
  def sum: Double = { var s = 0.0; var i = 0; while (i < n) { s += a(i); i += 1 }; s }
  def sorted: Array[Long] = { val c = java.util.Arrays.copyOf(a, n); java.util.Arrays.sort(c); c }
}

/** Seeded draws that deal every value of a fixed set once per round, in a
  * shuffled order. Every run then sees the same mix of op sizes and kinds;
  * the seed decides the order and the data, so runs differ in what they
  * touch but not in how much work their ops do.
  */
final class Deck[T](values: Seq[T], rng: java.util.Random) {
  private var hand: List[T] = Nil
  def next(): T = {
    if (hand.isEmpty) {
      val a = values.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      hand = a.toList.asInstanceOf[List[T]]
    }
    val h = hand.head
    hand = hand.tail
    h
  }
}

object Stats {
  /** Nearest-rank percentile of a sorted array; NaN when empty. */
  def pct(sorted: Array[Long], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1))).toDouble

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Minimal JSON writer for the result and trace files (maps, seqs, numbers,
  * strings, booleans, null); keys keep insertion order.
  */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

object Probe {
  /** Fixed single-threaded md5 loop (~10 ms on a quiet core). Its time
    * depends only on contention, so a probe that reads high before or after
    * a run marks that run as contended.
    */
  def cpuSeconds(iters: Int = 30000): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](64)
    val t0 = System.nanoTime()
    var i = 0
    while (i < iters) {
      buf(0) = (i & 0xff).toByte
      md.update(buf)
      md.digest(md.digest())
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of a few probes after an untimed one that lets the JIT settle. */
  def cpu(): Double = { cpuSeconds(); Stats.median((0 until 5).map(_ => cpuSeconds())) }

  /** Aggregate CPU ticks from /proc/stat as (steal, total), where the
    * platform has it: a virtual machine's stolen share shows host contention.
    */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }.toOption

  def stealShare(before: Option[(Long, Long)], after: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- before; (s1, t1) <- after if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)

  def driverGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

/** What a graft-avro table directory holds: data files vs `_graft_*` metadata. */
final case class DirStats(dataFiles: Int, dataBytes: Long, metaFiles: Int, metaBytes: Long,
    entries: Map[String, (Long, Long)]) {
  /** Bytes of metadata files created or rewritten since `before`. */
  def metaBytesSince(before: DirStats): Long = entries.iterator.collect {
    case (p, (len, mod)) if DirStats.isMeta(p) && !before.entries.get(p).contains((len, mod)) => len
  }.sum
  def dataFilesSince(before: DirStats): Int = entries.keysIterator.count(p =>
    DirStats.isData(p) && !before.entries.contains(p))
}

object DirStats {
  def isMeta(rel: String): Boolean = rel.split('/').exists(_.startsWith("_graft"))
  def isData(rel: String): Boolean = rel.endsWith(".avro") && !isMeta(rel)

  def of(dir: File): DirStats = {
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: File, rel: String): Unit = Option(f.listFiles()).foreach(_.foreach { c =>
      val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
      if (c.isDirectory) walk(c, r) else b += r -> ((c.length(), c.lastModified()))
    })
    walk(dir, "")
    val m = b.result()
    val data = m.filter { case (p, _) => isData(p) }
    val meta = m.filter { case (p, _) => isMeta(p) }
    DirStats(data.size, data.values.map(_._1).sum, meta.size, meta.values.map(_._1).sum, m)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
