package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch microseconds, so spans taken
  * from `System.nanoTime`, from Spark listener events (epoch ms) and from
  * GC notifications (ms since JVM start) share one clock. `op` is the
  * operation the span belongs to (-1 when the span is attributed to an
  * operation later, by time); `attrs` carries the counts measured at the
  * same boundary. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startUs: Long, endUs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = (endUs - startUs) / 1000.0
}

/** In-memory span store. Off (the default) every call is a plain
  * pass-through, so untraced runs pay one volatile read per boundary. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  /** Epoch microseconds now, on the monotonic clock. */
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as a span of `layer` under operation `op`. */
  def span[T](layer: String, name: String, op: Long, parent: Long = 0L)(
      body: => T): T =
    if (!on) body
    else {
      val t0 = nowUs()
      try body
      finally spans.add(Span(nextId(), parent, op, layer, name, t0, nowUs()))
    }

  /** Like [[span]], with counts computed from the result. */
  def spanWith[T](layer: String, name: String, op: Long, parent: Long = 0L)(
      body: => T)(attrs: T => Map[String, Double]): T =
    if (!on) body
    else {
      val t0 = nowUs()
      val r = body
      spans.add(Span(nextId(), parent, op, layer, name, t0, nowUs(), attrs(r)))
      r
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON object a line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try spans.asScala.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""attrs":{${attrs.mkString(",")}}}""")
      w.newLine()
    } finally w.close()
  }

  /** `jvm` layer: one span per garbage collection, from the collectors'
    * notifications (start and duration are ms since JVM start). */
  def watchGc(): Unit = {
    val jvmStartUs =
      ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[
                javax.management.openmbean.CompositeData])
            val g = info.getGcInfo
            add(Span(nextId(), 0L, -1L, "jvm", info.getGcName,
              jvmStartUs + g.getStartTime * 1000L,
              jvmStartUs + (g.getStartTime + g.getDuration) * 1000L))
          }
        }, null, null)
      case _ => ()
    }
  }
}

/** Process-level counters read around the timed phase. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum.toDouble

  /** Milliseconds from the JVM's own start to now. */
  def sinceStartMs(): Double =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Order statistics over a sample. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Latency of a mix of operation kinds: each kind's median, then the
    * geometric mean over kinds; for a single kind, its median. A plain
    * median of a pooled mix lands on whichever kind sits in the middle,
    * and moved by a fifth between runs of the same five-query mix. */
  def mixMedian(samples: Seq[(String, Double)]): Double =
    if (samples.isEmpty) 0.0
    else {
      val meds = samples.groupMap(_._1)(_._2).values.map(median)
      math.exp(meds.map(math.log).sum / meds.size)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
