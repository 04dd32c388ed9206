package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into the engine's public functions.
  *
  * A span is a named interval on one thread with a parent (the span open
  * on that thread when it started). Spark jobs submitted inside a span
  * carry its id as a local property; [[TaskMetricsListener]] adds every
  * task's CPU, GC, input, shuffle and spill to that span. Spans are kept
  * in memory and written out when the run ends.
  *
  * When tracing is off, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  @volatile private var sc: SparkContext = _

  def attach(spark: SparkContext): Unit = if (enabled) {
    sc = spark
    spark.addSparkListener(new TaskMetricsListener(this))
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), name,
        Thread.currentThread().getName)
      byId.put(s.id, s)
      stack.set(s :: stack.get)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
      if (sc != null) sc.setLocalProperty(SpanProp, s.id.toString)
      s.start = System.nanoTime()
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
        spans.add(s)
      }
    }

  /** Add `v` to a named counter (no-op when tracing is off). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  private[perfbench] def spanById(id: Long): Span = byId.get(id)

  /** Finished spans with their self time: duration minus the time their
    * children cover (children of one span run on its thread, in turn). */
  def finished(): Seq[Span] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    all.foreach(s => s.selfNs = s.durNs - childNs.getOrElse(s.id, 0L))
    all.sortBy(_.start)
  }

  def counterValues: Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Per-layer summary of `(name, unit)` spans: the median self time per
    * occurrence (`<name>_<unit>`, unit `ms` or `us`) and the mean task CPU,
    * GC, input and shuffle per occurrence. Layers that did not run on this
    * workload read 0. */
  def summary(layers: Seq[(String, String)]): Seq[(String, Double, String)] = {
    val by = finished().groupBy(_.name)
    layers.flatMap { case (n, unit) =>
      val ss = by.getOrElse(n, Nil)
      val k = math.max(ss.size, 1).toDouble
      val perNs = if (unit == "us") 1e3 else 1e6
      Seq(
        (s"${n}_$unit", Stats.median(ss.map(_.selfNs / perNs)), unit),
        (s"$n.cpu_s", ss.map(_.cpuNs.sum / 1e9).sum / k, "s"),
        (s"$n.gc_s", ss.map(_.gcMs.sum / 1e3).sum / k, "s"),
        (s"$n.input_mb", ss.map(_.inputBytes.sum / 1e6).sum / k, "MB"),
        (s"$n.shuffle_mb", ss.map(_.shuffleBytes.sum / 1e6).sum / k, "MB"))
    }
  }

  /** The trace file: every span with start/end relative to the first
    * span, its self time and task metrics, plus the counters. */
  def toJson(meta: Map[String, Any]): String = {
    val all = finished()
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val spanJson = all.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "thread" -> s.thread,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> s.selfNs / 1e6, "tasks" -> s.tasks.sum.toLong,
        "cpu_s" -> s.cpuNs.sum / 1e9, "gc_s" -> s.gcMs.sum / 1e3,
        "input_mb" -> s.inputBytes.sum / 1e6, "shuffle_mb" -> s.shuffleBytes.sum / 1e6,
        "spill_mb" -> s.spillBytes.sum / 1e6))
    }
    Json.obj(meta.toSeq ++ Seq(
      "spans" -> Json.Raw(spanJson.mkString("[\n", ",\n", "\n]")),
      "counters" -> Json.Raw(Json.obj(counterValues.toSeq.sortBy(_._1)))))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final class Span(val id: Long, val parent: Long, val name: String, val thread: String) {
    @volatile var start = 0L
    @volatile var end = 0L
    var selfNs = 0L
    val tasks, cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes = new DoubleAdder
    def durNs: Long = end - start
  }

  /** Attributes each finished task's metrics to the span that submitted
    * its job. */
  final class TaskMetricsListener(t: Tracer) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProp)))
      p.foreach(id => e.stageIds.foreach(st => stageSpan.put(st, id.toLong)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != 0L && m != null) {
        val s = t.spanById(id)
        if (s != null) {
          s.tasks.add(1)
          s.cpuNs.add(m.executorCpuTime.toDouble)
          s.gcMs.add(m.jvmGCTime.toDouble)
          s.inputBytes.add(m.inputMetrics.bytesRead.toDouble)
          s.shuffleBytes.add((m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten).toDouble)
          s.spillBytes.add((m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
  }
}

object Stats {
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Wall-clock stopwatch helpers. */
object Clock {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Sample lists shared by worker threads. */
final class Samples {
  private val xs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  def add(x: Double): Unit = xs.add(x)
  def values: Seq[Double] = xs.asScala.toSeq
  def size: Int = xs.size
}
