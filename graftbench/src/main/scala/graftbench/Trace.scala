package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision (derived from `System.nanoTime`), so they
  * line up with Spark's task launch/finish times. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
    thread: String, startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** Spark work attributed to one span: the jobs submitted while it was the
  * innermost open span on the submitting thread, and their tasks. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder for the benchmark's own calls into each engine layer.
  *
  * With tracing off, [[span]] only runs its body. With tracing on, each
  * span is kept in memory with its parent (the innermost span open on the
  * same thread) and tagged onto the thread's Spark local properties, so a
  * [[SpanListener]] can attribute every job, stage and task the call
  * submits to the innermost open span. */
final class Tracer(val enabled: Boolean, val runId: String, sc: SparkContext) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  val listener = new SpanListener

  /** Spans are kept only while recording (the measured phase). */
  @volatile var recording = false

  if (enabled) sc.addSparkListener(listener)

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val prevProp = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        sc.setLocalProperty(SpanProperty, prevProp)
        open.set(stack)
        spans.add(Span(id, name, parent, runId, Thread.currentThread().getName, t0, t1))
      }
    }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftbenchBus.drain(sc)

  /** Per-layer self time and Spark metrics over every recorded span. */
  def layerMetrics(layers: Seq[String]): Seq[(String, Double)] = {
    drain()
    val all = recorded
    val byParent = all.groupBy(_.parent)
    val work = listener.work
    def covered(s: Span): Double = union(byParent.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
    layers.flatMap { l =>
      val ls = all.filter(_.layer == l)
      val selfMs = ls.map(s => s.durMs - covered(s)).sum
      val ws = ls.flatMap(s => Option(work.get(s.id)).map(s -> _))
      val busyMs = ws.map { case (s, w) =>
        union(w.taskIntervals.toSeq.map { case (a, b) =>
          (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs)) })
      }.sum
      Seq(
        s"$l.self_s" -> selfMs / 1e3,
        s"$l.jobs" -> ws.map(_._2.jobs).sum.toDouble,
        s"$l.tasks" -> ws.map(_._2.tasks).sum.toDouble,
        s"$l.executor_cpu_s" -> ws.map(_._2.cpuNs).sum / 1e9,
        s"$l.gc_s" -> ws.map(_._2.gcMs).sum / 1e3,
        s"$l.shuffle_write_bytes" -> ws.map(_._2.shuffleWrite).sum.toDouble,
        s"$l.spill_bytes" -> ws.map(_._2.spill).sum.toDouble,
        s"$l.task_busy_share" -> (if (selfMs <= 0) 0.0 else math.min(1.0, busyMs / selfMs)))
    }
  }

  /** Spark jobs per call of the spans named `name` (0 when never called). */
  def jobsPerSpan(name: String): Double = {
    drain()
    val ss = recorded.filter(_.name == name)
    if (ss.isEmpty) 0.0
    else ss.flatMap(s => Option(listener.work.get(s.id))).map(_.jobs).sum.toDouble / ss.size
  }

  /** Spans as JSON lines (one object per span). */
  def spanLines: Seq[String] = recorded.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "run_id" -> s.runId, "thread" -> s.thread,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Total length of the union of closed intervals (empty ones ignored). */
  def union(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Attributes jobs, stages and tasks to the span id carried in the job's
  * local properties (0 = submitted outside any span). */
final class SpanListener extends SparkListener {
  val work = new ConcurrentHashMap[Long, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def workOf(span: Long) = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan.put(_, span))
    val w = workOf(span)
    w.synchronized { w.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      if (e.taskInfo != null)
        w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }
}

/** Just enough JSON for the result line and the span file. */
object Json {
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
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case x => str(x.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  /** Pre-rendered JSON, embedded verbatim. */
  final case class Raw(json: String)
}
