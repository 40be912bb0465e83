package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for traced runs. A span is (id, name, parent, op,
  * start, end) on the monotonic clock, held in memory and written with the
  * run's result at exit.
  *
  * Spark work is attributed to the innermost open span through a local
  * property: [[SpanListener]] reads it from each job's properties and
  * charges the job's stages and tasks to that span. Local properties are
  * inheritable, so jobs an engine call submits from threads it creates
  * inside the span (the dedup stores' overlapped stages) land on the same
  * span. Without a context (untraced runs) it records nothing and sets no
  * property.
  */
final class Trace(sc: Option[SparkContext]) {
  import Trace._

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
      val start: Long) {
    var end: Long = -1L
  }

  val spans = ArrayBuffer.empty[Span]
  private var current = 0
  private var currentOp = 0

  def enabled: Boolean = sc.isDefined

  /** Run `f` as operation `op`'s root span `name`. */
  def op[A](op: Int, name: String)(f: => A): A = {
    val saved = currentOp
    currentOp = op
    try span(name)(f) finally currentOp = saved
  }

  def span[A](name: String)(f: => A): A = sc match {
    case None => f
    case Some(ctx) =>
      val s = new Span(spans.size + 1, name, current, currentOp, System.nanoTime())
      spans += s
      val parent = current
      current = s.id
      ctx.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        current = parent
        ctx.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
      }
  }

  /** Record a child span that already ended `now` after `seconds` — the
    * engine's `onStage` hooks report durations, not start times.
    */
  def completed(name: String, seconds: Double): Unit =
    if (enabled) {
      val end = System.nanoTime()
      val s = new Span(spans.size + 1, name, current, currentOp,
        end - (seconds * 1e9).toLong)
      s.end = end
      spans += s
    }
}

object Trace {
  val SpanKey = "graftbench.span"
}

/** Job, stage and task counters per span id (0 = outside any span). */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[Int, Array[Long]]()

  private def add(span: Int, field: Int, v: Long): Unit = {
    val c = counters.computeIfAbsent(span, _ => new Array[Long](Fields.size))
    c.synchronized { c(field) += v }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    add(s, Jobs, 1)
    e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSpan.putIfAbsent(e.stageInfo.stageId, spanOf(e.properties))
    add(stageSpan.get(e.stageInfo.stageId), Stages, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.getOrDefault(e.stageId, 0)
    add(s, Tasks, 1)
    Option(e.taskMetrics).foreach { m =>
      add(s, InputBytes, m.inputMetrics.bytesRead)
      add(s, ShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
      add(s, ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      add(s, SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(s, OutputBytes, m.outputMetrics.bytesWritten)
      add(s, OutputRows, m.outputMetrics.recordsWritten)
      add(s, RunMs, m.executorRunTime)
      add(s, CpuNs, m.executorCpuTime)
      add(s, GcMs, m.jvmGCTime)
    }
  }

  def snapshot: Map[Int, Map[String, Long]] = {
    val out = Map.newBuilder[Int, Map[String, Long]]
    counters.forEach { (span, c) =>
      out += span -> c.synchronized(Fields.zipWithIndex.map { case (n, i) => n -> c(i) }.toMap)
    }
    out.result()
  }
}

/** Counts the jobs submitted while it is installed. */
final class JobCounter extends SparkListener {
  private val n = new java.util.concurrent.atomic.AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()

  def jobs: Long = n.get
}

object SpanListener {
  val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes",
    "output_rows", "run_ms", "cpu_ns", "gc_ms")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val InputBytes = 3
  val ShuffleReadBytes = 4; val ShuffleWriteBytes = 5; val SpillBytes = 6
  val OutputBytes = 7; val OutputRows = 8; val RunMs = 9; val CpuNs = 10; val GcMs = 11
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans, options).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
