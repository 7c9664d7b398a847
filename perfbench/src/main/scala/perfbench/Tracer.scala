package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}

/**
 * In-memory spans for the traced run. A span has a name, a layer, a
 * start and end (epoch microseconds), a parent span id and the run's
 * trace id. Spans stay in memory until [[write]].
 *
 * Nesting follows the thread: [[span]] makes itself the parent of
 * spans opened later on the same thread, and publishes its id as the
 * SparkContext local property [[SpanProperty]] so jobs (and the tasks
 * they run) submitted inside it name it as their parent.
 *
 * When tracing is off, [[span]] runs its body and records nothing.
 */
object Tracer {
  final case class Span(id: Long, parent: Long, name: String, layer: String,
      startUs: Long, endUs: Long)

  val SpanProperty = "perfbench.span"

  @volatile var enabled = false
  @volatile var traceId = ""
  @volatile private var sc: SparkContext = _

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long]
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def start(context: SparkContext, trace: String): Unit = {
    sc = context
    traceId = trace
    spans.clear()
    enabled = true
  }

  def stop(): Unit = enabled = false

  /** The enclosing span: this thread's open span, else (inside a Spark
    * task) the span that submitted the job. 0 means none. */
  def parentHere: Long = {
    val t = current.get()
    if (t != null) t.longValue
    else Option(TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty(SpanProperty)))
      .map(_.toLong).getOrElse(0L)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = parentHere
      val saved = current.get()
      val onDriver = TaskContext.get() == null && sc != null
      val savedProp = if (onDriver) sc.getLocalProperty(SpanProperty) else null
      current.set(id)
      if (onDriver) sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = nowUs
      try body
      finally {
        record(id, parent, name, layer, t0, nowUs)
        current.set(saved)
        if (onDriver) sc.setLocalProperty(SpanProperty, savedProp)
      }
    }

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, layer: String,
      startUs: Long, endUs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, layer, startUs, endUs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time in milliseconds: each span's duration minus
    * the durations of its direct children, summed by layer. */
  def selfTimeMs(ss: Seq[Span] = all): Map[String, Double] = {
    val childUs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endUs - c.startUs).sum }
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        math.max(0L, s.endUs - s.startUs - childUs.getOrElse(s.id, 0L))
      }.sum / 1000.0
    }
  }

  /** Per-layer span counts. */
  def counts(ss: Seq[Span] = all): Map[String, Int] =
    ss.groupBy(_.layer).map { case (l, g) => l -> g.size }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"trace": "$traceId", "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name.replace("\"", "'")}", "layer": "${s.layer}", """ +
        s""""start_us": ${s.startUs}, "end_us": ${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}
