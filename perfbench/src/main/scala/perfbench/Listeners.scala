package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one bucket of Spark work (a query family, a stream). */
final class JobAcc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planningMs = 0.0
}

/**
 * Spark-side counters read from outside the program: jobs, stages,
 * tasks, executor CPU and run time, shuffle and spill bytes, bucketed
 * by the SparkContext local property [[JobStats.BucketProperty]] the
 * bench sets around each piece of work. Planning time comes from the
 * QueryExecution tracker of every action, attributed to the bucket
 * that is current on the driver when the action completes.
 */
final class JobStats extends SparkListener with QueryExecutionListener {
  private val acc = new ConcurrentHashMap[String, JobAcc]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, Long)]()
  private def bucketAcc(b: String): JobAcc = acc.computeIfAbsent(b, _ => new JobAcc)

  def get(bucket: String): JobAcc = synchronized { bucketAcc(bucket) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val b = props.flatMap(p => Option(p.getProperty(JobStats.BucketProperty))).getOrElse("other")
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageBucket.put(_, b))
    bucketAcc(b).jobs += 1
    jobStart.put(e.jobId, (b, parent, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null)
      Tracer.record(Tracer.newId(), s._2, s"job ${e.jobId}", JobStats.layerOf(s._1),
        s._3 * 1000, e.time * 1000)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bucketAcc(stageBucket.getOrDefault(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = bucketAcc(stageBucket.getOrDefault(e.stageId, "other"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      bucketAcc(JobStats.currentBucket).planningMs +=
        qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object JobStats {
  val BucketProperty = "perfbench.bucket"

  /** The bucket of the work the driver is running now (planning time
    * has no job properties to carry it). */
  @volatile var currentBucket = "other"

  /** Runs `body` with its Spark jobs and planning counted in `bucket`. */
  def inBucket[T](sc: org.apache.spark.SparkContext, bucket: String)(body: => T): T = {
    sc.setLocalProperty(BucketProperty, bucket)
    currentBucket = bucket
    try body
    finally { sc.setLocalProperty(BucketProperty, null); currentBucket = "other" }
  }

  /** The layer a bucket's Spark work belongs to. */
  def layerOf(bucket: String): String = bucket match {
    case "relational" => "ops"
    case "llm" => "llm"
    case "ingest" | "maintain" => "streaming"
    case _ => "spark"
  }

  /** The listener bus delivers asynchronously; give it time to drain
    * before counters are read. */
  def settle(): Unit = Thread.sleep(300)
}

/**
 * Per-trigger progress of the stream queries (the Structured Streaming
 * progress model): `durationMs` phases, input rows, state operator
 * size and the source's lag metric. Each trigger is also a span.
 */
final case class TriggerStat(durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateBytes: Long, recordsBehind: Long)

final class StreamStats extends StreamingQueryListener {
  private val triggers = new java.util.concurrent.ConcurrentLinkedQueue[TriggerStat]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val behind = p.sources.flatMap(s => Option(s.metrics).map(_.asScala)
      .flatMap(_.get("recordsBehindLatest"))).map(_.toLong).sum
    triggers.add(TriggerStat(d, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum, behind))
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
    Tracer.record(Tracer.newId(), 0L, s"trigger ${p.batchId}", "streaming",
      startUs, startUs + d.getOrElse("triggerExecution", 0L) * 1000)
  }

  /** Triggers that read input (the empty polls of a live stream are
    * left out, so per-trigger means describe real batches). */
  def batches: Seq[TriggerStat] = triggers.asScala.toSeq.filter(_.inputRows > 0)

  def all: Seq[TriggerStat] = triggers.asScala.toSeq

  def clear(): Unit = triggers.clear()
}
