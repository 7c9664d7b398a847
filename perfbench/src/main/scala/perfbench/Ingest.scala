package perfbench

import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Fs
import graft.sources.KinesisSource
import graft.streaming.{ExactlyOnceSink, KinesisSink, MicroBatch}

/**
 * `ingest`: a restart-after-outage Kinesis ingest.
 *
 * Records go KinesisSource (4 in-memory shards, a KPL-aggregated
 * share) -> `from_json` -> `MicroBatch.incrementalPipeline` (watermark
 * dedup over a duplicate and an out-of-order share) -> the
 * exactly-once sink (a seeded throttled share, retried).
 *
 * Phase one drains five seeded backlogs with `Trigger.AvailableNow`
 * under `maxRecordsPerBatch`; `throughput_rps` is their user records
 * over their summed drain time. Phase two restarts the last drain's query from
 * its checkpoint with a fixed processing-time trigger while one
 * producer thread puts records at a fixed rate on an open-loop
 * schedule: latency runs from each record's due time to its sink ack.
 *
 * Gate, on every stream: each unique event id acked exactly once, the
 * order-insensitive content hash of the acks equal to the generator's,
 * no stream error.
 */
object Ingest {
  val Shards = 4
  val Rate = 10000.0 // records/s in the live phase
  val Backlog = 60000L // events in each outage backlog
  val MaxPerBatch = 15000L // Kinesis records per micro-batch
  val TriggerInterval = "1 second"
  val Watermark = "5 seconds"
  val ThrottlePerMille = 20
  val SinkPolicy = KinesisSink.Policy(maxBatch = 500, maxRetries = 3, backoffMs = 5)
  val WarmupEvents = 10000L
  val Drains = 5

  /** Sets the Spark job bucket and opens a span around each sink batch. */
  final class BucketedSink(bucket: String, inner: MicroBatch.EventSink) extends MicroBatch.EventSink {
    def write(batch: DataFrame, batchId: Long): Unit = {
      JobStats.inBucket(batch.sparkSession.sparkContext, bucket) {
        Tracer.span(s"addBatch $batchId", "streaming")(inner.write(batch, batchId))
      }
    }
  }

  /** One ingest stream: its shards, its sink state and its directories. */
  final class Stream(val name: String, seed: Long, capacity: Int, workDir: String) {
    val shards = new BenchShards(Shards)
    val sink = new SinkState(capacity, seed, ThrottlePerMille)
    KinesisSource.registerClient(name, shards)
    SinkState.register(name, sink)
    val checkpoint = s"$workDir/$name/checkpoint"
    val ledger = s"$workDir/$name/ledger"

    def start(spark: SparkSession, trigger: Trigger, traced: Boolean): StreamingQuery = {
      val raw = spark.readStream.format("graft.sources.KinesisSource")
        .option("stream", "events").option("client", name)
        .option("maxRecordsPerBatch", MaxPerBatch.toString).load()
      val events = raw.select(from_json(col("data").cast("string"), Events.InputSchema).as("e"))
        .select("e.*")
      val pipeline = MicroBatch.incrementalPipeline(events, Seq("user_id", "value"), Watermark)
      val store = if (traced) new TimedMarkerStore else Fs.PosixMarkerStore
      val sinkImpl = new ExactlyOnceSink.ExactlyOnceEventSink(new BenchSinkClient(name), "out",
        SinkPolicy, ledger, store = store)
      MicroBatch.start(pipeline, new BucketedSink("ingest", sinkImpl), checkpoint, name, trigger)
    }
  }

  /** Puts a whole schedule at once (a backlog); returns the expected
    * content hash of its unique events. */
  def fill(s: Stream, seed: Long, puts: Seq[Events.Put], first: Long, epochMs: Long): Long = {
    var expected = 0L
    puts.foreach { p =>
      s.shards.put(p.shard, Events.payload(seed, p, first, Rate, epochMs))
      if (!p.duplicate) p.ids.foreach { id =>
        val e = Events.event(seed, id)
        expected += Events.expectedHash(e, Events.tsMs(e, first, Rate, epochMs))
      }
    }
    expected
  }

  /** A drained backlog: seconds, its put schedule and the expected
    * content hash of its unique events. */
  final case class Drained(seconds: Double, puts: Vector[Events.Put], expected: Long)

  /** Puts a backlog of `n` events (an outage of n / Rate seconds that
    * ended now) on the stream and drains it with Trigger.AvailableNow
    * under maxRecordsPerBatch. */
  def drain(spark: SparkSession, s: Stream, seed: Long, n: Long, traced: Boolean): Drained = {
    val puts = Events.schedule(seed, 0, n, Rate, Shards)
    val expected = fill(s, seed, puts, 0, System.currentTimeMillis() - (n / Rate * 1000).toLong)
    val t0 = System.nanoTime()
    val q = s.start(spark, Trigger.AvailableNow(), traced)
    q.awaitTermination(120000)
    val dt = (System.nanoTime() - t0) / 1e9
    q.stop()
    q.exception.foreach(e => throw e)
    Drained(dt, puts, expected)
  }

  /** The gate of one stream: each of its `total` unique events acked
    * exactly once (so every injected duplicate was dropped) and the
    * acked content hash equal to the generator's. */
  def gate(report: Report, s: Stream, total: Long, expected: Long): Unit = {
    report.attempted += total
    val lost = (0L until total).count(id => s.sink.ackCount.get(id.toInt) == 0)
    val dup = (0L until total).count(id => s.sink.ackCount.get(id.toInt) > 1)
    if (lost > 0) { report.fail(s"${s.name}: $lost events never acked"); report.failed += lost - 1 }
    if (dup > 0) { report.fail(s"${s.name}: $dup events acked more than once"); report.failed += dup - 1 }
    if (s.sink.content.sum != expected) report.fail(s"${s.name}: acked content hash differs from the generator's")
  }

  def run(spark: SparkSession, report: Report, cfg: Main.Config, sessionS: Double): Unit = {
    val streamStats = new StreamStats
    if (cfg.trace) spark.streams.addListener(streamStats)
    // set-up: the session, then three warm-up drains of a small backlog
    // through the same pipeline; the median is the set-up unit
    val warm = (1 to 3).map { k =>
      val seed = cfg.seed + 7919 * k
      val w = new Stream(s"warm$k", seed, WarmupEvents.toInt, cfg.workDir)
      val t0 = System.nanoTime()
      val d = drain(spark, w, seed, WarmupEvents, cfg.trace)
      val dt = (System.nanoTime() - t0) / 1e9
      gate(report, w, WarmupEvents, d.expected)
      dt
    }
    report.metric("setup_s", sessionS + Stats.median(warm), "s")
    if (cfg.setupOnly) return
    streamStats.clear()
    LedgerTiming.reset()

    // phase one: five outage backlogs, each drained under
    // maxRecordsPerBatch; the live phase restarts the last one's query
    val liveN = (Rate * cfg.seconds).toLong
    val s = new Stream("ingest", cfg.seed, (Backlog + liveN).toInt, cfg.workDir)
    val drained = (1 to Drains).map { k =>
      val (st, seed) = if (k == Drains) (s, cfg.seed)
        else (new Stream(s"backlog$k", cfg.seed + 104729 * k, Backlog.toInt, cfg.workDir),
          cfg.seed + 104729 * k)
      val d = drain(spark, st, seed, Backlog, cfg.trace)
      if (k < Drains) gate(report, st, Backlog, d.expected)
      d
    }
    val backlog = drained.last
    val drainBatches = streamStats.batches.size
    // pooled over the drains rather than a median of per-drain rates:
    // the early drains still run on a warming JIT, and the pooled rate
    // spread less between runs
    report.metric("throughput_rps",
      drained.map(d => Events.userRecords(d.puts)).sum / drained.map(_.seconds).sum, "1/s")
    System.err.println(f"[perfbench] ingest: session $sessionS%.2f s; warm-up drains " +
      warm.map(t => f"$t%.2f").mkString(" ") + " s; drain rates " +
      drained.map(d => f"${Events.userRecords(d.puts) / d.seconds}%.0f").mkString(" ") + " /s")

    // phase two: restart on the same checkpoint, open-loop producer
    val q2 = s.start(spark, Trigger.ProcessingTime(TriggerInterval), cfg.trace)
    val ready = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (q2.lastProgress == null && System.nanoTime() < ready) Thread.sleep(20)
    val live = Events.schedule(cfg.seed, Backlog, liveN, Rate, Shards)
    val liveEpochMs = System.currentTimeMillis()
    val liveStartNs = System.nanoTime()
    val lateNs = new Array[Long](live.size)
    live.indices.foreach { i =>
      val p = live(i)
      val due = liveStartNs + p.dueNs
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      s.shards.put(p.shard, Events.payload(cfg.seed, p, Backlog, Rate, liveEpochMs))
      lateNs(i) = System.nanoTime() - due
    }
    val expected = backlog.expected + live.filterNot(_.duplicate).flatMap(_.ids).map { id =>
      val e = Events.event(cfg.seed, id)
      Events.expectedHash(e, Events.tsMs(e, Backlog, Rate, liveEpochMs))
    }.sum
    val total = Backlog + liveN
    val settle = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def acked = s.sink.records.get
    while (acked < total && System.nanoTime() < settle && q2.isActive) Thread.sleep(50)
    q2.stop()
    q2.exception.foreach(e => report.fail(s"live query failed: ${e.getMessage}"))

    val latMs = (Backlog until total).filter(id => s.sink.ackNs.get(id.toInt) != 0).map { id =>
      (s.sink.ackNs.get(id.toInt) - liveStartNs - Events.dueNs(id, Backlog, Rate)) / 1e6
    }
    if (latMs.nonEmpty) {
      report.metric("latency_p50_ms", Stats.median(latMs), "ms")
      report.metric("latency_p99_ms", Stats.percentile(latMs, 99), "ms")
    }

    gate(report, s, total, expected)

    if (cfg.trace) {
      JobStats.settle()
      val all = streamStats.all
      val bs = streamStats.batches
      def mean(f: TriggerStat => Double) = if (bs.isEmpty) 0.0 else bs.map(f).sum / bs.size
      def d(t: TriggerStat, k: String) = t.durations.getOrElse(k, 0L).toDouble
      report.metric("sources.latest_offset_ms", mean(d(_, "latestOffset")), "ms")
      report.metric("sources.client_calls_per_trigger",
        s.shards.driverCalls.get.toDouble / math.max(1, all.size), "count")
      report.metric("sources.scan_amplification",
        s.shards.handedOut.get.toDouble / math.max(1L, s.shards.delivered.get), "ratio")
      val liveBatches = bs.drop(drainBatches)
      report.metric("sources.records_behind",
        if (liveBatches.isEmpty) 0.0 else liveBatches.map(_.recordsBehind).sum.toDouble / liveBatches.size,
        "count")
      report.metric("streaming.add_batch_ms", mean(d(_, "addBatch")), "ms")
      report.metric("streaming.query_planning_ms", mean(d(_, "queryPlanning")), "ms")
      report.metric("streaming.commit_ms", mean(t => d(t, "walCommit") + d(t, "commitOffsets")), "ms")
      report.metric("streaming.state_rows", all.map(_.stateRows).foldLeft(0L)(math.max), "count")
      report.metric("streaming.state_bytes", all.map(_.stateBytes).foldLeft(0L)(math.max), "bytes")
      val puts = s.sink.puts.get
      report.metric("streaming.sink_puts", puts, "count")
      report.metric("streaming.sink_records_per_put", (acked + s.sink.throttled.get).toDouble / math.max(1L, puts), "count")
      report.metric("streaming.sink_retries", s.sink.throttled.get, "count")
      report.metric("streaming.ledger_ops", LedgerTiming.ops.get, "count")
      report.metric("streaming.ledger_ms", LedgerTiming.nanos.get / 1e6, "ms")
      val injected = Events.duplicates(backlog.puts) + Events.duplicates(live)
      val dropped = Events.userRecords(backlog.puts) + Events.userRecords(live) - acked
      report.metric("streaming.dups_dropped_ratio", dropped.toDouble / math.max(1L, injected), "ratio")
      report.metric("ingest.gen_late_ms", Stats.percentile(lateNs.map(_ / 1e6).toSeq, 99), "ms")
    }
  }
}
