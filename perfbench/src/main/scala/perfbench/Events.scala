package perfbench

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._

import graft.sources.Kpl

/**
 * Seeded generator of the `ingest` event stream. Every property of
 * event `id` is a pure function of (seed, id), so any slice of the
 * stream can be regenerated and the same seed always yields the same
 * records.
 *
 * Shares (per event): 10% out of order (event time up to 2 s behind
 * the due time, inside the watermark), 5% duplicated (a second copy
 * put 50 ms to 1 s later), and 20% of the 8-event blocks KPL-aggregated
 * into one Kinesis record put when the block's last event is due.
 */
object Events {
  final case class Event(id: Long, userId: Int, eventType: String, value: Double,
      k: Int, lagMs: Int)

  /** One Kinesis PutRecord: when it is due (ns after the phase start),
    * which shard, and the event ids it carries (a duplicate copy
    * carries its original's id). */
  final case class Put(dueNs: Long, shard: Int, ids: Seq[Long], duplicate: Boolean)

  val Types: IndexedSeq[String] = IndexedSeq("click", "signup", "error", "view", "purchase")
  val OutOfOrderPct = 10
  val DuplicatePct = 5
  val AggregatedBlockPct = 20
  val BlockSize = 8

  val InputSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** SplitMix64 finalizer over (seed, x); non-negative. */
  def mix(seed: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + x * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def event(seed: Long, id: Long): Event = {
    val h = mix(seed, id)
    val lag = if (mix(seed ^ 1, id) % 100 < OutOfOrderPct) 1 + (mix(seed ^ 4, id) % 2000).toInt else 0
    Event(id, (h % 1000).toInt, Types(((h >>> 10) % Types.size).toInt),
      (1 + (h >>> 20) % 49000) / 100.0, ((h >>> 40) % 100).toInt, lag)
  }

  def shardOf(seed: Long, userId: Int, shards: Int): Int = (mix(seed ^ 2, userId) % shards).toInt

  /** Due time of event `id` in a phase starting at event `first`. */
  def dueNs(id: Long, first: Long, rate: Double): Long = ((id - first) * 1e9 / rate).toLong

  /** The put schedule of events [first, first + n), in due order. */
  def schedule(seed: Long, first: Long, n: Long, rate: Double, shards: Int): Vector[Put] = {
    val puts = Vector.newBuilder[Put]
    var block = first / BlockSize
    while (block * BlockSize < first + n) {
      val ids = (math.max(first, block * BlockSize) until
        math.min(first + n, (block + 1) * BlockSize)).toVector
      if (mix(seed ^ 3, block) % 100 < AggregatedBlockPct)
        puts += Put(dueNs(ids.last, first, rate), (block % shards).toInt, ids, duplicate = false)
      else ids.foreach { id =>
        puts += Put(dueNs(id, first, rate), shardOf(seed, event(seed, id).userId, shards),
          Seq(id), duplicate = false)
      }
      ids.foreach { id =>
        if (mix(seed ^ 5, id) % 100 < DuplicatePct)
          puts += Put(dueNs(id, first, rate) + 50000000L + (mix(seed ^ 6, id) % 950) * 1000000L,
            shardOf(seed, event(seed, id).userId, shards), Seq(id), duplicate = true)
      }
      block += 1
    }
    puts.result().sortBy(_.dueNs)
  }

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  /** Event time (epoch ms) of `e` in a phase whose start is `epochMs`. */
  def tsMs(e: Event, first: Long, rate: Double, epochMs: Long): Long =
    epochMs + dueNs(e.id, first, rate) / 1000000L - e.lagMs

  def json(e: Event, tsMs: Long): Array[Byte] =
    (s"""{"event_id":${e.id},"ts":"${tsFormat.format(Instant.ofEpochMilli(tsMs))}",""" +
      s""""user_id":${e.userId},"event_type":"${e.eventType}","value":${e.value},""" +
      s""""props":"{\\"k\\": ${e.k}}"}""").getBytes("UTF-8")

  /** The Kinesis record of a put: one JSON event, or a KPL aggregate. */
  def payload(seed: Long, put: Put, first: Long, rate: Double, epochMs: Long): Array[Byte] = {
    def one(id: Long) = { val e = event(seed, id); json(e, tsMs(e, first, rate, epochMs)) }
    if (put.ids.size == 1) one(put.ids.head)
    else Kpl.aggregate(put.ids.map(id => Kpl.UserRecord(s"user-${event(seed, id).userId}", one(id))))
  }

  /** Hash of the pipeline's output fields of one event: what the sink
    * must acknowledge for it. */
  def contentHash(id: Long, tsMs: Long, eventType: String, userId: Long, value: Double): Long = {
    val s = s"$id|$tsMs|$eventType|$userId|$value"
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xFFFFFFFFL)
  }

  def expectedHash(e: Event, tsMs: Long): Long =
    contentHash(e.id, tsMs, e.eventType, e.userId, e.value)

  private val mapper = new ObjectMapper()

  /** (event id, content hash) of one output record of the pipeline. */
  def parseOutput(bytes: Array[Byte]): (Long, Long) = {
    val n = mapper.readTree(bytes)
    val id = n.get("event_id").asLong
    val ts = OffsetDateTime.parse(n.get("ts").asText).toInstant.toEpochMilli
    (id, contentHash(id, ts, n.get("event_type").asText, n.get("user_id").asLong,
      n.get("value").asDouble))
  }

  /** Injected duplicate copies in a schedule. */
  def duplicates(puts: Seq[Put]): Long = puts.count(_.duplicate).toLong

  /** User records (after KPL de-aggregation) in a schedule. */
  def userRecords(puts: Seq[Put]): Long = puts.map(_.ids.size.toLong).sum

  def distinctIds(puts: Seq[Put]): Set[Long] = puts.flatMap(_.ids).toSet
}
