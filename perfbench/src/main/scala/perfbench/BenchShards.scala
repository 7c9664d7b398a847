package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext

import graft.sources.KinesisSource

/**
 * In-memory Kinesis stream with `n` shards, standing in for the AWS
 * transport behind `KinesisSource.KinesisShardClient`.
 *
 * Sequence numbers are Kinesis-style: 56-digit zero-padded decimals
 * from one stream-wide counter, so they are strictly increasing within
 * a shard (and across the stream). `getRecords(after, upTo]` returns
 * the records strictly after `after` up to and including `upTo`.
 *
 * Counters, read from outside the program: calls made on the driver
 * (admission, lag metrics, planning), records handed out by any
 * `getRecords` iterator, and records handed to readers inside Spark
 * tasks (delivered). Admission's bounded `advance` goes through the
 * trait's default scan over `getRecords`, so its reads count as handed
 * out but not delivered.
 */
final class BenchShards(val n: Int) extends KinesisSource.KinesisShardClient {
  val shardIds: IndexedSeq[String] = (0 until n).map(i => f"shardId-$i%012d")
  private val index = shardIds.zipWithIndex.toMap
  private val seqs = Array.fill(n)(new ArrayBuffer[Long]())
  private val data = Array.fill(n)(new ArrayBuffer[Array[Byte]]())
  private val nextSeq = new AtomicLong(1)

  val driverCalls = new AtomicLong()
  val handedOut = new AtomicLong()
  val delivered = new AtomicLong()

  def put(shard: Int, payload: Array[Byte]): Unit = seqs(shard).synchronized {
    seqs(shard) += nextSeq.getAndIncrement()
    data(shard) += payload
  }

  private def call[T](name: String)(body: => T): T = {
    if (TaskContext.get() == null) driverCalls.incrementAndGet()
    Tracer.span(s"client $name", "sources")(body)
  }

  override def listShards(streamName: String): Seq[String] = call("listShards")(shardIds)

  override def latestSequence(streamName: String, shardId: String): Option[String] =
    call("latestSequence") {
      val s = seqs(index(shardId))
      s.synchronized(s.lastOption).map(BenchShards.format)
    }

  override def getRecords(streamName: String, shardId: String,
      afterSequence: Option[String], upToSequence: String)
      : Iterator[(String, Array[Byte])] = call("getRecords") {
    val i = index(shardId)
    val after = afterSequence.map(_.toLong).getOrElse(Long.MinValue)
    val upTo = upToSequence.toLong
    val (ss, ds) = seqs(i).synchronized {
      val from = BenchShards.firstAbove(seqs(i), after)
      val to = BenchShards.firstAbove(seqs(i), upTo)
      (seqs(i).slice(from, to).toArray, data(i).slice(from, to).toArray)
    }
    val inTask = TaskContext.get() != null
    ss.iterator.zip(ds.iterator).map { case (s, d) =>
      handedOut.incrementAndGet()
      if (inTask) delivered.incrementAndGet()
      (BenchShards.format(s), d)
    }
  }

  override def advanceTo(streamName: String, shardId: String,
      afterSequence: Option[String], upToSequence: String,
      maxRecords: Int): Option[(String, Int)] =
    call("advanceTo")(super.advanceTo(streamName, shardId, afterSequence,
      upToSequence, maxRecords))
}

object BenchShards {
  def format(seq: Long): String = f"$seq%056d"

  /** Index of the first element strictly greater than `x` in an
    * ascending buffer. */
  def firstAbove(xs: ArrayBuffer[Long], x: Long): Int = {
    var lo = 0
    var hi = xs.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }
}
