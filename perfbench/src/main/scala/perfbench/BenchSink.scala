package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray, LongAdder}

import scala.collection.mutable.ArrayBuffer

import graft.model.Fs
import graft.streaming.KinesisSink

/** What the bench's sink stream has acknowledged: per event id the ack
  * count and first-ack time, and the order-insensitive content hash of
  * every acked record. */
final class SinkState(capacity: Int, val seed: Long, val throttlePerMille: Int) {
  val ackCount = new AtomicIntegerArray(capacity)
  val ackNs = new AtomicLongArray(capacity)
  val content = new LongAdder
  val puts = new AtomicLong
  val records = new AtomicLong
  val throttled = new AtomicLong
  private val throttledOnce = ConcurrentHashMap.newKeySet[java.lang.Long]()

  /** A seeded share of records is throttled on its first put only, so
    * the sink's retry always gets it through on the next attempt. */
  def throttle(id: Long): Boolean =
    Events.mix(seed ^ 0x7417L, id) % 1000 < throttlePerMille && throttledOnce.add(id)
}

object SinkState {
  private val states = new ConcurrentHashMap[String, SinkState]()
  def register(name: String, s: SinkState): Unit = states.put(name, s)
  def apply(name: String): SinkState = states.get(name)
}

/**
 * Sink-side `KinesisClient`: a PutRecords stand-in that throttles a
 * seeded share of records (reported as failed indices, as PutRecords
 * does) and acknowledges the rest into the named [[SinkState]]. The
 * client is serialized into Spark tasks, so it carries only the name.
 */
final class BenchSinkClient(name: String) extends KinesisSink.KinesisClient {
  override def putRecords(streamName: String, records: Seq[Array[Byte]]): Seq[Int] =
    Tracer.span("sink put", "streaming") {
      val st = SinkState(name)
      st.puts.incrementAndGet()
      val failed = ArrayBuffer[Int]()
      var i = 0
      records.foreach { r =>
        val (id, hash) = Events.parseOutput(r)
        if (st.throttle(id)) { failed += i; st.throttled.incrementAndGet() }
        else {
          st.records.incrementAndGet()
          st.ackCount.incrementAndGet(id.toInt)
          st.ackNs.compareAndSet(id.toInt, 0L, System.nanoTime())
          st.content.add(hash)
        }
        i += 1
      }
      failed.toSeq
    }
}

/** Operation count and time of the exactly-once sink's ledger. */
object LedgerTiming {
  val ops = new AtomicLong
  val nanos = new AtomicLong
  def reset(): Unit = { ops.set(0); nanos.set(0) }
}

/** Timing decorator around `Fs.PosixMarkerStore`, passed as the
  * exactly-once sink's `store` in the traced run. */
final class TimedMarkerStore extends Fs.MarkerStore {
  private def timed[T](op: String)(body: => T): T = Tracer.span(s"ledger $op", "streaming") {
    val t0 = System.nanoTime()
    try body
    finally {
      LedgerTiming.ops.incrementAndGet()
      LedgerTiming.nanos.addAndGet(System.nanoTime() - t0)
    }
  }
  override def putIfAbsent(path: java.nio.file.Path, bytes: Array[Byte]): Option[Array[Byte]] =
    timed("putIfAbsent")(Fs.PosixMarkerStore.putIfAbsent(path, bytes))
  override def read(path: java.nio.file.Path): Option[Array[Byte]] =
    timed("read")(Fs.PosixMarkerStore.read(path))
  override def ensureDir(dir: java.nio.file.Path): Unit =
    timed("ensureDir")(Fs.PosixMarkerStore.ensureDir(dir))
  override def listBatches(root: java.nio.file.Path): Seq[Long] =
    timed("listBatches")(Fs.PosixMarkerStore.listBatches(root))
  override def deletePrefix(prefix: java.nio.file.Path): Unit =
    timed("deletePrefix")(Fs.PosixMarkerStore.deletePrefix(prefix))
}
