package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.llm.Dedup
import graft.sources.KinesisSource
import graft.streaming.ArtifactMaintenance.NearDupLabelStore

/**
 * `maintain`: the generated `documents` are pushed as JSON onto a
 * 4-shard stream and drained with `Trigger.AvailableNow` in bounded
 * batches into `ArtifactMaintenance.NearDupLabelStore`, then the
 * labels are served.
 *
 * `throughput_rps` is documents per second through the drain; a
 * document's latency is the time from the drain's start to the commit
 * of the batch that carried it (when its label becomes servable).
 *
 * Gate: the served labels equal the min-labelled connected components
 * of `Dedup.minhashLsh` over the same documents.
 */
object Maintain {
  val Shards = 4
  val BatchDocs = 80 // Kinesis records (documents) per micro-batch
  val WarmupDocs = 20

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** A finished drain: per batch its end (s after the drain started),
    * its `applyBatch` time (s) and its documents. */
  final case class Drain(seconds: Double, batchEndS: Seq[Double], batchS: Seq[Double],
      batchDocs: Seq[Long], store: NearDupLabelStore)

  def drain(spark: SparkSession, name: String, docs: Seq[(Long, String)],
      workDir: String): Drain = {
    val shards = new BenchShards(Shards)
    KinesisSource.registerClient(name, shards)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    docs.foreach { case (id, text) =>
      val node = mapper.createObjectNode().put("doc_id", id).put("text", text)
      shards.put((id % Shards).toInt, mapper.writeValueAsBytes(node))
    }
    val store = new NearDupLabelStore(s"$workDir/$name/labels")
    val ends = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Double)]()
    val docsIn = spark.readStream.format("graft.sources.KinesisSource")
      .option("stream", "documents").option("client", name)
      .option("maxRecordsPerBatch", BatchDocs.toString).load()
      .select(from_json(col("data").cast("string"), DocSchema).as("d")).select("d.*")
    val t0 = System.nanoTime()
    val q = docsIn.writeStream.queryName(name)
      .option("checkpointLocation", s"$workDir/$name/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b0 = System.nanoTime()
        JobStats.inBucket(batch.sparkSession.sparkContext, "maintain") {
          Tracer.span(s"applyBatch $batchId", "streaming")(store.applyBatch(batch, batchId))
        }
        val b1 = System.nanoTime()
        ends.put(batchId, ((b1 - t0) / 1e9, (b1 - b0) / 1e9))
        ()
      }
      .start()
    q.awaitTermination(150000)
    val dt = (System.nanoTime() - t0) / 1e9
    q.stop()
    q.exception.foreach(e => throw e)
    val rows = q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
    val ids = (0L until ends.size).filter(rows.contains)
    require(ids.size == ends.size, "a batch is missing from the stream progress")
    Drain(dt, ids.map(ends.get(_)._1), ids.map(ends.get(_)._2), ids.map(rows), store)
  }

  /** Min-labelled connected components of a pair list. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.map(d => d -> find(d)).toMap
  }

  def run(spark: SparkSession, stats: JobStats, report: Report, cfg: Main.Config,
      sessionS: Double): Unit = {
    val docs = graft.model.Tables.documents(spark, cfg.dataDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    // set-up: the session, then three warm-up drains of a small corpus
    // (with planted near-duplicates, so every code path of a batch
    // runs) into fresh stores; the median is the set-up unit
    val maxId = docs.map(_._1).max
    val warmDocs = docs.take(WarmupDocs) ++
      docs.take(4).zipWithIndex.map { case ((_, t), i) => (maxId + 1 + i, t + " dup") }
    val warm = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      drain(spark, s"warm$k", warmDocs, cfg.workDir)
      (System.nanoTime() - t0) / 1e9
    }
    report.metric("setup_s", sessionS + Stats.median(warm), "s")
    if (cfg.setupOnly) return
    System.err.println(s"[perfbench] maintain set-up: session $sessionS s, warm-up drains ${warm.mkString(" ")} s")
    if (cfg.trace) JobStats.settle()
    val jobs0 = stats.get("maintain").jobs

    report.attempted += docs.size
    val d = drain(spark, "maintain", docs, cfg.workDir)
    report.metric("throughput_rps", docs.size / d.seconds, "1/s")
    val perDoc = d.batchEndS.zip(d.batchDocs).flatMap { case (end, n) =>
      Seq.fill(n.toInt)(end * 1000) }
    if (d.batchDocs.sum != docs.size)
      report.fail(s"the drain read ${d.batchDocs.sum} of ${docs.size} documents")
    report.metric("latency_p50_ms", Stats.median(perDoc), "ms")
    report.metric("latency_p99_ms", Stats.percentile(perDoc, 99), "ms")

    // gate: served labels == components of the batch pair set
    val served = d.store.serve(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLsh(spark, cfg.dataDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = components(pairs)
    if (expected.isEmpty) report.fail("the generated corpus has no near-duplicate pairs")
    if (served != expected) {
      val bad = (served.keySet ++ expected.keySet).count(k => served.get(k) != expected.get(k))
      report.fail(s"$bad documents have labels that differ from the batch components")
    }
    System.err.println(f"[perfbench] maintain: ${docs.size} docs in ${d.batchS.size} batches, " +
      f"${d.seconds}%.2f s, ${expected.size} labelled docs, ${pairs.size} pairs, batches " +
      d.batchS.map(b => f"$b%.2f").mkString(" "))

    if (cfg.trace) {
      JobStats.settle()
      report.metric("streaming.maintain_batch_s", Stats.median(d.batchS), "s")
      report.metric("streaming.maintain_jobs_per_batch",
        (stats.get("maintain").jobs - jobs0).toDouble / d.batchS.size, "count")
    }
  }
}
