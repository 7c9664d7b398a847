package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.llm.ModelCache

/**
 * `serve`: a warm panel of `SparkEntry.queries` in two families,
 * relational (ops/plans) and llm.
 *
 * Set-up is one cold pass: every panel query is collected once on the
 * bench tables, which builds the artifacts the panel reads, warms the
 * JIT and codegen caches, and feeds the correctness gate: each result's
 * order-insensitive row hash must equal the one stored in
 * `serve_expected.txt` (recorded on the same generated tables and
 * checked against the DuckDB oracle SQL).
 *
 * After two untimed passes, the timed phase runs passes over the panel
 * in a seeded order until the time is up (at least eight), each query
 * materialized through the `noop` sink as `graft.Bench` does, with a GC
 * between queries outside the clock. Every timed run is one sample:
 * `throughput_rps` is runs per second of query time and
 * `latency_p50_ms` their median. A query's time is its median run;
 * `latency_p99_ms` is taken over those (in effect the slowest query).
 */
object Serve {
  val Relational: Seq[String] = Seq(
    "q10_pricing_summary", "q26_snowflake_revenue", "q100_rank_rewrite")
  val Llm: Seq[String] = Seq(
    "q32_minhash_lsh", "q69_dedup_survivors", "q148_repetition")
  val Panel: Seq[String] = Relational ++ Llm

  val WarmPasses = 2
  val MinPasses = 8
  val MaxPasses = 16

  def family(q: String): String = if (Relational.contains(q)) "relational" else "llm"

  /** Short metric name of a query: `q10_pricing_summary` -> `q10`. */
  def short(q: String): String = q.takeWhile(_ != '_')

  /** Runs one query to full materialization under its family's bucket;
    * returns seconds. */
  def runOnce(spark: SparkSession, q: String, dir: String, bucket: String): Double = {
    val t0 = System.nanoTime()
    JobStats.inBucket(spark.sparkContext, bucket) {
      Tracer.span(s"query $q", "plans") {
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    dt
  }

  /** GC between queries, outside any clock (as graft.Bench does), so
    * dead pins from one query do not land on the next one's time. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(50) }

  /** Order-insensitive hash of a result: SHA-256 over the schema and
    * the sorted canonical rendering of every row. */
  def rowHash(df: DataFrame): String = {
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(Array[Byte](10)) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def run(spark: SparkSession, report: Report, cfg: Main.Config, sessionStartS: Double): Unit = {
    val rnd = new scala.util.Random(cfg.seed)
    // set-up and gate: the cold pass (a traced run's earlier passes in
    // the same JVM must not leave artifacts behind for it)
    ModelCache.invalidate()
    val expected = Main.loadExpected(cfg.expectedFile)
    val sc = spark.sparkContext
    val build0 = ModelCache.buildSeconds
    val count0 = ModelCache.buildCounts
    val tc = System.nanoTime()
    val cold = Panel.map { q =>
      report.attempted += 1
      val t0 = System.nanoTime()
      try {
        val h = JobStats.inBucket(sc, "setup")(rowHash(SparkEntry.queries(q)(spark, cfg.dataDir)))
        if (!expected.get(q).contains(h))
          report.fail(s"$q row hash $h != expected ${expected.getOrElse(q, "<none>")}")
      } catch { case e: Throwable =>
        report.fail(s"$q threw in the cold pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      quiesce()
      q -> t
    }.toMap
    val coldS = (System.nanoTime() - tc) / 1e9
    val builds = ModelCache.buildSeconds.map { case (t, s) => t -> (s - build0.getOrElse(t, 0.0)) }
      .filter(_._2 > 0)
    report.metric("setup_s", sessionStartS + coldS, "s")
    if (cfg.setupOnly) return
    System.err.println(f"[perfbench] serve set-up: session $sessionStartS%.2f s, " +
      f"cold pass $coldS%.2f s, builds ${builds.values.sum}%.2f s")

    // untimed passes let the JIT settle, then the timed passes
    (1 to WarmPasses).foreach { _ =>
      Panel.foreach { q => runOnce(spark, q, cfg.dataDir, "warm"); quiesce() }
    }
    val times = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    val passTotals = scala.collection.mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    while (passTotals.size < MinPasses ||
        (System.nanoTime() < deadline && passTotals.size < MaxPasses)) {
      var total = 0.0
      rnd.shuffle(Panel).foreach { q =>
        report.attempted += 1
        try {
          val t = runOnce(spark, q, cfg.dataDir, family(q))
          times(q) = times(q) :+ t
          total += t
        } catch { case e: Throwable =>
          report.fail(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        quiesce()
      }
      passTotals += total
      System.err.println(f"[perfbench] serve pass ${passTotals.size}: $total%.2f s")
    }
    // pooled over every timed run, so the figures rest on dozens of
    // samples rather than on a few per-query extremes
    val all = times.values.flatten.toSeq
    val perQuery = times.map { case (q, ts) => q -> Stats.median(ts) }
    Panel.foreach { q =>
      System.err.println(f"[perfbench]   $q%-26s cold ${cold(q)}%6.2f s  " +
        s"warm ${times(q).map(t => f"$t%.3f").mkString(" ")}")
    }
    val relS = Relational.flatMap(perQuery.get).sum
    val llmS = Llm.flatMap(perQuery.get).sum
    report.metric("throughput_rps", all.size / all.sum, "1/s")
    report.metric("latency_p50_ms", Stats.median(all) * 1000, "ms")
    report.metric("latency_p99_ms", Stats.percentile(Panel.flatMap(perQuery.get), 99) * 1000, "ms")

    if (cfg.trace) {
      JobStats.settle()
      report.metric("serve.relational_s", relS, "s")
      report.metric("serve.llm_s", llmS, "s")
      report.metric("serve.build_s", builds.values.sum, "s")
      report.metric("serve.passes", passTotals.size, "count")
      report.metric("serve.pass_drift_ratio", passTotals.last / passTotals.head, "ratio")
      Seq("ops" -> Relational, "llm" -> Llm).foreach { case (layer, qs) =>
        qs.foreach(q => report.metric(s"$layer.${short(q)}_s", perQuery.getOrElse(q, 0.0), "s"))
      }
      builds.foreach { case (t, s) => report.metric(s"llm.build_s.$t", s, "s") }
      report.metric("llm.builds", ModelCache.buildCounts.map { case (t, n) =>
        n - count0.getOrElse(t, 0) }.sum, "count")
      report.metric("plans.exchanges", Relational.map { q =>
        graft.plans.PlanChecks.audit(SparkEntry.queries(q)(spark, cfg.dataDir)).shuffleExchanges
      }.sum, "count")
    }
  }
}
