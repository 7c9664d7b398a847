package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point (started by `perfbench/run.py`, which builds
 * the classes, generates the seeded tables and relays the last line).
 *
 *   perfbench.Main --workload ingest|maintain|serve --seed N --seconds S
 *                  --trace 0|1 --data DIR --work DIR
 *                  --expected FILE
 *   perfbench.Main record-serve DATA_DIR WORK_DIR OUT_FILE
 *
 * The last stdout line is one JSON object: correct, attempted, failed
 * and the metrics. An untraced run reports the end-to-end metrics; a
 * traced run repeats the workload with listeners, decorators and spans
 * attached and reports the per-layer metrics instead.
 */
object Main {
  final case class Config(
      workload: String = "",
      seed: Long = 1,
      seconds: Double = 10,
      trace: Boolean = false,
      dataDir: String = "",
      workDir: String = "",
      expectedFile: String = "",
      setupOnly: Boolean = false)

  /** Worker threads of the benchmark's Spark session (`local[n]`) on
    * the 4 vCPUs it is sized for. ingest and maintain leave one vCPU to
    * the producer, GC and listener threads, so those do not turn tasks
    * into stragglers. serve's panel at sf 0.01 is made of tiny tasks
    * that wait on each other at every stage boundary: on two workers it
    * ran as fast as on three and left two vCPUs to the JIT compiler and
    * GC threads, which cut its run-to-run spread. */
  def cores(workload: String): Int = if (workload == "serve") 2 else 3

  val EndToEnd: Seq[String] = Seq("setup_s", "throughput_rps", "latency_p50_ms",
    "latency_p99_ms", "retained_heap_mb")

  def unitOf(metric: String): String = metric match {
    case "setup_s" => "s"
    case "throughput_rps" => "1/s"
    case "retained_heap_mb" => "MB"
    case _ => "ms"
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("record-serve")) return recordServe(args.tail)
    val cfg = parse(args.toList, Config())
    require(Set("ingest", "maintain", "serve").contains(cfg.workload),
      s"unknown workload '${cfg.workload}'")
    val out =
      if (!cfg.trace) runWorkload(cfg, "plain")
      else {
        // an untraced set-up pass warms the JVM, so the traced pass and
        // the untraced pass it is compared with both run warm
        val warmup = runWorkload(cfg.copy(trace = false, setupOnly = true), "warmup")
        val traced = runWorkload(cfg, "traced")
        val plain = runWorkload(cfg.copy(trace = false), "plain")
        perLayer(traced, plain, Seq(warmup, plain))
      }
    println(out.json)
    System.exit(0)
  }

  private def parse(args: List[String], c: Config): Config = args match {
    case "--workload" :: v :: t => parse(t, c.copy(workload = v))
    case "--seed" :: v :: t => parse(t, c.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, c.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, c.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, c.copy(dataDir = v))
    case "--work" :: v :: t => parse(t, c.copy(workDir = v))
    case "--expected" :: v :: t => parse(t, c.copy(expectedFile = v))
    case Nil => c
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.cleaner.periodicGC.interval", "24h")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One pass of a workload in a fresh session; each pass keeps its
    * checkpoints and stores in its own directory. */
  private def runWorkload(runCfg: Config, pass: String): Report = {
    val cfg = runCfg.copy(workDir = s"${runCfg.workDir}/$pass")
    val t0 = System.nanoTime()
    val spark = session(cores(cfg.workload), cfg.workDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = new Report
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(stats)
    if (cfg.trace) Tracer.start(spark.sparkContext, s"${cfg.workload}-${cfg.seed}")
    try {
      cfg.workload match {
        case "serve" => Serve.run(spark, report, cfg, sessionS)
        case "ingest" => Ingest.run(spark, report, cfg, sessionS)
        case "maintain" => Maintain.run(spark, stats, report, cfg, sessionS)
      }
      report.metric("retained_heap_mb", retainedHeapMb(), "MB")
      if (cfg.trace) {
        JobStats.settle()
        Tracer.stop()
        layerCounters(stats, report)
        val spans = Paths.get(runCfg.workDir, "trace", s"${cfg.workload}-${cfg.seed}.spans.jsonl")
        Tracer.write(spans)
        val self = Tracer.selfTimeMs()
        val counts = Tracer.counts()
        self.toSeq.sortBy(_._1).foreach { case (layer, ms) =>
          System.err.println(f"[perfbench] self time $layer%-10s $ms%10.1f ms " +
            s"over ${counts(layer)} spans")
          report.metric(s"trace.self_${layer}_ms", ms, "ms")
        }
        report.metric("trace.spans", Tracer.all.size, "count")
        System.err.println(s"[perfbench] spans written to $spans")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"${cfg.workload} aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally stopSession(spark)
    if (cfg.trace && cfg.workload == "ingest") {
      // single-core baseline: the same backlog drained at local[1]
      val one = session(1, cfg.workDir)
      try {
        val d = Ingest.drain(one, new Ingest.Stream("local1", cfg.seed, Ingest.Backlog.toInt,
          cfg.workDir), cfg.seed, Ingest.Backlog, traced = false)
        report.metric("ingest.local1_drain_rps", Events.userRecords(d.puts) / d.seconds, "1/s")
      } catch { case e: Throwable => report.fail(s"local[1] drain failed: ${e.getMessage}") }
      finally stopSession(one)
    }
    report
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a forced GC: what the timed phase left live. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** ops/llm/plans counters of the timed buckets. */
  private def layerCounters(stats: JobStats, r: Report): Unit = {
    val rel = stats.get("relational")
    r.metric("ops.jobs", rel.jobs, "count")
    r.metric("ops.stages", rel.stages, "count")
    r.metric("ops.tasks", rel.tasks, "count")
    r.metric("ops.cpu_s", rel.cpuNs / 1e9, "s")
    r.metric("ops.run_s", rel.runMs / 1e3, "s")
    r.metric("ops.shuffle_bytes", rel.shuffleBytes, "bytes")
    r.metric("ops.spill_bytes", rel.spillBytes, "bytes")
    val llm = stats.get("llm")
    r.metric("llm.jobs", llm.jobs, "count")
    r.metric("llm.cpu_s", llm.cpuNs / 1e9, "s")
    r.metric("llm.shuffle_bytes", llm.shuffleBytes, "bytes")
    r.metric("plans.planning_ms",
      Seq("relational", "llm", "ingest", "maintain").map(stats.get(_).planningMs).sum, "ms")
  }

  /** The traced run's report: every per-layer metric (0 where the
    * workload leaves a layer idle), plus the tracing overhead on the
    * timed-phase metrics (traced minus untraced). Gates of every pass
    * count. */
  private def perLayer(traced: Report, plain: Report, others: Seq[Report]): Report = {
    val out = new Report
    val all = traced +: others
    out.attempted = all.map(_.attempted).sum
    out.failed = all.map(_.failed).sum
    val tv = traced.values
    val pv = plain.values
    PerLayer.names.foreach { case (name, unit) =>
      val v =
        if (name.startsWith("trace.overhead_")) {
          val m = name.stripPrefix("trace.overhead_")
          tv.getOrElse(m, 0.0) - pv.getOrElse(m, 0.0)
        } else tv.getOrElse(name, 0.0)
      out.metric(name, v, unit)
    }
    (tv.keySet -- PerLayer.names.map(_._1) -- EndToEnd).toSeq.sorted.foreach { k =>
      System.err.println(s"[perfbench] extra metric $k = ${tv(k)}")
    }
    if (!all.forall(_.correct)) out.fail("a gate failed in a traced or untraced pass")
    out
  }

  /** `name hash` lines of the stored serve hashes. */
  def loadExpected(file: String): Map[String, String] =
    if (!Files.exists(Paths.get(file))) Map.empty
    else scala.io.Source.fromFile(file).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap

  /** Records the panel's row hashes on the given tables. */
  private def recordServe(args: Array[String]): Unit = {
    val Array(dataDir, workDir, outFile) = args
    val spark = session(cores("serve"), workDir)
    val lines = Serve.Panel.map { q =>
      val h = Serve.rowHash(graft.SparkEntry.queries(q)(spark, dataDir))
      spark.catalog.clearCache()
      s"$q $h"
    }
    Files.write(Paths.get(outFile), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
