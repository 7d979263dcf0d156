package graftbench

import org.apache.spark.sql.SparkSession

/** The figures behind the end-to-end latency and rate metrics of a phase:
  * the median latency, the latency at quantile `tailQ`, and the rate. */
final case class Summary(p50Ms: Double, tailMs: Double, tailQ: Double, ratePerS: Double,
                         samples: Int)

/** One workload of the benchmark: it makes its inputs from the seed, runs
  * a closed loop against the program's public functions, and checks every
  * result. */
abstract class Workload(val ctx: Ctx) {
  def generate(): Unit
  /** Untimed operations at full scale, to warm up the JIT and the
    * session. They are checked like the rest. */
  def warmup(): Phase
  /** Run the closed loop for about `seconds`, and for at least `minShare`
    * of the workload's minimum sample count. */
  def run(seconds: Double, tr: Tracer, minShare: Double): Phase
  /** `op_p50_ms`, `op_tail_ms` and `rows_per_s` of a phase. */
  def summary(p: Phase): Summary
  /** Facts for the human-readable detail line, under the names the
    * benchmark's documentation uses. */
  def detail(p: Phase): Map[String, Any]
  /** This workload's own per-layer metrics from its traced phase. */
  def layers(p: Phase, t: TraceReport): Map[String, Double]
}

/** Runs one benchmark workload in this JVM and prints, on stdout, `DETAIL
  * <json>` with every figure the run saw and `RESULT <json>` with the
  * metrics the benchmark reports. Set-up time runs from `--launch-ns` (the
  * wall clock when the JVM was launched) until the session has run its
  * first job; input generation comes after it. */
object Main {

  /** Per-layer metrics (name → unit), printed by every traced run; a layer
    * the workload never calls reports 0. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "csvsource.sniff_ms" -> "ms", "csvsource.stage_ms" -> "ms",
    "csvsource.bytes_read" -> "B", "csvsource.self_ms" -> "ms",
    "sinks.write_ms" -> "ms", "sinks.bytes_written_per_input_byte" -> "ratio",
    "sinks.files_written" -> "count", "sinks.self_ms" -> "ms",
    "catalog.list_ms" -> "ms", "catalog.describe_ms" -> "ms", "catalog.self_ms" -> "ms",
    "ops.page_ms" -> "ms", "ops.count_ms" -> "ms", "ops.join_page_ms" -> "ms",
    "ops.rows_read_per_row_returned" -> "ratio", "ops.self_ms" -> "ms",
    "dedup.near_dups_ms" -> "ms", "dedup.pairs_found_per_planted" -> "ratio",
    "dedup.self_ms" -> "ms",
    "functions.signature_ms" -> "ms", "functions.self_ms" -> "ms",
    "similarity.fit_ms" -> "ms", "similarity.probe_ms" -> "ms",
    "similarity.rows_scanned_per_query" -> "count", "similarity.recall_at_10" -> "ratio",
    "similarity.self_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.scheduler_delay_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.storage_mb_after_op" -> "MB",
    "bench.self_ms" -> "ms", "trace.overhead_pct" -> "%")

  private final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                                work: String, tiny: Boolean, launchNs: Long, injectError: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("work"), kv.getOrElse("scale", "full") == "tiny",
      kv.get("launch-ns").map(_.toLong).getOrElse(Clock.epochNanos()),
      kv.getOrElse("inject-error", "0") == "1")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mainNs = Clock.epochNanos()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sessionNs = Clock.epochNanos()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    val readyNs = Clock.epochNanos()
    val setupS = (readyNs - o.launchNs) / 1e9
    val setupParts = Map("jvm_s" -> (mainNs - o.launchNs) / 1e9,
      "session_s" -> (sessionNs - mainNs) / 1e9, "first_job_s" -> (readyNs - sessionNs) / 1e9)

    val ctx = Ctx(spark, o.seed, o.work, o.tiny, cpus, o.injectError)
    val wl: Workload = o.workload match {
      case "bulk_transfer"       => new BulkTransfer(ctx)
      case "interactive_preview" => new InteractivePreview(ctx)
      case other                 => sys.error(s"unknown workload '$other'")
    }
    val (_, genMs) = Clock.timed(wl.generate())
    val (warm, warmMs) = Clock.timed(wl.warmup())

    // A traced run measures three shorter passes (untraced, traced,
    // untraced) and reports only the per-layer metrics.
    val share = if (o.trace) 0.5 else 1.0
    val (plain, passMs) = Clock.timed(wl.run(o.seconds * share, Untraced, share))
    val sum = wl.summary(plain)
    val liveMb = if (o.trace) Double.NaN else liveHeapMb()
    val traced = if (o.trace) Some(tracedPhases(spark, wl, o, share, sum)) else None
    val phases = Seq(warm, plain) ++ traced.toSeq.flatMap(_._1)

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => Seq(("setup_s", setupS, "s"), ("op_p50_ms", sum.p50Ms, "ms"),
          ("op_tail_ms", sum.tailMs, "ms"), ("rows_per_s", sum.ratePerS, "rows/s"),
          ("live_heap_mb", liveMb, "MB"))
      case Some((_, layerVals)) =>
        layerMetrics.map { case (n, u) => (n, layerVals.getOrElse(n, 0.0), u) }
    }
    val attempted = phases.map(_.attempted.get).sum
    val failed = phases.map(_.failed.get).sum
    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> cpus,
      "setup_s" -> setupS, "setup_parts" -> setupParts, "input_generation_s" -> genMs / 1000,
      "warmup_s" -> warmMs / 1000, "pass_s" -> passMs / 1000,
      "samples" -> sum.samples, "op_p50_ms" -> sum.p50Ms, "op_tail_ms" -> sum.tailMs,
      "op_tail_quantile" -> sum.tailQ,
      "rows_per_s" -> sum.ratePerS,
      "live_heap_mb" -> liveMb, "peak_rss_mb" -> peakRssMb(),
      "op_error_rate" -> failed.toDouble / math.max(1L, attempted)) ++ wl.detail(plain)
    println("DETAIL " + Json.render(detail))
    println("RESULT " + Json.render(Map(
      "correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))))
    spark.stop()
  }

  /** A traced pass between two untraced ones: the per-layer metrics, and
    * the share by which tracing raised the median latency over the mean of
    * the untraced passes before and after it (which cancels a steady drift
    * of the host or the JIT). */
  private def tracedPhases(spark: SparkSession, wl: Workload, o: Opts, share: Double,
                           before: Summary): (Seq[Phase], Map[String, Double]) = {
    val tracer = new SpanTracer(spark)
    val p = wl.run(o.seconds * share, tracer, share)
    val spans = tracer.finish()
    val after = wl.run(o.seconds * share, Untraced, share)
    val report = new TraceReport(spans, tracer.taskTap.snapshot, tracer.t0Ns)
    val nOps = math.max(1, report.ops.size).toDouble
    val all = report.sumAgg(spans)
    val untracedP50s = Seq(before.p50Ms, wl.summary(after).p50Ms)
    val common = Map(
      "spark.plan_ms" -> all.planMs / nOps,
      "spark.jobs_per_op" -> all.jobs / nOps,
      "spark.tasks_per_op" -> all.tasks / nOps,
      "spark.scheduler_delay_ms" -> all.queueMs / nOps,
      "spark.executor_cpu_ms" -> all.cpuNs / 1e6 / nOps,
      "spark.executor_run_ms" -> all.runMs / nOps,
      "spark.gc_ms" -> all.gcMs / nOps,
      "spark.shuffle_bytes" -> all.shuffleBytes / nOps,
      "spark.spill_bytes" -> all.spillBytes / nOps,
      "spark.storage_mb_after_op" -> (if (p.storageMb.isEmpty) 0.0 else p.storageMb.max),
      "bench.self_ms" -> report.selfPerOpMs("op"),
      "trace.overhead_pct" -> (wl.summary(p).p50Ms / Stats.mean(untracedP50s) - 1) * 100)
    val self = Seq("csvsource", "sinks", "catalog", "ops", "dedup", "functions", "similarity")
      .map(l => s"$l.self_ms" -> report.selfPerOpMs(l)).toMap
    val vals = common ++ self ++ wl.layers(p, report)
    val tracePath = new java.io.File(new java.io.File(o.work).getParentFile,
      s"traces/${o.workload}-seed${o.seed}.json").getPath
    report.write(tracePath, Map("workload" -> o.workload, "seed" -> o.seed,
      "ops" -> report.ops.size, "untraced_p50_ms" -> untracedP50s, "metrics" -> vals))
    System.err.println(s"[trace] ${spans.size} spans written to $tracePath")
    (Seq(p, after), vals)
  }

  /** Heap still in use after full collections: what the program holds on
    * to (caches, memos, session state) once the loop is done, in MB.
    * Spark's cleaner frees the blocks of finished queries only after a
    * collection has found them unreachable, so collections repeat until the
    * live size stops falling. Each size is the collector's own report at
    * the end of the collection. */
  private def liveHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def fullGcMb(): Double = {
      val before = collectors.map(_.getCollectionCount)
      System.gc()
      val info = collectors.zip(before).collect { case (b, n) if b.getCollectionCount > n => b }
        .flatMap(b => Option(b.getLastGcInfo)).maxBy(_.getEndTime)
      info.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6
    }
    var prev = fullGcMb()
    var cur = prev
    var rounds = 0
    do {
      prev = cur
      Thread.sleep(500)
      cur = fullGcMb()
      rounds += 1
    } while (cur < prev * 0.99 && rounds < 5)
    cur
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
