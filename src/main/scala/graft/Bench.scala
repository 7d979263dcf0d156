package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Sentinel-spread threshold below which a run (or chunk) counts as
    * measured on a quiet machine. One constant shared by the whole-suite
    * stamp, the per-chunk stamps, and tools/bench_diff.py's fallback
    * (≈ the quiet-box envelope: r12's 0.683 was already a hot run; quiet
    * chunked runs sit ≤0.2). */
  private[graft] val NoiseTrustThreshold = 0.25

  /** Reference floors: the flat `queries_min` object of the previous
    * committed artifact, plus its self-declared mode. Regex-parsed (flat
    * JSON, no nested objects inside queries_min); absent file → every query
    * gets the second pass. Floors are only trusted when the artifact's "sf"
    * matches this run's — sf1 times judged against sf0.1 floors would mark
    * EVERY query suspicious (double-passing the whole suite) while blessing
    * any that sneak under the wrong scale's bar. A failed/rejected load is
    * LOUD (stderr): silently-empty floors double-pass the entire suite (~2×
    * wall) while looking like normal adaptive-min operation.
    *
    * Negative entries are DROPPED on load (advisor, round 13): -1.0 is the
    * failure sentinel, not a floor. Keeping it would (a) make the 1.3×
    * suspicious check vacuously true forever (t1 > -1.3 always) and (b) let
    * math.min(v, -1.0) pin the merged floor at -1.0 even after the query
    * recovers — a one-round crash poisoning the ratchet permanently. */
  private[graft] def loadFloors(refPath: String, sfDir: String): (Map[String, Double], String) =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(refPath)), "UTF-8")
      val refSf = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      val refMode = "\"mode\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("unknown")
      // Whitespace-tolerant: a hand- or tool-rewritten artifact (pretty-
      // printed JSON) must still load — round 13 found a silently-pretty
      // artifact producing a full double-pass.
      val obj = txt.split("\"queries_min\"\\s*:\\s*\\{", 2)
      if (obj.length < 2) {
        System.err.println(s"BENCH FLOORS ABSENT $refPath: no queries_min — full double-pass")
        (Map.empty, refMode)
      } else if (!refSf.contains(sfDir)) {
        System.err.println(
          s"BENCH FLOORS REJECTED $refPath: sf ${refSf.getOrElse("?")} != $sfDir — full double-pass")
        (Map.empty, refMode)
      } else
        ("\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+)".r.findAllMatchIn(obj(1).takeWhile(_ != '}'))
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 >= 0).toMap, refMode)
    } catch {
      case e: Throwable =>
        System.err.println(
          s"BENCH FLOORS UNREADABLE $refPath: ${e.getClass.getSimpleName}: ${e.getMessage} — full double-pass")
        (Map.empty, "unknown")
    }

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val fixedRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption)
    // Fresh-JVM chunking, ON BY DEFAULT for a full-suite adaptive-min run.
    // In-suite times accrete JVM/memory pressure over ~380 queries and read
    // up to 5× the isolated floors by the tail (r12: q_shapley_attribution
    // 3.24s in-suite vs 0.60s isolated) — the only structural fix is to not
    // share a heap across the whole suite. Subset (BENCH_ONLY) and fixed-N
    // tuning runs stay single-JVM: they're short and their caller wants one
    // process to profile. SPARK_GRAFT_BENCH_CHUNKS=1 opts out; =N overrides
    // the chunk count. Child processes see CHUNKS=1 via env so they can't
    // recurse.
    // Why 4: measured head-to-head at sf0.1 (round 13), 4 chunks beat 8 —
    // 19% vs 34% of queries over 1.3× floor, total 255s vs 270s — because
    // once the runaway tail is gone the residual inflation lives at chunk
    // HEADS (cold JIT/codegen per fresh JVM), and more chunks means more
    // cold heads. Within a 95-query chunk the position-vs-floor profile is
    // flat (~1.10-1.17 median) after the first few queries.
    val chunks = sys.env.get("SPARK_GRAFT_BENCH_CHUNKS").flatMap(_.toIntOption)
      .getOrElse(if (only.isEmpty && fixedRuns.isEmpty) 4 else 1)
    if (chunks > 1) runChunked(sfDir, chunks, only)
    else runSuite(sfDir, only, fixedRuns)
  }

  /** Split the declared suite into `n` contiguous chunks (SORTED order —
    * deterministic and prefix-family-grouped, so memo families like the
    * q_ann_* index queries land inside one JVM; SparkEntry.queries is a
    * hash map, so "declared order" was never real — advisor, round 13) and
    * run each in a FRESH child JVM, then merge the per-chunk artifacts into the
    * one JSON line the driver parses.
    *
    * On the r13 verdict's optional "evict memos at chunk boundaries" item:
    * deliberately NOT implemented. A chunk boundary IS a JVM exit here, so
    * end-of-chunk eviction is automatic; within a chunk the dup-graph and
    * IVF memos are already access-ordered LRUs that release block-manager
    * storage on eviction, and the sorted order keeps each memo's prefix
    * family adjacent, so a memo's live window inside a chunk is short.
    * Evicting earlier would need a query→memo dependency map — complexity
    * the measured effect (narrow frames, tens of MB) doesn't justify.
    *
    * The parent never builds a SparkSession. Child JVMs inherit this JVM's
    * own launch options (add-opens, -Xmx, -D flags) via RuntimeMXBean —
    * `run / fork := true` in build.sbt guarantees java.class.path is the
    * real classpath. */
  /** One full chunked pass, parsed back from the child artifacts. */
  private[graft] final case class ChunkPass(
      runs: Vector[(String, Double)], mins: Vector[(String, Double)],
      noise: Double, chunkStamps: Seq[(Double, Seq[String])],
      auditRatios: Seq[Double], quietQueries: Set[String] = Set.empty) {
    def untrustedChunks: Int = chunkStamps.count { case (cn, _) =>
      !(cn >= 0 && cn <= NoiseTrustThreshold) }
    def failedCount: Int = runs.count(_._2 < 0)
  }

  /** Rank two passes for the trusted-window hunter: fewer contended chunks
    * wins, then fewer FAILED queries (advisor, round 15: a quiet pass
    * containing BENCH FAIL queries must not beat a quiet clean pass — its
    * -1.0 run values would be the published record), ties break on the
    * lower worst-chunk sentinel spread. */
  private[graft] def passRank(p: ChunkPass): (Int, Int, Double) =
    (p.untrustedChunks, p.failedCount,
      if (p.noise < 0) Double.MaxValue else p.noise)

  private def runChunked(sfDir: String, n: Int, only: Option[Set[String]]): Unit = {
    val names = (only match {
      case Some(sel) => SparkEntry.queries.keys.filter(sel).toVector
      case None => SparkEntry.queries.keys.toVector
    }).sorted
    val per = math.max(1, math.ceil(names.size.toDouble / n).toInt)
    val chunkLists = names.grouped(per).toVector
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toVector
        // Drop agent/debug flags a wrapper may have injected; keep
        // --add-opens, -Xmx, -XX and -D settings.
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    }
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val refPath = sys.env.get("SPARK_GRAFT_BENCH_REF").getOrElse(
      java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_local.json").toString)

    def onePass(): ChunkPass = {
      val outFiles = chunkLists.indices.map(i =>
        java.nio.file.Files.createTempFile(s"graft_bench_chunk${i}_", ".json"))
      val chunkResults = chunkLists.zipWithIndex.map { case (chunk, i) =>
        val pb = new ProcessBuilder(
          (Vector(javaBin) ++ jvmArgs ++ Vector(
            "-cp", sys.props("java.class.path"), "graft.Bench")): _*)
        val env = pb.environment()
        env.put("SPARK_GRAFT_BENCH_CHUNKS", "1")
        // Each fresh child JVM pays cold-JIT/codegen on its first few TIMED
        // queries (r13 measurement: residual inflation concentrates at chunk
        // heads, 19% of queries >1.3× floor on a quiet machine). Tell the
        // child to run its head query once UNTIMED first. Manual BENCH_ONLY
        // probes don't set this, so ad-hoc cold measurements are unchanged.
        env.put("SPARK_GRAFT_BENCH_WARM_HEAD", "1")
        env.put("SPARK_GRAFT_BENCH_ONLY", chunk.mkString(","))
        env.put("SPARK_GRAFT_BENCH_OUT", outFiles(i).toString)
        env.put("SPARK_GRAFT_BENCH_REF", refPath)
        env.put("SPARK_GRAFT_SF_DIR", sfDir)
        // Child stdout (its own JSON lines) must NOT interleave with the
        // parent's driver-parsed stdout; stderr passes through for FAIL lines.
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val code = pb.start().waitFor()
        val txt = try {
          new String(java.nio.file.Files.readAllBytes(outFiles(i)), "UTF-8")
        } catch { case _: Throwable => "" }
        if (code != 0 || !txt.contains("\"queries\""))
          System.err.println(s"BENCH CHUNK $i FAILED (exit $code) — queries marked failed")
        (chunk, txt)
      }
      def parseMap(txt: String, key: String): Map[String, Double] = {
        val obj = txt.split("\"" + key + "\"\\s*:\\s*\\{", 2)
        if (obj.length < 2) Map.empty
        else "\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+)".r.findAllMatchIn(obj(1).takeWhile(_ != '}'))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      val runs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val auditRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
      val chunkStamps = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[String])]
      val quietSet = scala.collection.mutable.Set.empty[String]
      var noise = -1.0
      chunkResults.foreach { case (chunk, txt) =>
        val q = parseMap(txt, "queries"); val qm = parseMap(txt, "queries_min")
        // Per-query quiet bits from the child (an array; a single-JVM child
        // artifact carries at most one `quiet_queries`).
        "\"quiet_queries\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
          .foreach { m =>
            quietSet ++= "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1))
          }
        chunk.foreach { name =>
          runs(name) = q.getOrElse(name, -1.0)
          mins(name) = qm.getOrElse(name, -1.0)
        }
        // Merged noise = worst chunk's sentinel spread (conservative) for the
        // driver's short line; ADDITIONALLY each chunk's own sentinel spread
        // is kept for a per-chunk trusted stamp in the full artifact (judge,
        // round 14: noise was measured per chunk but merged as a max, so one
        // contended chunk untrusted-stamped the whole suite — six full r14
        // passes banked zero trusted run-value records). The
        // audit sample can't be reconstructed ratio-by-ratio from the child
        // summaries, so the merged audit repeats each chunk's median n times
        // — sample-size-weighted, summarizing to the same n and a median of
        // chunk medians.
        // Parse top-level scalars only from the artifact's HEAD (before the
        // queries maps) — same field-reorder-proofing as the audit scope
        // below: a query key ending in "noise" must never shadow the field.
        val chunkNoise =
          parseScalar(txt.split("\"queries\"", 2)(0), "noise").getOrElse(-1.0)
        chunkStamps += ((chunkNoise, chunk))
        noise = math.max(noise, chunkNoise)
        // Scope the audit-scalar parse to the audit OBJECT (advisor, round
        // 13): a bare regex over the whole line would match any later field
        // ending in "n"/"median" — e.g. a query key — if the JSON field
        // order ever changed.
        val auditObj = txt.split("\"audit\"\\s*:\\s*\\{", 2) match {
          case Array(_, rest) => rest.takeWhile(_ != '}')
          case _ => ""
        }
        for {
          an <- parseScalar(auditObj, "n"); am <- parseScalar(auditObj, "median")
        } auditRatios ++= Seq.fill(an.toInt)(am)
      }
      outFiles.foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
      ChunkPass(runs.toVector, mins.toVector, noise, chunkStamps.toSeq,
        auditRatios.toSeq, quietSet.toSet)
    }

    // Trusted-window hunter (r14 verdict #8, strictly opportunistic and
    // OFF by default): SPARK_GRAFT_BENCH_UNTIL_TRUSTED=N re-runs the full
    // suite up to N times, stopping at the first pass with zero contended
    // chunks. Run values / stamps come from the BEST pass seen (fewest
    // untrusted chunks, then lowest sentinel spread); floors accumulate
    // across ALL passes — every measured minimum ratchets regardless of
    // which pass's run values are published. Never set by the driver: a
    // multi-pass run would blow its command window. Floors make this
    // unnecessary for regression detection; it exists to bank a trusted
    // run-value record when the shared box finally quiets down.
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_UNTIL_TRUSTED")
      .flatMap(_.toIntOption).getOrElse(1).max(1)
    var best: ChunkPass = null
    var accMins: Vector[(String, Double)] = Vector.empty
    var attempt = 0
    var done = false
    while (attempt < maxAttempts && !done) {
      attempt += 1
      val p = onePass()
      // Cross-attempt floor accumulation IS the ratchet merge: measured
      // -1.0 keeps the earlier attempt's value, otherwise min.
      accMins =
        if (accMins.isEmpty) p.mins
        else mergeFloors(p.mins, accMins.filter(_._2 >= 0).toMap)
      if (best == null || Ordering[(Int, Int, Double)].lt(passRank(p), passRank(best)))
        best = p
      // Early stop only on a pass that is BOTH fully quiet and failure-free
      // (advisor, round 15): a quiet pass with BENCH FAIL queries would
      // otherwise end the hunt and publish their -1.0 run values while
      // retry attempts remained. Floors still accumulate from every pass.
      done = p.untrustedChunks == 0 && p.failedCount == 0
      if (!done && attempt < maxAttempts)
        System.err.println(s"BENCH UNTIL_TRUSTED attempt $attempt/" +
          s"$maxAttempts: ${p.untrustedChunks}/${p.chunkStamps.size} chunks " +
          s"contended (worst sentinel ${f3(p.noise)}), " +
          s"${p.failedCount} failed — re-running")
    }
    val (refFloors, refMode) = loadFloors(refPath, sfDir)
    // The "retime" segment mirrors the children's own gate: with no
    // loadable floors the children stamp plain "adaptive-min" (no retime
    // can select anything), so the merged artifact must not claim
    // min-of-passes run values either.
    val retimeSeg = if (refFloors.nonEmpty) "-retime" else ""
    emit(sfDir, best.runs, accMins, best.noise,
      mode = s"adaptive-min$retimeSeg-chunked-$n", refPath, refMode, refFloors,
      subsetRun = only.isDefined, auditRatios = best.auditRatios,
      chunkStamps = best.chunkStamps, quietQueries = best.quietQueries)
  }

  /** The floor ratchet: min(measured, committed floor) per query; a failed
    * measurement (-1.0) keeps the committed floor instead of erasing it.
    * refFloors is already negative-free (loadFloors filters). */
  private[graft] def mergeFloors(minsMeasured: Vector[(String, Double)],
                                 refFloors: Map[String, Double]): Vector[(String, Double)] =
    minsMeasured.map { case (k, v) =>
      k -> (if (v < 0) refFloors.getOrElse(k, v)
            else refFloors.get(k).fold(v)(f => math.min(v, f)))
    }

  /** End-of-chunk retime selection (round 15, replacing round 14's fixed
    * head-8 constant): pick every query whose FINAL adaptive-min run value
    * still exceeded `ratio`× its committed floor — the residual cold-JIT /
    * contention victims — worst ratio first, refusing the first pick whose
    * expected cost (the query's committed floor, counted at ≥0.05s so
    * sub-centisecond floors can't admit hundreds of picks) would push the
    * running total past `budgetSec` (charge-before-admit: the chosen
    * floors can never sum past the budget — advisor, round 15).
    * Queries without a committed floor are skipped:
    * adaptive-min already gave them a second pass, and without a floor
    * there is no over-floor signal to chase. Failed queries (-1.0) are
    * skipped — a retime can't resurrect a crash and timeOnce already
    * reported it.
    *
    * The floor-sum budget is an ESTIMATE of retime cost, not a bound — a
    * retime on a still-contended box runs at contended speed, not floor
    * speed. `maxPicks` is the defense in depth: on a chunk where ~all 95
    * queries read hot (floors tiny, every one a candidate), the pick
    * count, not the floor sum, is what bounds real wall time. The actual
    * BOUND is `runRetimes`' wall-clock cap, which walls the execution no
    * matter how wrong the estimate was. */
  private[graft] def pickRetimes(runs: Vector[(String, Double)],
                                 refFloors: Map[String, Double],
                                 ratio: Double = 1.5,
                                 budgetSec: Double = 15.0,
                                 maxPicks: Int = 24): Vector[String] = {
    val candidates = runs.flatMap { case (name, run) =>
      refFloors.get(name)
        .filter(f => run >= 0 && run > f * ratio)
        .map(f => (name, run / math.max(f, 1e-9), f))
    }.sortBy { case (name, r, _) => (-r, name) }
    var budget = budgetSec
    candidates.takeWhile { case (_, _, f) =>
      budget -= math.max(f, 0.05)
      budget >= 0
    }.take(maxPicks).map(_._1)
  }

  /** Execute the selected retimes under a HARD wall-clock cap (r15 verdict
    * #4: pickRetimes' floor-sum budget is an ESTIMATE of retime cost — on a
    * still-contended box each retime runs at contended speed, not floor
    * speed, so the estimate can overrun without bound). Picks run in the
    * given order (worst ratio first, from pickRetimes); before each pick
    * `clock()` (elapsed wall seconds since the retime segment began) is
    * checked against `wallCapSec` and every remaining pick is SKIPPED once
    * it exceeds the cap — a skipped retime loses one chance to tighten a
    * value, it never loosens one. A successful retime min-folds into both
    * the run value and the floor; a failed retime (-1.0) leaves both
    * untouched (the query already passed its timed run). Returns the
    * updated results and the number of cap-skipped picks. */
  private[graft] def runRetimes(
      results: Vector[(String, (Double, Double))],
      picks: Vector[String],
      time: String => Double,
      wallCapSec: Double,
      clock: () => Double): (Vector[(String, (Double, Double))], Int) = {
    var skipped = 0
    val retimed = picks.flatMap { name =>
      if (clock() > wallCapSec) { skipped += 1; None }
      else {
        val t = time(name)
        if (t >= 0) Some(name -> t) else None
      }
    }.toMap
    (results.map { case (name, (run, mn)) =>
      retimed.get(name) match {
        case Some(t) => name -> (math.min(run, t), math.min(mn, t))
        case None => name -> (run, mn)
      }
    }, skipped)
  }

  /** Per-query quiet bits (r15 verdict, optional #6 — adopted in round 16
    * because the box never yielded a 4/4-quiet-chunk pass in three rounds
    * of hunting): a query whose OWN timed passes within one run number ≥2
    * and spread ≤ the shared trust threshold gets an individual quiet
    * stamp, salvaging its run value for cross-round comparison even when
    * its chunk's sentinel was contended. Rationale: contention on this box
    * is BURSTY (sentinel spreads 0.4–1.6 on hot runs, ≤0.2 quiet), so two
    * separated passes of the same query agreeing within the threshold is
    * evidence neither hit a burst. The caveat is stated where the bit is
    * consumed (tools/bench_diff.py): sustained uniform load would inflate
    * both passes alike — the bit bounds reproducibility, the chunk
    * sentinel remains the machine-level signal. Single-pass queries carry
    * no bit (they inherit chunk trust); failed passes (-1.0) disqualify. */
  private[graft] def quietQueryBits(passes: Map[String, Seq[Double]],
                                    threshold: Double = NoiseTrustThreshold): Set[String] =
    passes.collect { case (name, ts)
        if ts.size >= 2 && ts.forall(_ >= 0) &&
          (ts.max - ts.min) / math.max(ts.min, 1e-9) <= threshold =>
      name
    }.toSet

  private def parseScalar(txt: String, key: String): Option[Double] =
    ("\"" + key + "\":(-?[0-9.]+)").r.findFirstMatchIn(txt).map(_.group(1).toDouble)

  /** Single-JVM suite run (a chunk child, a BENCH_ONLY probe, or a fixed-N
    * tuning sweep). */
  private def runSuite(sfDir: String, only: Option[Set[String]],
                       fixedRuns: Option[Int]): Unit = {
    // Scratch (streaming checkpoints, staging, build-once indexes) on the
    // RAM-backed tmpfs when present — fsync latency, not durability, is
    // what a per-micro-batch checkpoint pays for on a disk /tmp.
    graft.tools.FastTmp.prefer()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // Match Verify's session TZ so date-bucketing queries (q_partition_prune's
      // to_date) produce the same shape under bench as under the oracle check.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: touch every table (parquet footers, OS page cache,
    // scan codegen) so the one-time session costs don't land on whichever
    // query happens to run first and distort its number.
    new graft.engine.Catalog(spark, sfDir).listTables()
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    // Also warm the EXECUTION machinery (exchange, hash/object agg, window,
    // sort, broadcast) — table counts alone leave those to whichever query
    // runs first, which inflated early-iteration-order queries by 1-3s in
    // round-4 numbers.
    locally {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("o_orderkey")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val dim = o.limit(100).select(col("o_custkey").as("k")).distinct()
      o.withColumn("rn", row_number().over(w))
        .join(broadcast(dim), col("o_custkey") === col("k"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)), expr("percentile(o_totalprice, 0.5)"),
          countDistinct("o_custkey"))
        .orderBy("o_orderstatus")
        .count()
    }
    // Timing policy. Default = ADAPTIVE MIN: one pass per query, a second
    // pass only when the first exceeds 1.3× the committed reference floor
    // (BENCH_local.json's queries_min from the previous round) or has no
    // reference (new query / cold codegen), headline = min of the passes.
    // Rationale: single-run totals drift ±20% with machine heat on this
    // box, and the round-over-round regression signal has leaned on
    // queries_min since round 10 — minima are reproducible floors, medians
    // still carry interleaving noise that needed manual adjudication every
    // round. The adaptive second pass keeps total wall time within ~20% of
    // a single pass (only regressed-looking or compile-inflated queries
    // re-run) while giving every suspicious number a chance to prove it
    // was noise. SPARK_GRAFT_BENCH_RUNS=N forces the old fixed-N median
    // behavior for ad-hoc tuning sweeps.
    val refPath = sys.env.get("SPARK_GRAFT_BENCH_REF").getOrElse(
      java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_local.json").toString)
    val (refFloors, refMode) = loadFloors(refPath, sfDir)
    // A failed query must be VISIBLE: its time is the sentinel -1.0 in the
    // JSON (never folded into the total) and its name + error go to stderr —
    // otherwise a broken query records a plausible wall time and a
    // regression hides inside a healthy-looking total.
    // Optional comma-separated name filter for isolating queries while
    // tuning (SPARK_GRAFT_BENCH_ONLY=q_mad,q_profile). Unset → full suite.
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // Machine-noise sentinel: ONE fixed query timed at the start, middle and
    // end of the suite (after an untimed compile warmup). Its relative
    // spread (max-min)/median is the run's noise floor — a per-query "2×
    // regression" smaller than this figure is heat/contention, not code.
    val sentinelName = "q_topk"
    val sentinelFn = SparkEntry.queries.get(sentinelName)
    val sentinelTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sentinelFailed = false
    def probeSentinel(timed: Boolean): Unit = sentinelFn.foreach { fn =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        if (timed) sentinelTimes += (System.nanoTime() - t0) / 1e9
      } catch {
        // A broken sentinel must be VISIBLE (the file's own rule): noise
        // 0.000 from an empty probe list would read as a perfectly quiet
        // machine on a run whose floor was never measured.
        case e: Throwable =>
          sentinelFailed = true
          System.err.println(
            s"BENCH SENTINEL FAIL $sentinelName: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    probeSentinel(timed = false) // compile the sentinel outside the window
    // Keep the suite's execution order identical to the chunked parent's
    // chunk layout (sorted = deterministic + prefix-family-grouped).
    val selectedSeq = selected.toVector.sortBy(_._1)
    // Chunk-head cold-JIT warmup (r13 punch #3): a fresh chunk JVM pays
    // Janino/whole-stage-codegen class-loading on its first few timed
    // queries even after the generic warmup above. When the chunked parent
    // asks for it (SPARK_GRAFT_BENCH_WARM_HEAD=1), run the head query once
    // UNTIMED — its timed pass then measures the query, not the JIT. This
    // matches floor semantics (floors are minima over passes anyway) and
    // never runs for manual BENCH_ONLY probes, which may want cold numbers.
    val warmHead = sys.env.get("SPARK_GRAFT_BENCH_WARM_HEAD").contains("1")
    if (warmHead)
      selectedSeq.headOption.foreach { case (name, fn) =>
        try fn(spark, sfDir).count()
        catch { case _: Throwable => () } // the timed pass will report it
      }
    val auditRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    // failPrefix distinguishes a real suite failure ("BENCH FAIL" — the
    // query is marked failed in the artifact) from a failed RETIME pass
    // ("BENCH RETIME FAIL" — the query already passed its timed run and
    // stays non-failed; advisor, round 14: spurious FAIL lines on healthy
    // runs trigger failure triage). One shared harness so the two passes
    // can never drift in what they time.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 failPrefix: String = "BENCH FAIL"): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"$failPrefix $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          -1.0
      }
    }
    // Every successful timed pass per query, feeding the per-query quiet
    // bits (quietQueryBits): ≥2 agreeing passes within one run salvage a
    // run value inside a contended chunk.
    val passTimes =
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def recordPass(name: String, t: Double): Unit =
      if (t >= 0) passTimes.getOrElseUpdate(
        name, scala.collection.mutable.ArrayBuffer.empty[Double]) += t
    val results = selectedSeq.zipWithIndex.map { case ((name, fn), i) =>
      if (i == 0 || i == selectedSeq.size / 2) probeSentinel(timed = true)
      val stats = fixedRuns match {
        case Some(n) => // legacy fixed-N median mode for tuning sweeps
          val times = (1 to math.max(1, n)).map(_ => timeOnce(name, fn))
          if (times.exists(_ < 0)) (-1.0, -1.0)
          else {
            val sorted = times.sorted
            (sorted((sorted.size - 1) / 2), sorted.head) // (median, min)
          }
        case None => // adaptive min: re-run only unproven numbers
          val t1 = timeOnce(name, fn)
          recordPass(name, t1)
          if (t1 < 0) (-1.0, -1.0)
          else {
            val suspicious = refFloors.get(name).forall(ref => t1 > ref * 1.3)
            // NOISE AUDIT (advisor, round 12): adaptive-min accepts any
            // within-1.3×-floor single pass unverified, so per-query noise
            // up to ~30% can land in the artifact undetected. A
            // deterministic ~1-in-37 sample of NON-suspicious queries gets
            // a confirming pass anyway; the t1/min ratios aggregate into
            // the artifact's "audit" field — the in-suite single-pass
            // trustworthiness figure for whoever reads the numbers next.
            val audited = !suspicious && i % 37 == 17
            val best = if (suspicious || audited) {
              val t2 = timeOnce(name, fn)
              recordPass(name, t2)
              if (t2 < 0) -1.0 else math.min(t1, t2)
            } else t1
            if (audited && best > 0) auditRatios += t1 / best
            (best, best)
          }
      }
      name -> stats
    }
    // Adaptive end-of-chunk RETIME (round 15; replaces round 14's fixed
    // head-8 — r14's best run still had 18% of queries >1.3× floor, with
    // the residual concentrated just PAST the head constant). Even with the
    // untimed head warm-up and adaptive-min's second pass, queries timed
    // while C2 is still compiling Spark core read 1.5-2× their floors. Fix:
    // after the whole chunk has run (JVM hot), one more timed pass for
    // every query still over 1.5× its committed floor, worst first,
    // cost-bounded by the sum of those floors (~15s/chunk). The min folds
    // into BOTH the run value and the floor — so run values are no longer
    // single-pass measurements, which the artifact declares via the
    // "+retime" mode suffix (advisor, round 14: the silent fold made
    // cross-round run-value comparisons undetectably cross-mode). Gated on
    // the same WARM_HEAD flag so manual BENCH_ONLY probes keep raw numbers.
    // retimeActive gates the "+retime" mode stamp too, so it must be TRUE
    // only when a retime could actually run: with no loaded floors (REF=
    // /dev/null, sf-mismatched reference) pickRetimes can select nothing
    // and every run value is a plain adaptive-min measurement — stamping
    // "+retime" there would misdeclare the run-value provenance the
    // suffix exists to record.
    val retimeActive = warmHead && fixedRuns.isEmpty && refFloors.nonEmpty
    val results2 =
      if (retimeActive) {
        val picks = pickRetimes(results.map { case (n, (run, _)) => n -> run },
          refFloors)
        val fns = selectedSeq.toMap
        // Hard wall cap = 2× the nominal floor-sum budget (r15 verdict #4):
        // the floor-sum estimate admits ~15s of picks, the wall makes the
        // cost claim true by construction even when contention makes every
        // retime run past its floor. Cap-skipped picks keep their
        // adaptive-min values; the skip count goes to stderr so a truncated
        // retime segment is visible in the round log.
        val wall0 = System.nanoTime()
        val (r2, skipped) = runRetimes(results, picks,
          name => {
            val t = timeOnce(name, fns(name), failPrefix = "BENCH RETIME FAIL")
            recordPass(name, t)
            t
          },
          wallCapSec = 30.0,
          clock = () => (System.nanoTime() - wall0) / 1e9)
        if (skipped > 0)
          System.err.println(s"BENCH RETIME WALL CAP: $skipped/${picks.size} " +
            "picks skipped past 30.0s wall — adaptive-min values stand")
        r2
      } else results
    probeSentinel(timed = true)
    val noise =
      if (sentinelFailed || sentinelTimes.size < 2) -1.0 // unmeasured ≠ quiet
      else {
        val sorted = sentinelTimes.sorted
        (sorted.last - sorted.head) / math.max(sorted((sorted.size - 1) / 2), 1e-9)
      }
    val mode = fixedRuns.map(n => s"fixed-median-$n").getOrElse(
      if (retimeActive) "adaptive-min+retime" else "adaptive-min")
    // Per-query quiet bits only make sense in adaptive mode (fixed-N is a
    // tuning probe whose whole point is raw repeated numbers).
    val quiet =
      if (fixedRuns.isEmpty)
        quietQueryBits(passTimes.view.mapValues(_.toSeq).toMap)
      else Set.empty[String]
    emit(sfDir, results2.map { case (k, v) => k -> v._1 },
      results2.map { case (k, v) => k -> v._2 }, noise, mode,
      refPath, refMode, refFloors, subsetRun = only.isDefined,
      auditRatios = auditRatios.toSeq, quietQueries = quiet)
    spark.stop()
  }

  /** Print the driver-parsed JSON lines and persist the full artifact.
    * `queries_min` is FLOOR-MERGED on every write: min(measured, committed
    * reference floor) per query — the round-12 lesson was that the driver's
    * end-of-round run overwrites the working tree with raw single-pass
    * values, silently loosening 15+ floors by 1.5-4× and blinding the next
    * round's 1.3× regression threshold. The merge makes the floor a
    * monotone ratchet no matter who writes the file. `queries` stays the raw
    * measurement. A FAILED query (measured -1.0) falls back to the committed
    * floor when one exists — the failure stays visible in `queries` and the
    * `failed` count, but the floor survives the crash (advisor, round 13:
    * one crashed chunk child was writing -1.0 over ~95 committed floors). */
  /** Render the per-chunk trusted stamps (judge, round 14): each chunk's
    * own sentinel spread + quiet/contended verdict + the queries it timed,
    * so a half-quiet run still yields trusted run values for its quiet
    * chunks (tools/bench_diff.py compares run values chunk-wise where BOTH
    * sides are trusted, floors elsewhere). Empty for single-JVM runs —
    * their top-level noise/trusted already covers every query. */
  private[graft] def renderChunkStamps(stamps: Seq[(Double, Seq[String])]): String =
    if (stamps.isEmpty) ""
    else stamps.map { case (cn, qs) =>
      val t = cn >= 0 && cn <= NoiseTrustThreshold
      s"""{"noise":${f3(cn)},"trusted":$t,"queries":[${
        qs.map("\"" + _ + "\"").mkString(",")}]}"""
    }.mkString("\"chunks\":[", ",", "],")

  /** The short total-only line printed LAST (always fully inside the
    * driver's stdout tail window). Round 17, additions-only: `quiet_n` =
    * how many queries carry an individual quiet bit this run, so trust
    * COVERAGE is readable without parsing the long line's quiet_queries
    * array. Every pre-existing field is unchanged and in the same order. */
  private[graft] def shortLine(total: Double, failed: Int, noise: Double,
                               trusted: Boolean, quietN: Int, mode: String,
                               sfDir: String): String =
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"noise":${f3(noise)},"trusted":$trusted,"quiet_n":$quietN,"mode":"$mode","sf":"$sfDir"}"""

  private def emit(sfDir: String, runs: Vector[(String, Double)],
                   minsMeasured: Vector[(String, Double)], noise: Double,
                   mode: String, refPath: String, refMode: String,
                   refFloors: Map[String, Double], subsetRun: Boolean,
                   auditRatios: Seq[Double],
                   chunkStamps: Seq[(Double, Seq[String])] = Nil,
                   quietQueries: Set[String] = Set.empty): Unit = {
    val mins = mergeFloors(minsMeasured, refFloors)
    // 3-decimal times keep the detailed line compact; the driver's stdout
    // tail-capture window can start mid-line, so a second, short, total-only
    // JSON line is printed LAST — a complete parseable line always sits
    // inside the tail no matter where the window starts (round-1 failure:
    // sbt [info] prefix; round-2 failure: 4 KB line head cut off).
    val qs = runs.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val qsMin = mins.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // Failures must be machine-readable on the SHORT line too: a query that
    // breaks at bench scale drops out of the sum, which would otherwise make
    // the parsed total look FASTER. "failed">0 marks the total as invalid.
    val failed = runs.count(_._2 < 0)
    val total = runs.map(_._2).filter(_ >= 0).sum
    // Self-describing timing mode + floor provenance: an adaptive-min total
    // sums mostly single-pass times, so it reads HIGHER than a
    // fixed-median-of-3 total on identical code — cross-round total
    // comparisons are only meaningful within one mode; per-query regressions
    // should always be read off queries_min. "comparable_to" names the
    // artifact whose floors judged this run and that artifact's own mode, so
    // downstream diffs (tools/bench_diff.py) can refuse a cross-mode compare.
    val refName = java.nio.file.Paths.get(refPath).getFileName.toString
    val cmp = s""""comparable_to":{"ref":"$refName","ref_mode":"$refMode","floors_loaded":${refFloors.nonEmpty}}"""
    // Noise-awareness stamp (judge, round 13: the driver's r13 run carried
    // sentinel spread 0.944 and its 407.5s total read as a phantom 60%
    // regression to anyone not reading the floors). trusted=false means the
    // machine was contended during THIS run: read queries_min, not the
    // run values or the total. Threshold 0.25 ≈ the quiet-box envelope
    // (r12: 0.683 was already a hot run; quiet chunked runs sit ≤0.2).
    // An unmeasured sentinel (-1.0) is NOT quiet — untrusted.
    val trusted = noise >= 0 && noise <= NoiseTrustThreshold
    // The noise audit's summary: over a deterministic sample of
    // non-suspicious queries that got a confirming pass anyway, how far the
    // accepted single pass sat above the min of two (1.0 = perfectly
    // trustworthy single passes). n=0 on subset/fixed-N runs.
    val audit =
      if (auditRatios.isEmpty) s""""audit":{"n":0}"""
      else {
        val sorted = auditRatios.sorted
        s""""audit":{"n":${sorted.size},"median":${f3(sorted((sorted.size - 1) / 2))},"max":${f3(sorted.last)}}"""
      }
    // Chunk stamps render BEFORE the queries maps so head-scoped scalar
    // parsers (which split on the first "queries" occurrence) would see
    // them — but each stamp's own "queries" is an ARRAY ("queries":[…]),
    // which none of the object-matching regexes ("queries"\s*:\s*\{) can
    // mistake for the run-value map.
    val chunksJson = renderChunkStamps(chunkStamps)
    // Per-query quiet bits (quietQueryBits; round 16): an ARRAY, same
    // shadow-proofing as the chunk stamps — rendered sorted so artifacts
    // diff deterministically. Empty → field omitted (older artifacts and
    // fixed-N probes simply don't carry it).
    val quietJson =
      if (quietQueries.isEmpty) ""
      else quietQueries.toSeq.sorted
        .map("\"" + _ + "\"").mkString("\"quiet_queries\":[", ",", "],")
    val fullLine = s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"noise":${f3(noise)},"trusted":$trusted,"mode":"$mode",$cmp,$audit,$chunksJson$quietJson"queries":$qs,"queries_min":$qsMin,"sf":"$sfDir"}"""
    println(fullLine)
    println(shortLine(total, failed, noise, trusted, quietQueries.size, mode, sfDir))
    // The driver's artifact keeps only a truncated stdout TAIL, which loses
    // most of the per-query record (only 56/226 r7↔r8 pairs were comparable
    // in round 8). Persist the full record to a file so round-over-round
    // per-query regressions are always diffable; committed each round as
    // BENCH_local.json. Path overridable for ad-hoc runs that must not
    // clobber the committed artifact (the sf1 probe legs).
    // A SPARK_GRAFT_BENCH_ONLY subset run must NOT clobber the committed
    // full-suite artifact (learned the hard way: a 3-query probe leg
    // overwrote the 336-query record) — subset runs only write when
    // SPARK_GRAFT_BENCH_OUT is given explicitly.
    // Default lands beside the checkout actually running (user.dir), not a
    // hardcoded absolute path — a bench run from any other clone location
    // would otherwise throw or clobber a foreign tree.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse(
      if (subsetRun) ""
      else java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_local.json").toString)
    if (outPath.nonEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
  }
}
