package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Physical-plan quality gates — the properties that decide whether a plan
  * survives a 100× scale-up. Each assertion pins behavior that Catalyst
  * gives us only while the plans stay declarative: filters reaching the
  * parquet scan, column pruning, dimension broadcast, partial aggregation.
  * A regression here (e.g. a UDF wrapping a filter, a collect-and-loop)
  * would pass result checks but wreck the plan — this suite is what fails.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cat = new Catalog(spark, "/root/testdata/sf0.001")

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Count physical nodes satisfying `pred` in the EXECUTED plan tree,
    * descending through AQE wrappers and query stages (advisor, r16: a
    * substring count over the plan string can double-match when a reused
    * exchange or AQE re-plan prints a node's name twice; the tree count is
    * the real operator count — ReusedExchange is a leaf and contributes no
    * duplicate compute). */
  private def countExec(df: org.apache.spark.sql.DataFrame,
                        pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      (if (pred(p)) 1 else 0) + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("filter predicates reach the parquet scan (PushedFilters)") {
    val df = cat.lineitem
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey")
    val plan = executed(df)
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity,45"), plan)
    assert(plan.contains("EqualTo(l_returnfl"), plan) // list rendering truncates
  }

  test("column pruning: scan reads only the projected columns (ReadSchema)") {
    val df = cat.lineitem.select("l_orderkey", "l_quantity")
    val plan = executed(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), plan)
    assert(!readSchema.contains("l_extendedprice"), s"scan reads pruned column:\n$readSchema")
  }

  test("dimension tables broadcast in the join chain (no full shuffle)") {
    val df = Ops.joinChainSql(cat.customer, Seq(
        cat.nation -> "c_nationkey = n_nationkey",
        cat.region -> "n_regionkey = r_regionkey"))
      .select("c_custkey", "n_name", "r_name")
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"small-dim join degraded to SMJ:\n$plan")
  }

  test("grouped aggregation is partial+final (map-side combine before shuffle)") {
    val df = cat.lineitem.groupBy("l_returnflag").agg(sum("l_quantity"))
    val plan = executed(df)
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
  }

  test("top-k runs as TakeOrderedAndProject, never a global sort") {
    val df = Ops.topK(cat.orders.select("o_orderkey", "o_totalprice"), 10,
      Seq(col("o_totalprice").desc))
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("semi join stays a join, not an exists-subquery materialization") {
    val df = cat.customer.join(
      cat.orders.filter(col("o_totalprice") > 100000),
      col("c_custkey") === col("o_custkey"), "left_semi")
    val plan = executed(df)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("range join keeps the key equality as a hash join (no BNLJ blowup)") {
    val df = cat.lineitem.join(cat.orders,
      col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
    val plan = executed(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degraded to a cross product:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("scalar subquery executes once, not per row (Subquery reuse)") {
    cat.orders.createOrReplaceTempView("pq_orders")
    val df = spark.sql(
      "SELECT o_orderkey FROM pq_orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM pq_orders)")
    val plan = executed(df)
    assert(plan.contains("Subquery") && !plan.contains("CartesianProduct"), plan)
  }

  test("tf-idf: corpus-size frame joins by broadcast, not shuffle") {
    val plan = executed(
      graft.llm.TextStats.tfIdf(cat.documents, "doc_id", "text").limit(5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"corpus-count cross join not broadcast:\n$plan")
  }

  test("dynamic partition pruning: selective dim filter prunes fact partitions") {
    // The 100 TB shape: fact partitioned by a join key, dimension filtered at
    // runtime — DPP turns the dim filter into a partition filter on the fact
    // scan, so unmatched partitions are never read.
    val factPath = s"${sys.props("java.io.tmpdir")}/graft_dpp_fact"
    val dimPath  = s"${sys.props("java.io.tmpdir")}/graft_dpp_dim"
    cat.lineitem.select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(factPath)
    // Dim must be file-backed: a 2-row local relation constant-folds its
    // filter away, and PartitionPruning never sees a selective predicate.
    spark.createDataFrame(Seq(("R", "returned"), ("N", "kept")))
      .toDF("flag", "label").write.mode("overwrite").parquet(dimPath)
    val df = spark.read.parquet(factPath)
      .join(spark.read.parquet(dimPath).filter(col("label") === "returned"),
        col("l_returnflag") === col("flag"))
    val plan = executed(df)
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$plan")
  }

  test("static partition pruning: date-partitioned scan reads one partition") {
    // The q_partition_prune shape: a literal filter on the partition column
    // must land in PartitionFilters (directory-level skip), not as a row
    // filter over a full scan.
    val out = s"${sys.props("java.io.tmpdir")}/graft_prune_spec"
    cat.events.withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val df = spark.read.parquet(out)
      .filter(col("event_date") === lit("2024-01-15"))
      .groupBy("event_type").count()
    val plan = executed(df)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("event_date"), s"partition filter not pushed:\n$plan")
  }

  test("ntileExact plans with NO window at all (no single-task global sort)") {
    // ntile(k) OVER (ORDER BY …) puts every row through one window task;
    // the scalable formulation must show no Window node — a range exchange
    // and a zip, nothing that serializes the dataset.
    val df = Ops.ntileExact(cat.orders.select("o_orderkey", "o_totalprice"),
      4, Seq(col("o_totalprice"), col("o_orderkey")), "quartile")
    val plan = executed(df)
    assert(!plan.contains("Window"), s"ntileExact still plans a Window:\n$plan")
  }

  test("shingle/minhash pipeline has no shuffle before the band explode") {
    import graft.llm.Dedup
    val df = cat.documents
      .select(col("doc_id"), Dedup.minhashSignature(Dedup.shingles(col("text"))).as("sig"))
    val plan = executed(df)
    // one scan, one project — signature computation is map-only
    assert(!plan.contains("Exchange"), s"signature stage shuffles:\n$plan")
  }

  test("ivf probe: the memoized index scan is pruned to the probed lists; top-k is a bounded heap") {
    // SimilaritySpec pins the PERSISTED path's PartitionFilters; this pins
    // the in-memory path — the probe must enter through an ivf_cluster
    // membership filter (nProbe/nLists of the corpus), never rank the
    // whole index, and the top-k must be TakeOrderedAndProject, not a
    // global sort.
    // q_ann_ivf's probe, by the job path (its small index is otherwise
    // scored on the driver, with no scan at all).
    val q = cat.embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val df = graft.llm.Similarity.ivfTopKByJob(cat.embeddings, "vec_id", "embedding", q, 10,
      nLists = 8, nProbe = 3)
    val plan = executed(df)
    val filterLines = plan.linesIterator
      .filter(l => l.contains("Filter") && l.contains("ivf_cluster")).toSeq
    assert(filterLines.nonEmpty, s"no probe-membership filter on ivf_cluster:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ANN top-k is not a bounded heap:\n$plan")
  }

  test("portable minhash candidates: no text or shingle arrays ride the band join") {
    // The 100 TB contract of the LSH candidate stage: the self-join keys on
    // (band, signature-slice) over a NARROW (id, band, key) frame — the
    // shingle arrays come back only for the surviving candidates' exact-
    // Jaccard verify. A text column or `sh` array inside the candidate
    // exchange would ship the corpus through the quadratic stage. The
    // xxhash MinHash and the cosine operator share that candidate stage;
    // for cosine the payload is the vector column and its norm.
    import graft.llm.{Dedup, Similarity}
    val vecs = cat.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    for ((name, pairs, payload) <- Seq(
        ("minhashNearDupsPortable", Dedup.minhashNearDupsPortable(
          cat.documents, "doc_id", "text", threshold = 0.2), Seq("text", "sh#")),
        ("minhashNearDups", Dedup.minhashNearDups(
          cat.documents, "doc_id", "text", threshold = 0.2), Seq("text", "sh#")),
        ("cosineNearDups", Similarity.cosineNearDups(vecs, "vec_id", "embedding",
          threshold = 0.9, bands = 8, planesPerBand = 3), Seq("embedding", "v#", "n#")))) {
      val plan = executed(pairs)
      spark.catalog.clearCache()
      val candidateJoin = plan.linesIterator
        .filter(l => l.contains("Join") && l.contains("band"))
        .mkString("\n")
      assert(candidateJoin.nonEmpty, s"$name: no band-keyed candidate join found:\n$plan")
      assert(!payload.exists(candidateJoin.contains),
        s"$name: corpus payload rides the candidate join:\n$candidateJoin")
    }
  }

  test("vocab truncation shuffles token counts once, with map-side combine") {
    val df = graft.SparkEntry.queries("q_vocab_truncate")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"no partial aggregation before the token shuffle:\n$plan")
    // no join anywhere: the rewrite must come from the counts table alone
    assert(!plan.contains("Join"), s"vocab rewrite joins the corpus:\n$plan")
  }

  test("hash-threshold sampling evaluates as a plain filter (no shuffle, no rand)") {
    val hx = substring(md5(col("doc_id").cast("string")), 1, 1)
    val df = cat.documents.filter(hx.isin("0", "1")).select("doc_id")
    val plan = executed(df)
    assert(!plan.contains("Exchange"), s"sampling shuffles:\n$plan")
    assert(!plan.contains("rand"), s"sampling is nondeterministic:\n$plan")
  }

  test("pii redaction is map-only over a pruned scan") {
    val df = graft.SparkEntry.queries("q_pii_redact")(spark, cat.dir)
    val plan = executed(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      s"redaction scan reads unneeded columns:\n$readSchema")
    // two exchanges only (per-lang agg + output order) — AQE echoes the
    // initial plan below the final one, so count the final section alone
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(finalPlan).size <= 2,
      s"extra shuffles:\n$plan")
  }

  test("funnel is one user-keyed aggregate, no self-joins") {
    val df = graft.SparkEntry.queries("q_funnel")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Join"), s"funnel planned a self-join:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the SMJ)") {
    // The other half of the skew story beside q_salted_join's manual
    // salting: with AQE on, a hot key's oversized shuffle partition is split
    // into parallel sub-joins at runtime — no query rewrite at all. Pin that
    // the final plan actually marks the join skew-handled under thresholds
    // scaled to test data.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      // 50k rows, 90% on key 7 — one partition dwarfs the rest
      val fact = spark.range(50000).select(
        when(col("id") % 10 < 9, lit(7L)).otherwise(col("id") % 97).as("k"),
        col("id").as("v"))
      val dim = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      // no aggregation downstream: a consumer requiring the join's hash
      // partitioning (e.g. groupBy on the key) legally blocks the split —
      // splitting would duplicate partitions under an operator that assumes
      // one partition per key range
      val joined = fact.join(dim, "k").select(col("k"), col("v"), col("w"))
      val plan = executed(joined)
      assert(plan.split("== Initial Plan ==").head.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("char_ngrams top-k per language plans the bounded-heap operator, no sort") {
    val df = graft.SparkEntry.queries("q_char_ngrams")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TopKPerGroup"), s"custom operator not planned:\n$plan")
  }

  test("bm25 broadcasts the term stats — no shuffle join against the postings") {
    val df = graft.SparkEntry.queries("q_bm25")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"df/stats side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tiny term-stats join degraded to SMJ:\n$plan")
  }

  test("quantile_band trims via broadcast bounds, never a per-lang window") {
    val df = graft.SparkEntry.queries("q_quantile_band")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Window"),
      s"band trim planned a low-cardinality window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"bounds not broadcast:\n$plan")
  }

  test("sample_per_group plans the bounded-heap operator, not a ranking window") {
    val df = graft.SparkEntry.queries("q_sample_per_group")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TopKPerGroup"), s"custom operator not planned:\n$plan")
    assert(!plan.contains("Window"), s"sampling fell back to a window:\n$plan")
  }

  test("zipf ranks on the bounded-heap operator; the only window input is <= k rows/group") {
    val df = graft.SparkEntry.queries("q_zipf")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TopKPerGroup"),
      s"vocab cut fell back to a full ranking:\n$plan")
    // the residual rank window must sit ABOVE the heap cut (bounded input),
    // i.e. TopKPerGroup appears below Window in the tree (later in the text)
    val wIdx = plan.indexOf("Window")
    val tIdx = plan.indexOf("TopKPerGroup")
    assert(wIdx >= 0 && tIdx > wIdx,
      s"rank window not fed by the bounded heap cut:\n$plan")
  }

  test("train_split scan reads only the two columns the split math needs") {
    val df = graft.SparkEntry.queries("q_train_split")(spark, cat.dir)
    val plan = executed(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("n_chars"), plan)
    assert(!readSchema.contains("text"), s"split reads the text column:\n$readSchema")
  }

  test("dup-graph build pushes the source filter; consumers reuse the checkpoint") {
    // The memoized dup graph split the property in two: the BUILD must push
    // the shard filter into the parquet scan, and every consumer must read
    // the materialized checkpoint instead of rescanning the corpus.
    val buildPlan = executed(graft.llm.Dedup.dupGraphEdgesFresh(
      cat.documents.filter(col("source") === "src0")))
    assert(buildPlan.contains("EqualTo(source,src0)"),
      s"shard filter not pushed down:\n$buildPlan")
    val consumerPlan = executed(
      graft.SparkEntry.queries("q_graph_degree")(spark, cat.dir))
    assert(!consumerPlan.split("== Initial Plan ==").head.contains("Scan parquet"),
      s"consumer rescans the corpus instead of the memoized edges:\n$consumerPlan")
  }

  test("cc small-graph gate: one CollectLimit over the raw edge plan, no cache, no union/distinct") {
    // Round-13 win, round-14 gate: the connected-components cutover probe
    // must plan as a single bounded CollectLimit DIRECTLY over the edge
    // plan. The old persist+count+collect formulation materialized the
    // edges through the cache builder (InMemoryTableScan, no whole-stage
    // fusion) at ~2× the plain codegen pass, and the old symmetrize-first
    // shape added a Union + distinct exchange the driver path never needed.
    val a = cat.documents.select(col("doc_id").as("src"), col("source"))
    val b = cat.documents.select(col("doc_id").as("dst"), col("source"))
    val edges = a.join(b, "source").filter(col("src") < col("dst"))
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val probe = graft.llm.Dedup.ccGateProbe(edges, 1000000L)
    val plan = executed(probe)
    assert(plan.contains("CollectLimit"), s"gate probe is not a CollectLimit:\n$plan")
    assert(!plan.contains("InMemoryTableScan"),
      s"gate probe reads a cache — the r12 persist formulation regressed:\n$plan")
    assert(!plan.contains("Union"),
      s"gate probe symmetrizes edges — the driver path never needs this:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"gate probe dedups edges — union-find is duplicate-insensitive:\n$plan")
  }

  test("inflight/anomaly single-partition windows are fed by aggregates, not raw scans") {
    // The global running-sum window is safe ONLY because its input is the
    // pre-aggregated daily table; this pins the Aggregate-below-Window shape.
    for (q <- Seq("q_inflight", "q_anomaly_days")) {
      val df = graft.SparkEntry.queries(q)(spark, cat.dir)
      val plan = df.queryExecution.optimizedPlan.toString
      val wIdx = plan.indexOf("Window")
      val aIdx = plan.indexOf("Aggregate", wIdx)
      assert(wIdx >= 0 && aIdx > wIdx,
        s"$q: window not fed by an aggregate:\n$plan")
    }
  }

  test("knn_join broadcasts the bounded query side and plans the bounded heap") {
    val df = graft.SparkEntry.queries("q_knn_join")(spark, cat.dir)
    val plan = executed(df)
    // Non-equality pairing (vec_id <> qid) over a BOUNDED broadcast side is
    // the intended shape — the corpus side must never become the build side.
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(plan.contains("TopKPerGroup"), s"top-k fell back to a sort/window:\n$plan")
    assert(!plan.contains("Window"), s"per-query ranking planned a window:\n$plan")
  }

  test("substr_dup: window hashing aggregates map-side; source filter is pushed") {
    val df = graft.SparkEntry.queries("q_substr_dup")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_count"), s"no map-side combine on the hash key:\n$plan")
    assert(plan.contains("EqualTo(source,src0"), s"source filter not pushed to the scan:\n$plan")
  }

  test("embed_diversity: both aggregates ride ONE embeddings scan") {
    val df = graft.SparkEntry.queries("q_embed_diversity")(spark, cat.dir)
    val plan = executed(df)
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // scans in the final section only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single corpus scan, saw $scans:\n$finalPlan")
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
  }

  test("uplift_bands: consumers re-enter ONE materialized cell frame, not the events scan") {
    // The causal tier aggregates events into a narrow (t, y, v) cell frame
    // that 2-3 consumers re-enter (each arm's GD cache fill, the scoring
    // pass). 95366c5 materialized it once via an eager localCheckpoint —
    // the final plan must read the checkpointed RDD and never re-aggregate
    // the corpus. Pre-95366c5 shape: an events parquet scan (plus its
    // aggregation) repeated inside the scoring plan — that's what fails here.
    val df = graft.SparkEntry.queries("q_uplift_bands")(spark, cat.dir)
    val plan = executed(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    val eventScans = finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("events"))
    assert(eventScans == 0,
      s"scoring plan re-aggregates the events corpus ($eventScans scans):\n$finalPlan")
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"no materialized cell frame in the scoring plan:\n$finalPlan")
  }

  test("ann_recall: probe tables broadcast; top-k per query is the bounded heap") {
    val df = graft.SparkEntry.queries("q_ann_recall")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"), s"probe/query tables not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a panel-sized table shuffled the corpus:\n$plan")
    assert(plan.contains("TopKPerGroup"), s"per-query top-k fell back to a window:\n$plan")
  }

  test("ann_tradeoff: probe/exact joins broadcast; sweep scored on the bounded heap") {
    val df = graft.SparkEntry.queries("q_ann_tradeoff")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"), s"probe tables not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a panel-sized table shuffled the corpus:\n$plan")
    assert(plan.contains("TopKPerGroup"), s"sweep top-k fell back to a window:\n$plan")
  }

  test("quality_blend: windows partition by source; cut is the bounded heap") {
    val df = graft.SparkEntry.queries("q_quality_blend")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TopKPerGroup"), s"per-source cut fell back to ranking:\n$plan")
    // every Window in the plan must be source-partitioned — an empty
    // partition spec would funnel the corpus through one task
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("source")),
      s"unpartitioned window:\n${windows.mkString("\n")}")
  }

  test("oov_rate: vocab rides a TakeOrdered cut and broadcasts to the token stream") {
    val df = graft.SparkEntry.queries("q_oov_rate")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cut planned a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token-vocab join shuffles the corpus:\n$plan")
  }

  test("cooccur_lift: support joins broadcast; top-20 is a bounded TakeOrdered") {
    val df = graft.SparkEntry.queries("q_cooccur_lift")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"), s"item supports not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 lift planned a global sort:\n$plan")
  }

  test("dau_mau's sliding distinct window is equality joins only — no NLJ blowup") {
    val df = graft.SparkEntry.queries("q_dau_mau")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"28-day window degenerated to a range join:\n$plan")
  }

  test("ema folds in one grouped aggregate — no window, no per-row shuffle") {
    val df = graft.SparkEntry.queries("q_ema")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Window"), s"EMA planned a window:\n$plan")
  }

  test("triangle wedge joins stay hash joins on the oriented edge frame") {
    val df = graft.SparkEntry.queries("q_triangle_count")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"wedge join degenerated:\n$plan")
  }

  test("jaro_winkler evaluates natively — no ScalaUDF in the plan") {
    val df = graft.SparkEntry.queries("q_jaro_winkler")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("ScalaUDF"), s"kernel degraded to a UDF:\n$plan")
    // AQE renders codegen stages as "*(n)"; the kernel's projection must
    // sit inside one (a bare Project would mean interpreted eval per row).
    assert(plan.linesIterator.exists(l => l.contains("jarowinkler(") && l.contains("*(")),
      s"jarowinkler projection outside a codegen stage:\n$plan")
  }

  test("bpe pair explosion runs over the vocab aggregate, not the corpus") {
    val df = graft.SparkEntry.queries("q_bpe_pairs")(spark, cat.dir)
    val plan = df.queryExecution.optimizedPlan.toString
    // Generate (the pair explode) must sit above the word-frequency
    // Aggregate: exploding before aggregating would blow the corpus up 2x
    // per character instead of once per distinct word.
    val gIdx = plan.indexOf("Generate explode(transform")
    val aIdx = plan.indexOf("Aggregate [w", gIdx)
    assert(gIdx >= 0 && aIdx > gIdx,
      s"pair explode not fed by the vocab aggregate:\n$plan")
  }

  test("trending's lag window and top-k both ride the daily aggregate") {
    val df = graft.SparkEntry.queries("q_trending")(spark, cat.dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"per-day cut fell back to a sort:\n$plan")
    val wIdx = plan.indexOf("Window")
    val aIdx = plan.indexOf("Aggregate", math.max(wIdx, 0))
    assert(wIdx >= 0 && aIdx > wIdx,
      s"lag window not fed by the daily aggregate:\n$plan")
  }

  test("nullsafe_join never plans a null-safe-equality join on the key") {
    // The <=> self-join funnels every NULL key into ONE hash bucket with a
    // quadratic (n_nulls²) output in a single task — unsplittable by AQE.
    // The analytic rewrite must leave only plain equality joins: NULL keys
    // are counted, never joined.
    val df = graft.SparkEntry.queries("q_nullsafe_join")(spark, cat.dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!df.queryExecution.optimizedPlan.toString.contains("<=>"),
      s"null-safe equality reached the join:\n${df.queryExecution.optimizedPlan}")
    assert(plan.contains("Join") || plan.contains("join"),
      s"equality join missing entirely:\n$plan")
  }

  test("simhash pair dedup is a per-row filter — no aggregate re-shuffle of candidates") {
    // Multi-chunk collisions collapse via the first-collision bit-ops filter
    // (decidable from the two sigs), NOT a dropDuplicates: an aggregate over
    // the CANDIDATE stream would re-shuffle the quadratic-in-bucket pair
    // flow. Aggregation keyed on the pair ids is the forbidden shape; the
    // narrow pre-search sig distinct (exact-dup collapse, linear input) is
    // expected and allowed. Top-20 is a bounded-heap TakeOrdered.
    val df = graft.SparkEntry.queries("q_simhash_pairs")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("HashAggregate(keys=[id_a") &&
           !plan.contains("HashAggregate(keys=[id_b") &&
           !plan.contains("SortAggregate(key=[id_a"),
      s"aggregate (dropDuplicates?) re-entered the candidate stream:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 is not a bounded heap:\n$plan")
  }

  test("minhash_recall: truth and candidates ride equality joins; panel filter pushed") {
    val df = graft.SparkEntry.queries("q_minhash_recall")(spark, cat.dir)
    val plan = executed(df)
    // Panel bound reaches the parquet scan — the whole query reads
    // |panel|/|corpus| of the table.
    assert(plan.contains("LessThan(doc_id,200"), plan)
    // Ground truth must come from the shared-gram equality join, never an
    // all-pairs product over the panel.
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs scan in the recall eval:\n$plan")
  }

  test("lm_perplexity: vocab scalar broadcasts; count tables partial-aggregate") {
    val df = graft.SparkEntry.queries("q_lm_perplexity")(spark, cat.dir)
    val plan = executed(df)
    // The 1-row vocab count joins as a broadcast, never an exchange of the
    // pair stream around a scalar.
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"vocab scalar not broadcast:\n$plan")
    // Bigram/context counts map-side combine before their shuffles.
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no partial aggregation in the model build:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the scoring join:\n$plan")
  }

  test("semantic_dedup: the audit-panel bound reaches the parquet scan") {
    val df = graft.SparkEntry.queries("q_semantic_dedup")(spark, cat.dir)
    val plan = executed(df)
    // O(panel²) edge stage ⇒ the panel filter must prune at the scan, so
    // the cost is set by the bound, not the corpus.
    assert(plan.contains("LessThan(vec_id,2000"),
      s"panel bound not pushed to the embeddings scan:\n$plan")
  }

  test("ngram_novelty: first-owner is one window pass — no join back, no text shuffled") {
    // min(doc_id) OVER (PARTITION BY h) resolves every shingle's first owner
    // in the same exchange that grouped it — a join-back formulation would
    // shuffle the shingle stream twice. Nothing wider than (doc_id, h, ...)
    // may cross an exchange: raw window text stays inside the scan stage.
    val df = graft.SparkEntry.queries("q_ngram_novelty")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("Window"), s"first-owner lost its window formulation:\n$plan")
    assert(!plan.contains("Join"),
      s"join-back appeared — shingles are shuffled twice:\n$plan")
    val exchanged = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanged.forall(!_.contains("text#")),
      s"raw document text crosses a shuffle:\n$plan")
  }

  test("mix_temperature: totals broadcast back; source rollup partial-aggregates") {
    // The per-source frame is tiny but the documents scan is not: token sums
    // must map-side combine, and the 1-row totals frame must come back as a
    // broadcast, never an exchange of the source frame around a scalar.
    val df = graft.SparkEntry.queries("q_mix_temperature")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no map-side combine on the documents scan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"totals not broadcast:\n$plan")
  }

  test("rare_token_docs: bottom-k vocab broadcasts; top-20 is a bounded heap") {
    // The rare set is ≤10 rows by construction — the membership probe on the
    // token stream must be a broadcast hash join (an SMJ would shuffle every
    // token by word), and the final cut a TakeOrdered, not a global sort.
    val df = graft.SparkEntry.queries("q_rare_token_docs")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"rare-set probe degraded to a shuffle join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 is not a bounded heap:\n$plan")
  }

  test("dup_inflation: window counts combine map-side; no join anywhere") {
    // Occurrence counting is two stacked aggregates on fixed-width keys —
    // the first must partial-aggregate (the corpus-wide shuffle carries
    // (source, h, partial_count), not one row per window occurrence).
    val df = graft.SparkEntry.queries("q_dup_inflation")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_count"),
      s"window occurrences shuffle un-combined:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("cross_source_dup: gram join stays a hash/merge join; matrix spine broadcasts") {
    // The corpus-sized work is the distinct over (source, h); the h-equality
    // self-join must never degrade to a cross product, and the S×S matrix
    // assembly (≤ S² rows) must ride broadcasts, not exchanges of the gram
    // stream.
    val df = graft.SparkEntry.queries("q_cross_source_dup")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct"),
      s"gram self-join degraded to a cross product:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"matrix spine not broadcast:\n$plan")
    assert(plan.contains("partial_count"), s"distinct not map-side combined:\n$plan")
  }

  test("head_dup: one fixed-width aggregate — no join, no window, text pruned") {
    // Head clustering is a single groupBy over (h8, len) rows; raw text must
    // be hashed away before the only exchange.
    val df = graft.SparkEntry.queries("q_head_dup")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"unexpected join/window:\n$plan")
    val exchanged = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanged.forall(!_.contains("text#")),
      s"raw document text crosses the shuffle:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
  }

  test("embed_centroid: both moments ride ONE embeddings scan") {
    val df = graft.SparkEntry.queries("q_embed_centroid")(spark, cat.dir)
    val plan = executed(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single corpus scan, saw $scans:\n$finalPlan")
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
  }

  test("curation_funnel: one corpus scan; stage survival via md5-key windows") {
    // The funnel's contract is cumulative stage booleans over ONE scan —
    // a per-stage formulation would rescan the corpus four times. The
    // dedup windows shuffle fixed-width md5 keys, and the rollup
    // partial-aggregates before the final exchange.
    val df = graft.SparkEntry.queries("q_curation_funnel")(spark, cat.dir)
    val plan = executed(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single corpus scan, saw $scans:\n$finalPlan")
    assert(plan.contains("Window"), s"stage survival lost its window form:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"no partial aggregation in the rollup:\n$plan")
  }

  test("dsir_weights: bucket LMs broadcast; top-20 is a bounded heap") {
    // Both 256-row bucket LM tables must reach the per-doc frame as
    // broadcasts (never a shuffle of the corpus against a tiny table),
    // and the final cut must be TakeOrdered, not a global sort.
    val df = graft.SparkEntry.queries("q_dsir_weights")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"bucket LM not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 fell back to a global sort:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF crept into the weight kernel:\n$plan")
  }

  test("kmeans: assignment is map-only; update partial-aggregates, no UDF") {
    // The Lloyd iteration contract: the model rides the plan as literals,
    // so assignment adds NO join/window/exchange beyond the rollup, and
    // the centroid update combines map-side before the k×d collect.
    val (assigned, _) = graft.llm.Similarity.kmeansLloyd(
      cat.embeddings, "vec_id", "embedding", 4, 1)
    val aPlan = executed(assigned)
    assert(!aPlan.contains("Join") && !aPlan.contains("Window"),
      s"assignment is not map-only:\n$aPlan")
    assert(!aPlan.contains("ScalaUDF"), s"UDF in the distance kernel:\n$aPlan")
    val df = graft.SparkEntry.queries("q_kmeans")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the rollup:\n$plan")
  }

  test("ppl_buckets: tercile bounds broadcast back; no per-lang window") {
    // The CCNet split must never sort the corpus inside |langs| window
    // tasks: bounds are an aggregate broadcast back to the per-doc frame.
    val df = graft.SparkEntry.queries("q_ppl_buckets")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Window"), s"per-lang window in the bucket split:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"tercile bounds not broadcast:\n$plan")
  }

  test("bpe_segment: rides the checkpointed vocab (no corpus re-scan), bounded-heap cut") {
    // The trainer reads the corpus once (word counts); consumers of the
    // trained tokenizer must plan over the materialized vocab checkpoint —
    // a parquet scan here would mean the corpus is re-read per query.
    val df = graft.SparkEntry.queries("q_bpe_segment")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Scan parquet"),
      s"corpus re-scanned by the tokenizer consumer:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 is not a bounded heap:\n$plan")
  }

  test("knn_classify: held-out panel broadcasts; neighbors via bounded heap, no corpus sort") {
    // The lazy classifier's scale contract: the corpus streams through ONE
    // scan joined against the broadcast panel; neighbor selection is the
    // custom bounded-heap operator (no per-query window sort of the
    // corpus); only the panel-sized vote frame sees a window.
    val df = graft.SparkEntry.queries("q_knn_classify")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"test panel not broadcast:\n$plan")
    assert(plan.contains("TopKPerGroup"),
      s"neighbor selection is not the bounded-heap operator:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the cosine kernel:\n$plan")
  }

  test("centroid_classify: training is one partial-agg scan; inference joins broadcast centroids") {
    // Rocchio's economics: |labels|×dim training rows combine map-side
    // before the shuffle, and the |labels|-row centroid table reaches the
    // test panel as a broadcast — the corpus never shuffles.
    val df = graft.SparkEntry.queries("q_centroid_classify")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_"), s"centroid sums not partial-aggregated:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroid table not broadcast:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the scoring kernel:\n$plan")
  }

  test("logreg gradient: model rides the plan; gradient partial-aggregates, no join") {
    // One GD iteration must be a pure scan→explode→partial-agg pipeline:
    // weights enter as literals (no weight-table join) and the dim-row
    // gradient combines map-side before the model-sized collect.
    val train = cat.embeddings.select(
      col("embedding").cast("array<double>").as("v"),
      when(col("label") === 0, 1.0).otherwise(0.0).as("y"))
    val wts = Array.fill(65)(0.0)
    val wv = array(wts.drop(1).map(lit): _*)
    val margin = round(lit(wts(0)) + graft.functions.ArrayKernels.dot(col("v"), wv), 6)
    val p = round(lit(1.0) / (lit(1.0) + exp(-margin)), 9)
    val grad = train.select((p - col("y")).as("r"),
        posexplode(concat(array(lit(1.0)), col("v"))).as(Seq("d", "x")))
      .groupBy("d").agg(round(sum(col("r") * col("x")) / count(lit(1)), 9).as("g"))
    val plan = executed(grad)
    assert(!plan.contains("Join"), s"gradient pass joins a weight table:\n$plan")
    assert(plan.contains("partial_"), s"gradient not partial-aggregated:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the margin kernel:\n$plan")
  }

  test("sorted_neighborhood: ONE exchange, no self-join, no cartesian") {
    // Sorted-neighborhood blocking exists to replace the O(n²) all-pairs
    // candidate join — the plan must be Exchange(segment) → Sort → Window →
    // posexplode, with NO join operator at all. A second exchange or a
    // (broadcast)NestedLoop/SortMergeJoin here means the blocking
    // formulation regressed to a pair join.
    val d = Linkage.dirtyCustomers(cat.customer)
    val df = Linkage.sortedNeighborhoodPairs(d, "segment", "name", "id",
      carry = Seq("name"), window = 3)
    val plan = executed(df)
    assert(!plan.contains("Join"), s"candidate generation joins:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges =
      finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange (block key), got $exchanges:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("fellegi_sunter: scoring is a pure projection over the candidates") {
    // FS scoring adds NO exchange beyond the blocking window's one, and the
    // JW kernel runs as the codegen Expression, not a ScalaUDF.
    val d = Linkage.dirtyCustomers(cat.customer)
    val pairs = Linkage.sortedNeighborhoodPairs(d, "segment", "name", "id",
      carry = Seq("name", "nation", "bal_band"), window = 3)
    val plan = executed(Linkage.fellegiSunterScore(pairs))
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges =
      finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"scoring added an exchange:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the JW kernel path:\n$plan")
  }

  test("phonetic_block: one exchange on the soundex key; kernel stays codegen") {
    // The phonetic pass reuses the sorted-neighborhood machinery with the
    // Soundex kernel in the block key — the plan contract is identical
    // (ONE exchange, no join) and the kernel must run as the codegen
    // Expression, never a ScalaUDF or a DeserializeToObject detour.
    val r = Linkage.namedRoster(cat.customer)
    val keyed = r.withColumn("pkey", Linkage.phoneticKey(col("name")))
    val df = Linkage.sortedNeighborhoodPairs(keyed, "pkey", "name", "id",
      carry = Seq("name", "nation", "bal_band"), window = 3)
    val plan = executed(Linkage.fellegiSunterScore(df))
    assert(!plan.contains("Join"), s"phonetic candidate generation joins:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the soundex path:\n$plan")
    assert(!plan.contains("DeserializeToObject"), s"kernel left codegen:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges =
      finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange (soundex key), got $exchanges:\n$plan")
  }

  test("t_closeness: scalar frames broadcast; aggregates combine map-side; no UDF") {
    // The TVD grid is QI-bounded: the global-segment and total frames must
    // ride broadcast joins (never a shuffle), and every count must
    // partial-aggregate before its exchange. A ScalaUDF here would mean
    // the exact-integer arithmetic left codegen.
    val plan = executed(
      graft.SparkEntry.queries("q_t_closeness")(spark, cat.dir))
    assert(plan.contains("Broadcast"), s"scalar frames not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("dp_count: one joinless aggregate scan; noise math stays codegen") {
    // The DP release is a grouped count plus per-group scalar ops — the
    // plan must have no join operator at all and must combine map-side.
    val plan = executed(
      graft.SparkEntry.queries("q_dp_count")(spark, cat.dir))
    assert(!plan.contains("Join"), s"noise path introduced a join:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("rrf_fusion: candidate cuts are bounded heaps, never a global sort") {
    // Both retrievers' top-100 cuts must plan as TakeOrderedAndProject (a
    // per-partition heap + driver merge); an Exchange rangepartitioning
    // would mean a corpus-wide sort crept in, and the rank windows would
    // then see the corpus instead of 100-row panels.
    val plan = executed(
      graft.SparkEntry.queries("q_rrf_fusion")(spark, cat.dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate cut is not the bounded heap:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in the retriever path:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("change_points: the CUSUM window is fed by the daily aggregate, not the raw scan") {
    // Corpus-size work must end at the partial-agg'd daily groupBy; the
    // single-partition window may only ever see the calendar-bounded daily
    // table. The events scan must also prune to the one column (ts) the
    // daily count needs.
    val df = graft.SparkEntry.queries("q_change_points")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    val readSchema =
      plan.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"),
      s"CUSUM scan reads unneeded columns:\n$readSchema")
  }

  test("benford: one pruned partial-agg scan; digit ladder stays codegen") {
    // The audit is a digit bucketing + grouped count: the orders scan must
    // read ONLY o_totalprice, counts must combine map-side, and the CASE
    // ladder must not fall out of codegen into a UDF.
    val plan = executed(graft.SparkEntry.queries("q_benford")(spark, cat.dir))
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    val readSchema =
      plan.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_custkey"),
      s"benford scan reads unneeded columns:\n$readSchema")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("gini_source: corpus work ends at the grouped sum; rank window is source-bounded") {
    // The only corpus-size operator is the per-source token sum (partial+
    // final); the sort/rank/Gini arithmetic runs over the source-bounded
    // aggregate, so the single-partition window is fed by an Aggregate,
    // never the raw documents scan.
    val plan = executed(
      graft.SparkEntry.queries("q_gini_source")(spark, cat.dir))
    assert(plan.contains("partial_sum"), s"no map-side combine:\n$plan")
    assert(plan.contains("Window"), plan)
    val readSchema =
      plan.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
    assert(!readSchema.contains("doc_id") && !readSchema.contains("lang"),
      s"gini scan reads unneeded columns:\n$readSchema")
  }

  test("partitioned write emits exactly one file per partition directory") {
    // Without the pre-write repartition(event_date), every input task
    // holding k dates opens k writers: tasks x dates files at scale. The
    // repartition makes each date's rows land in one task → one file.
    graft.SparkEntry.queries("q_partition_prune")(spark, cat.dir).collect()
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
    val out = root.listFiles().filter(_.getName.startsWith("graft_part_events_"))
      .maxBy(_.lastModified)
    val dateDirs = out.listFiles().filter(_.getName.startsWith("event_date="))
    assert(dateDirs.nonEmpty)
    dateDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName}: ${files.length} files — small-files regression")
    }
  }

  test("unigram segmentation rides the codegen kernel, no object round-trip") {
    val df = graft.SparkEntry.queries("q_unigram_segment")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("DeserializeToObject"),
      s"unigram segment fell off codegen:\n$plan")
    // the physical plan hides TakeOrderedAndProject's project list; the
    // optimized logical plan renders the expression itself
    val logical = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(logical.contains("unigramviterbi"),
      s"kernel missing from plan:\n$logical")
  }

  test("hdr quantile sketch: one corpus scan, grid-sized everything after") {
    val df = graft.SparkEntry.queries("q_hdr_quantile")(spark, cat.dir)
    val plan = executed(df)
    // the only corpus-sized work is the bucket-count aggregate over the
    // pruned 2-column scan; the scan must not read other lineitem columns
    val readSchema =
      plan.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"hdr scan reads unneeded columns:\n$readSchema")
    // partial+final aggregation on the grid (map-side combine before shuffle)
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"no map-side combine in:\n$plan")
  }

  test("corr matrix: one pruned scan, 15 moments, map-side combined") {
    val df = graft.SparkEntry.queries("q_corr_matrix")(spark, cat.dir)
    val plan = executed(df)
    val readSchema =
      plan.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"corr scan reads unneeded columns:\n$readSchema")
    assert(plan.contains("partial_sum"), s"no map-side combine in:\n$plan")
    // the whole reduction is ONE aggregate over ONE scan — a second parquet
    // scan would mean the moments were computed in several passes (AQE
    // repeats the plan under "== Initial Plan ==", so count the final only)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
  }

  test("rfm: quintiles run without any Window node (ntileExact contract)") {
    val df = graft.SparkEntry.queries("q_rfm")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Window"),
      s"rfm fell back to a single-partition window:\n$plan")
  }

  test("item-CF: ranking runs through the bounded-heap TopKPerGroupExec") {
    val df = graft.SparkEntry.queries("q_item_cf")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TopKPerGroup"),
      s"item-CF lost the custom top-k operator:\n$plan")
  }

  test("phrase search: query vocabulary broadcasts against the postings") {
    val df = graft.SparkEntry.queries("q_phrase_search")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"phrase vocabulary not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("attribution: touch-conversion pairing stays a user-keyed hash join") {
    val df = graft.SparkEntry.queries("q_attribution_linear")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"attribution range join degraded to a cross product:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("tpch q1: shipdate filter pushed down, map-side combined, one scan") {
    val df = graft.SparkEntry.queries("q_tpch_q1")(spark, cat.dir)
    val plan = executed(df)
    // to_date(ts) <= d rewrites to the ts-range predicate ts < d+1, which
    // reaches the parquet scan as a pushed filter
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side combine:\n$plan")
  }

  test("tpch q3: top-10 runs as TakeOrderedAndProject, never a global sort") {
    val df = graft.SparkEntry.queries("q_tpch_q3")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("tpch q5: nation/region dims broadcast, no cross product anywhere") {
    val df = graft.SparkEntry.queries("q_tpch_q5")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tpch q4: EXISTS runs as a left semi join, not a row-exploding inner") {
    val df = graft.SparkEntry.queries("q_tpch_q4")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("LeftSemi"), s"EXISTS lost semi-join shape:\n$plan")
  }

  test("tpch q17: per-part average pre-aggregates before the join-back") {
    val df = graft.SparkEntry.queries("q_tpch_q17")(spark, cat.dir)
    val plan = executed(df)
    // the avg frame must aggregate below its join (no correlated re-scan
    // per probe row) and nothing may degrade to a cross product
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tpch q2: per-part min is ONE window pass; dims broadcast; no cross product") {
    val df = graft.SparkEntry.queries("q_tpch_q2")(spark, cat.dir)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"), s"top-100 global-sorted:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"part/region dims not broadcast:\n$plan")
    // Round-16 shape: min-cost selection is a window over one candidate
    // pass — the group-min + equality-join-back planned the whole
    // candidate subtree twice (ReuseExchange never fired across the
    // aliased branches).
    assert(plan.contains("Window"), s"per-part min window missing:\n$plan")
    assert(countExec(df,
        _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) <= 1,
      s"min-cost join-back resurfaced (candidate subtree planned twice):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tpch q21: EXISTS as equality-keyed semi join, NOT EXISTS as a per-order count") {
    val df = graft.SparkEntry.queries("q_tpch_q21")(spark, cat.dir)
    val plan = executed(df)
    // Round-16 shape: the ∃-other-supplier test is a semi join against the
    // per-order distinct-supplier count, and the ∄-other-late-supplier test
    // is a count window over the late pair frame's own by-order exchange —
    // the pair-inequality anti join (which re-planned the whole late leg)
    // is gone. Nothing may degrade to a nested loop.
    assert(plan.contains("LeftSemi"), s"EXISTS lost semi shape:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"NOT EXISTS regressed to the anti-join shape:\n$plan")
    assert(plan.contains("Window"), s"late-count window missing:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dup_spans: ONE span explode, hash-windowed doc frequency, no join at all") {
    val df = graft.SparkEntry.queries("q_dup_spans")(spark, cat.dir)
    val plan = executed(df)
    // Round-17 shape: one explode pass → (sh, doc_id, source)-grouped
    // occurrence counts (HashAggregate — source rides the keys, never a
    // string agg buffer) → count(*) window over the hash partition → doc
    // and source rollups. The old countDistinct + join-back planned the
    // corpus explode twice; a cartesian or nested-loop would mean pair-wise
    // regression.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(countExec(df,
        _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) === 0,
      s"join-back resurfaced:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 2, // tree + detail
      s"span explode planned more than once:\n$plan")
    assert(plan.contains("Generate explode"), s"span explode missing:\n$plan")
    assert(plan.contains("Window"), s"doc-frequency window missing:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"string agg buffer degraded hash aggregation:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"no map-side combine:\n$plan")
  }

  test("cdc_merge: latest-wins is a partial-aggregable max-of-struct, not a window sort") {
    val df = graft.SparkEntry.queries("q_cdc_merge")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("Window"), s"latest-wins regressed to a window:\n$plan")
    assert(plan.contains("partial_max"), s"struct max not partial-aggregated:\n$plan")
  }

  test("surrogate_keys: no single-partition window ever sees the corpus") {
    val df = graft.SparkEntry.queries("q_surrogate_keys")(spark, cat.dir)
    df.collect()
    // The point of the bucket formulation: the only Window with an empty
    // partitionSpec runs over the ≤64-row bucket-count frame (its subtree
    // contains the counting Aggregate); the corpus-sized window is
    // partitioned by the bucket id. Checked on the optimized logical plan
    // (the AQE wrapper hides the physical tree from collect()).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
        s"global window over a non-aggregated (corpus) frame:\n$w")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast:\n$plan")
  }

  test("cv_folds: one-scan sufficient stats, partial aggregation, broadcast centroids") {
    val df = graft.SparkEntry.queries("q_cv_folds")(spark, cat.dir)
    val plan = executed(df)
    // centroid table joins broadcast; argmin is a partial-aggregable
    // min-of-struct, not a corpus×labels window sort
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), s"argmin regressed to a window:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_sum"),
      s"no map-side combine:\n$plan")
  }

  test("quantile_align: the pooled rank stays bucketed; percentile targets broadcast") {
    val df = graft.SparkEntry.queries("q_quantile_align")(spark, cat.dir)
    df.collect()
    // same invariant as surrogate_keys: any global-partition window must
    // sit over an aggregated (bounded) frame, never the corpus
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
        s"global window over a non-aggregated (corpus) frame:\n$w")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("media_shard: one partitioned window, partial aggregation, no global sort before agg") {
    val df = graft.SparkEntry.queries("q_media_shard")(spark, cat.dir)
    val plan = executed(df)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.size === 1 && windows.head.partitionSpec.nonEmpty,
      s"expected exactly one source-partitioned window:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"no map-side combine:\n$plan")
  }

  test("geo join: pairs form via the cell-key hash join, never a cross product") {
    val df = graft.SparkEntry.queries("q_geo_join")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"spatial join degraded to a cross product:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("interval join: the fact side enters a broadcast hash join, not a nested loop") {
    val df = graft.SparkEntry.queries("q_interval_join")(spark, cat.dir)
    val plan = executed(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join degraded to a nested loop over the fact side:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("mann-whitney: ranks aggregate BEFORE the bounded-value window") {
    val df = graft.SparkEntry.queries("q_mann_whitney")(spark, cat.dir)
    val plan = executed(df)
    // the corpus-sized work must be the grouped count (map-side combined);
    // the window then runs over the bounded distinct-value table
    assert(plan.contains("partial_sum"), s"no map-side combine in:\n$plan")
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("partial_sum")
    assert(winIdx >= 0 && aggIdx > winIdx, // executed plans print top-down
      s"window consumes raw rows, not the grouped value table:\n$plan")
  }

  test("curation pipeline: stages ride one materialized scan, no cross product, no corpus rescans") {
    val df = graft.SparkEntry.queries("q_curation_pipeline")(spark, cat.dir)
    val plan = executed(df)
    // The flagged corpus is localCheckpointed ONCE; every stage flag comes
    // back as a narrow key join onto it, and the Merkle levels are their
    // own halved checkpoints — so the FINAL plan must contain NO parquet
    // re-scan of documents at all (a per-stage rescan would show up here)
    // and no cross product anywhere.
    assert(!plan.contains("CartesianProduct"), s"cross product in:\n$plan")
    val parquetScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(parquetScans == 0,
      s"$parquetScans corpus rescans in the staged plan:\n$plan")
    // the stage rollup must combine map-side before its exchange
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"stage rollup not partially aggregated:\n$plan")
  }

  test("merkle leaf numbering: bucketed rank, no per-key single-partition window") {
    // The round-10 verdict's last 100×-scale-killer: leavesOf (and the
    // curation capstone's reportOf, which routes through the same
    // numberedLeaves) must number leaves with the q_surrogate_keys
    // bucketed-rank shape — the corpus-sized window partitions on
    // (key, bucket); the ONLY key-only window is the ≤64-row bucket-count
    // running sum, which must sit over the counting Aggregate.
    val leaves = Merkle.leavesOf(cat.documents, "source", "doc_id", "text")
    leaves.collect()
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = leaves.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.exists(_.partitionSpec.size == 2),
      s"corpus rank window not (key, bucket)-partitioned:\n${windows.mkString("\n")}")
    windows.filter(_.partitionSpec.size <= 1).foreach { w =>
      assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
        s"single-key window over a non-aggregated (corpus) frame:\n$w")
    }
    val plan = leaves.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket ranges / offsets not broadcast:\n$plan")
  }

  test("perplexity buckets: the tercile rank is bucketed, never a global window") {
    val df = graft.SparkEntry.queries("q_perplexity_buckets")(spark, cat.dir)
    df.collect()
    // the pool-sized rank must ride numberedLeaves' bucketed window — the
    // query's key is the constant lit(0), which the optimizer constant-
    // folds OUT of the partition spec, so the bucketed rank shows up as a
    // window partitioned by the bucket column alone (still 64-way
    // parallel); any window with NO bucket in its partitioning may only
    // see aggregated (bounded) frames
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    def bucketed(w: LWindow) = w.partitionSpec.exists(_.toString.contains("__b"))
    assert(windows.exists(w => w.partitionSpec.size == 2 || bucketed(w)),
      s"rank window not bucket-partitioned:\n${windows.mkString("\n")}")
    windows.filter(w => w.partitionSpec.size <= 1 && !bucketed(w)).foreach { w =>
      assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
        s"near-global window over a non-aggregated frame:\n$w")
    }
  }

  test("skew stress: the salted leg joins on (key, salt) through the shuffle path") {
    val salted = executed(
      graft.SparkEntry.queries("q_skew_join_stress")(spark, cat.dir))
    // the whole point is the SHUFFLE join path (at 100 TB neither side
    // broadcasts) with the salt in the join key, spreading the hot key
    // over `salts` reducers
    assert(salted.contains("SortMergeJoin"), s"salted leg not SMJ:\n$salted")
    assert(salted.contains("__salt"), s"salt missing from join keys:\n$salted")
    val plain = executed(
      graft.SparkEntry.queries("q_skew_join_plain")(spark, cat.dir))
    assert(plain.contains("SortMergeJoin"), s"plain leg not SMJ:\n$plain")
    assert(!plain.contains("__salt"), s"plain leg unexpectedly salted:\n$plain")
  }

  test("key-ordered table: a deep page pushes its key range into the scan, countTotal aggregates nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_footers").toString
    Sinks.writeSorted(spark.range(0, 20000).select(col("id").as("k"), (col("id") * 3).as("v")),
      s"$dir/t.parquet", Seq("k"), numFiles = Some(4))
    val df = new Catalog(spark, dir).table("t")
    // Page 180 of size 100 by the job path a run over LocalAnswers.MaxBytes
    // takes (this run is read on the driver otherwise).
    val page = ParquetFooters.pageByJob(df, Seq(col("k")), 17900, 100).get
    val scan = executed(page).linesIterator.find(_.contains("PushedFilters:")).getOrElse("")
    assert(scan.contains("GreaterThanOrEqual(k,") && scan.contains("LessThanOrEqual(k,"),
      s"the page scans without its key range:\n$scan")
    assert(page.collect().map(_.getLong(0)).toSeq == (17900L until 18000L))
    assert(countExec(Ops.countTotal(df),
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]) == 0)
  }
}
