package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Checks, Ops, Sinks}
import graft.llm.{Bpe, Classify, Dedup, Pq, SessionMemo, Similarity, Spectral, TextStats, Unigram}
import graft.multimodal.Multimodal
import graft.streaming.EventStreams

/** Driver contract — see /root/repo/SURVEY.md §2.13/§7.
  *
  * Every query is `(SparkSession, sfDir) => DataFrame`, totally ordered (or a
  * deterministic aggregate) so the DuckDB-oracle hash compare is stable.
  * Floating-point aggregates are rounded to dodge summation-order drift.
  * Column names are aliased identically in the Spark plan and the oracle SQL.
  */
object SparkEntry {

  /** One [[Catalog]] per (session, dir): every query shares its schemas. */
  private[graft] def cat(s: SparkSession, dir: String): Catalog = catalogs.getOrBuild(s, dir)(new Catalog(s, dir))
  private val catalogs = new SessionMemo[Catalog](_ => ())

  /** Per-session scratch path: write-then-read queries must not share a fixed
    * tmpdir location — two concurrent graft processes (an overlapping Verify
    * and Bench, say) would clobber each other's directory mid-read. The
    * applicationId is unique per SparkContext, so each session gets its own
    * namespace; within a session the path is stable, preserving any
    * build-once reuse. */
  private[graft] def scratch(s: SparkSession, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${s.sparkContext.applicationId}"

  /** Collision-resistant corpus-dir fingerprint (12 hex chars of md5) for
    * build-once memo names — bucketed tables, the on-disk IVF index. A
    * 32-bit String.hashCode suffix left two different dirs able to collide
    * and silently serve one corpus's artifacts to the other; 48 bits of md5
    * makes that negligible. Caveat (inherent to any name-keyed memo): data
    * REWRITTEN IN PLACE at the same dir still reuses stale on-disk artifacts
    * — dropping them is the escape hatch. The in-memory fit memos key on the
    * input's table snapshot instead, so a rewrite refits them. */
  private[graft] def dirFingerprint(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** App-wide per-path mutex for build-once artifacts whose construction is
    * NOT idempotent (the IVF append path). A bare check-then-act on a marker
    * file lets two concurrent first invocations in the same Spark app (a
    * parallelized harness) both pass the `!exists` guard and double-build;
    * holding this lock around check+work+mark serializes them. Per-JVM is
    * the right scope: concurrent invocations of a `queries` entry share the
    * driver JVM, and cross-process races are already excluded by the
    * applicationId-scoped [[scratch]] namespace. */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def withPathLock[T](path: String)(body: => T): T =
    pathLocks.computeIfAbsent(path, _ => new Object).synchronized(body)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_inner_chain")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesBase ++ StatsQueries.queries ++ StreamQueries.queries ++
      TpchQueries.queries ++ SkewFixture.queries ++ ValuationQueries.queries ++
      DedupQueries.queries ++ TextQueries.queries ++ SimilarityQueries.queries ++
      RelationalQueries.queries ++ GraphLinkQueries.queries ++
      PrivacyQueries.queries

  private[graft] lazy val queriesBase: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------- reference core
    "q_scan_project" -> ((s, dir) => {
      val c = cat(s, dir)
      Ops.project(c.lineitem,
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_limit_offset" -> ((s, dir) => {
      val c = cat(s, dir)
      Ops.page(c.orders.select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey")), pageNum = 3, pageSize = 100)
    }),
    "q_count" -> ((s, dir) => Ops.countTotal(cat(s, dir).lineitem)),
    "q_ingest_copy" -> ((s, dir) => {
      val c = cat(s, dir)
      val tgt = scratch(s, "ingest_copy")
      Sinks.ingestCopyObserved(s, c.customer, Seq("c_custkey", "c_name", "c_acctbal"), tgt)
      s.read.parquet(tgt).orderBy("c_custkey")
    }),
    "q_all_string_cast" -> ((s, dir) => {
      val c = cat(s, dir)
      c.lineitem.select(
          col("l_orderkey").cast("string").as("k"),
          col("l_quantity").cast("string").as("q"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
        .select("k", "q")
    }),
    "q_csv_roundtrip" -> ((s, dir) => {
      // K1 export → S2 all-String re-read → aggregate: the reference's
      // download/upload cycle as one pipeline, oracle-checked against the
      // original parquet (group counts survive the String round-trip).
      // Multi-part export/re-read: every task writes and reads its own part
      // file in parallel. The reference's one-attachment download semantics
      // (singleFile = true → coalesce(1)) are a single-writer serialization
      // point — pinned in SinksSpec, never on the bench path.
      val c = cat(s, dir)
      val out = scratch(s, "csv_roundtrip")
      Sinks.exportCsv(c.lineitem.select("l_orderkey", "l_returnflag", "l_quantity"),
        out, singleFile = false)
      engine.CsvSource.readWithHeader(s, out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
             round(sum(col("l_quantity").cast("double")), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "q_join_inner_chain" -> ((s, dir) => {
      val c = cat(s, dir)
      Ops.joinChainSql(c.customer, Seq(
          c.nation -> "c_nationkey = n_nationkey",
          c.region -> "n_regionkey = r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    }),
    "q_time_window" -> ((s, dir) => EventStreams.hourlyAgg(cat(s, dir).events)),
    "q_session_window" -> ((s, dir) =>
      EventStreams.sessionWindowAgg(cat(s, dir).events, "30 minutes")),
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      val gapUs = 1800L * 1000000L
      cat(s, dir).events
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("ns", when(col("prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev"))) >= gapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min("ts").as("start_ts"), max("ts").as("end_ts"))
        .orderBy("user_id", "session_id")
    }),
    "q_sessionize_state" -> ((s, dir) =>
      streaming.StatefulSessions.sessionize(s, cat(s, dir).events, "30 minutes")
        .toDF().orderBy("user_id", "session_id")),
    "q_approx_distinct" -> ((s, dir) =>
      cat(s, dir).orders.agg(approx_count_distinct(col("o_custkey")).as("n_approx"))),
    "q_hll_sketch" -> ((s, dir) => {
      // Mergeable-sketch rollup — the 100 TB distinct-count pattern: build
      // per-group HLL sketches once (map-side, register-max merges), union
      // them for any coarser grain without touching raw data again. Register
      // maxima are commutative, so the estimate is partitioning-independent
      // (deterministic) — but engine-specific, hence rows-only + spec bound.
      cat(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_distinct"))
    }),
    "q_theta_sketch" -> ((s, dir) => {
      // Theta sketches extend HLL with set algebra: |parts \ lineitem parts|
      // estimated from two independently-built sketches — the sketch tier of
      // q_except. Deterministic for the same reason as HLL; rows-only.
      val c = cat(s, dir)
      val a = c.part.agg(expr("theta_sketch_agg(p_partkey)").as("ska"))
      val b = c.lineitem.agg(expr("theta_sketch_agg(l_partkey)").as("skb"))
      a.crossJoin(b).select(
        expr("theta_sketch_estimate(theta_difference(ska, skb))").as("est_only_parts"))
    }),
    "q_scd2_intervals" -> ((s, dir) => {
      // Slowly-changing-dimension (type 2) interval construction from an
      // event stream: per user, collapse consecutive same-state events and
      // emit validity intervals [valid_from, valid_to) with an open
      // current row — the warehouse history-table build, as two windows
      // over ONE exchange (lag to collapse runs, lead over the collapsed
      // frame for interval ends). Panel-bounded output (every 20th user);
      // the per-user state keyed exchange is the only corpus-sized work.
      val e = cat(s, dir).events.filter(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val collapsed = e.withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      collapsed
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"),
          lead("ts", 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from")
    }),
    "q_cdc_merge" -> ((s, dir) => {
      // Change-data-capture merge (the Delta/Iceberg MERGE latest-wins
      // pattern): per key, the most recent op by (ts, event_id) wins;
      // 'error' ops act as deletes and drop the key from the snapshot.
      // Formulated as ONE partial-aggregable max-of-struct per key — no
      // window sort, no per-key row_number over the corpus — the shape an
      // upsert compaction job wants at 100 TB. Struct ordering is
      // lexicographic on (ts, event_id): exactly the ORDER BY ... DESC
      // LIMIT 1 rule the oracle states.
      cat(s, dir).events
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("m"))
        .filter(col("m.event_type") =!= "error")
        .select(col("user_id"), col("m.event_type").as("last_state"),
          col("m.value").as("last_value"), col("m.ts").as("last_ts"))
        .orderBy("user_id")
    }),
    "q_surrogate_keys" -> ((s, dir) => {
      // Gap-free surrogate-key backfill WITHOUT a global single-partition
      // sort — THE warehouse key-assignment shape at 100 TB. The naive
      // row_number() OVER (ORDER BY date, key) forces every row through
      // ONE partition (WindowExec's "No Partition Defined" degradation);
      // instead: (1) a 2-column min/max scan pins deterministic,
      // ORDER-PRESERVING integer range buckets (integer DIV on day
      // numbers — no sampling, so none of repartitionByRange's
      // nondeterminism and nothing to checkpoint); (2) per-bucket
      // row_number runs under a hash exchange on the bucket id — 64-way
      // parallel, the only corpus-wide shuffle; (3) bucket offsets are a
      // running sum over ≤64 count rows, broadcast back. sk = offset +
      // intra-bucket rank == the global rank, because every key in bucket
      // b sorts strictly before every key in bucket b+1 (the bucket is a
      // monotone function of the leading sort key). Skewed key ranges
      // shift bucket SIZES, never correctness; at production scale the
      // bucket count scales with the cluster and a histogram pass can
      // equalize boundaries.
      val o = cat(s, dir).orders.select(col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), to_date(lit("1990-01-01"))).as("dk"))
      val r = o.agg(min("dk"), max("dk")).head()
      val (mn, mx) = (r.getInt(0), r.getInt(1))
      val span = mx - mn + 1
      val kb = o.withColumn("b",
        expr(s"CAST(((dk - $mn) * 64) DIV $span AS INT)"))
      val offs = kb.groupBy("b").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum("cnt").over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("b", "off")
      val wb = Window.partitionBy("b").orderBy("o_orderdate", "o_orderkey")
      kb.withColumn("rn", row_number().over(wb))
        .join(broadcast(offs), "b")
        .select(col("o_orderkey"), (col("off") + col("rn")).as("sk"))
        .orderBy("o_orderkey")
    }),
    "q_cv_folds" -> ((s, dir) => {
      // Supervised tier 2b — 5-fold cross-validated nearest-centroid
      // classification (Classify.cvCentroid): every row scored by the
      // model trained on the OTHER folds, so the per-fold accuracy spread
      // is the variance estimate a single holdout hides. One scan builds
      // fold×label×dim decimal sufficient statistics; fold centroids are
      // algebra over them (total − fold), never k re-scans; argmin is a
      // map-side-combinable min-of-struct, no corpus×labels window sort.
      Classify.cvCentroid(cat(s, dir).embeddings, "vec_id", "embedding",
        "label", folds = 5)
    }),
    "q_logreg_quality" -> ((s, dir) => {
      // Supervised tier 3 — the trained quality classifier plus the
      // calibration audit a gating decision actually needs: binary logistic
      // regression (positive = label 0) by full-batch GD, 3 iterations ×
      // one training scan each, model-in-plan margins, dim-row gradient
      // collects (the kmeansLloyd economics). Trajectory pinned
      // (margins→6, gradients/weights→9, integral lr) so the oracle's
      // unrolled per-iteration CTE chain computes bit-identical weights.
      // Output per held-out class: (n, mean_p, acc). Reading it IS the
      // audit: on this corpus mean_p(y=1) ≈ mean_p(y=0) ≈ the base rate —
      // the labels carry no linear signal in embedding space, so a gate
      // trained this way must be REJECTED, which is precisely what the
      // audit exists to catch before a 100 TB filtering run.
      Classify.logregScore(cat(s, dir).embeddings, "vec_id", "embedding",
        "label", positiveLabel = 0)
    }),
    "q_feature_hash" -> ((s, dir) => {
      // The hashing-trick featurizer as a first-class query: every doc
      // becomes a dense 64-dim hashed-BoW count vector with NO vocabulary
      // table (nothing broadcast, nothing stale — the fasttext/VW trick),
      // audited per doc as (nnz, argmax dim, max count, l2 norm). Pure
      // per-row map over one pruned scan; md5-prefix routing so the oracle
      // computes the IDENTICAL vector (portable-hash idiom).
      val v = TextStats.hashedTf(col("text"), 64)
      cat(s, dir).documents
        .select(col("doc_id"), v.as("v"))
        .select(col("doc_id"),
          size(filter(col("v"), x => x > 0)).cast("bigint").as("nnz"),
          (array_position(col("v"), array_max(col("v"))) - 1).as("top_dim"),
          array_max(col("v")).cast("bigint").as("top_count"),
          round(sqrt(graft.functions.ArrayKernels.dot(col("v"), col("v"))), 4).as("l2"))
        .orderBy("doc_id")
    }),
    "q_text_classifier" -> ((s, dir) => {
      // The classifier trained on RAW TEXT — hashedTf featurization
      // (L2-normalized: raw counts saturate the sigmoid and the gradient
      // dies) composed with the same pinned-trajectory GD as
      // q_logreg_quality, positive class lang = 'en'. This is the real
      // curation-gate shape: no embedding table required, the featurizer
      // and the model both ride the plan, so scoring 100 TB is one scan.
      // The audit reading on THIS corpus is honest and deliberate: the
      // synthetic languages share one 31-word vocabulary (only stopword
      // mix differs), so after 3 GD steps the calibration margin
      // |mean_p(y=1) − mean_p(y=0)| stays under 1e-2 (its sign flips with
      // sf) — no usable gate margin, i.e. "reject this gate", which is
      // exactly the decision the calibration output exists to force.
      // Round8QueriesSpec pins BOTH readings: this near-zero margin here,
      // and a >0.1 margin with ≥90% per-class accuracy on a disjoint-vocab
      // fixture — the machinery separates when the corpus carries signal.
      // (The oracle caps iterations at 3 — its unrolled CTE chain
      // re-evaluates each layer ~3×, so depth is exponential there while
      // the Spark side stays linear.)
      val rawV = TextStats.hashedTf(col("text"), 64)
      val staged = cat(s, dir).documents
        .select(col("doc_id").as("id"),
          when(col("lang") === "en", 0).otherwise(1).as("lbl"), rawV.as("rv"))
        .withColumn("nrm",
          sqrt(graft.functions.ArrayKernels.dot(col("rv"), col("rv"))))
        .select(col("id"), col("lbl"),
          when(col("nrm") > 0, transform(col("rv"), x => x / col("nrm")))
            .otherwise(col("rv")).as("vec"))
      Classify.logregScore(staged, "id", "vec", "lbl", positiveLabel = 0)
    }),
    "q_quality_checks" -> ((s, dir) => {
      // Deequ-style declarative validation gate: uniqueness, non-null,
      // range, domain, and referential-integrity constraints evaluated as
      // AGGREGATES — violation counts cross the wire, never violating
      // rows. Same-table scalar checks fuse into one scan each
      // (conditional sums + count-distinct in a single agg); FKs are
      // key-projected left joins aggregated to a count. The gate reads
      // `passed`; this corpus validates clean, so the frame doubles as the
      // generator's own integrity certificate.
      val c = cat(s, dir)
      Checks.report(Seq(
        Checks.fused(c.customer,
          predicates = Seq(
            "customer_custkey_notnull" -> col("c_custkey").isNull,
            "customer_acctbal_range" -> !col("c_acctbal").between(-1000.0, 10000.0)),
          uniqueKeys = Seq("customer_custkey_unique" -> Seq("c_custkey"))),
        Checks.fused(c.orders,
          predicates = Seq(
            "orders_status_domain" -> !col("o_orderstatus").isin("O", "F", "P"))),
        Checks.fused(c.lineitem,
          predicates = Seq(
            "lineitem_quantity_range" -> !col("l_quantity").between(1.0, 50.0))),
        Checks.foreignKey("orders_fk_customer",
          c.orders, "o_custkey", c.customer, "c_custkey"),
        Checks.foreignKey("lineitem_fk_orders",
          c.lineitem, "l_orderkey", c.orders, "o_orderkey")))
    }),
    "q_benford" -> ((s, dir) => {
      // Benford first-digit audit over order totals — the fraud /
      // synthetic-data smoke test: naturally occurring multiplicative
      // amounts follow P(d) = log10(1+1/d); fabricated, truncated, or
      // unit-capped columns don't. The first digit comes from a pure
      // integer CASE ladder (no log10 / to-string, both of which round
      // or format differently across engines), so digit counts are
      // exact; each digit's share is ONE division against the broadcast
      // total. Output stays per-digit — no cross-row float sum — so the
      // result is bit-deterministic; the χ² judgment belongs to the
      // consumer. One partial-agg'd scan at any scale.
      val v = floor(col("o_totalprice")).cast("bigint")
      val digit =
        when(v >= 100000000L, floor(v / lit(100000000L)))
          .when(v >= 10000000L, floor(v / lit(10000000L)))
          .when(v >= 1000000L, floor(v / lit(1000000L)))
          .when(v >= 100000L, floor(v / lit(100000L)))
          .when(v >= 10000L, floor(v / lit(10000L)))
          .when(v >= 1000L, floor(v / lit(1000L)))
          .when(v >= 100L, floor(v / lit(100L)))
          .when(v >= 10L, floor(v / lit(10L)))
          .otherwise(v)
          .cast("int")
      val expP = when(col("digit") === 1, lit(0.301029996))
        .when(col("digit") === 2, lit(0.176091259))
        .when(col("digit") === 3, lit(0.124938737))
        .when(col("digit") === 4, lit(0.096910013))
        .when(col("digit") === 5, lit(0.079181246))
        .when(col("digit") === 6, lit(0.06694679))
        .when(col("digit") === 7, lit(0.057991947))
        .when(col("digit") === 8, lit(0.051152522))
        .otherwise(lit(0.045757491))
      val byDigit = cat(s, dir).orders.filter(v >= 1L)
        .select(digit.as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val tot = byDigit.agg(sum(col("obs")).as("n_tot"))
      byDigit.crossJoin(broadcast(tot))
        .select(col("digit"), col("obs"),
          round(col("obs") / col("n_tot"), 6).as("obs_p"),
          expP.as("exp_p"),
          round(round(col("obs") / col("n_tot"), 6) - expP, 6).as("dev"))
        .orderBy("digit")
    }),
    "q_gini_source" -> ((s, dir) => {
      // Concentration-of-mass audit for the training mix: Gini over
      // per-source token totals (0 = perfectly balanced mix, →1 = one
      // source dominates) — the scalar companion to q_mix_temperature's
      // reweighting. Corpus-size work is ONE grouped token sum; the sort
      // + rank + closed-form Gini all run over the source-bounded
      // aggregate. Exact integer sums (Σx, Σi·x) with one double
      // division at the end keep it bit-deterministic.
      val perSrc = cat(s, dir).documents
        .groupBy("source")
        .agg(sum(TextStats.tokenCount(col("text"))).as("x"))
      val ranked = perSrc.withColumn("i",
        row_number().over(Window.orderBy(col("x"), col("source"))))
      ranked
        .agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total_tokens"),
          sum(col("i") * col("x")).as("a"))
        .select(col("n_sources"), col("total_tokens"),
          round((lit(2) * col("a") -
              (col("n_sources") + 1) * col("total_tokens")) /
            (col("n_sources") * col("total_tokens")), 9).as("gini"))
    }),
    "q_media_shard" -> ((s, dir) => {
      // Shard manifest for multimodal payload packing: blobs pack into
      // byte-budgeted shards in id order via CUMULATIVE-OFFSET sharding —
      // shard = floor(bytes_before / budget) — the stateless one-window
      // equivalent of next-fit bin packing (a shard can overflow by at
      // most one item, the standard next-fit bound; in exchange packing
      // needs NO sequential state, so it distributes per source and the
      // same rule re-derives any shard's contents independently). This is
      // the manifest a media-loader job consumes: contiguous id ranges
      // per shard, ~budget bytes each. Byte counts via UTF-8 binary
      // length (DuckDB strlen parity on the zh docs).
      val m = cat(s, dir).documents.select(col("doc_id"), col("source"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn("before", coalesce(sum("n_bytes").over(w), lit(0L)))
        .withColumn("shard", expr("CAST(before DIV 4096 AS INT)"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("shard_bytes"),
          min("doc_id").as("first_id"), max("doc_id").as("last_id"))
        .orderBy("source", "shard")
    }),
    // -------------------------------------------------- catalog surface
    "q_show_tables" -> ((s, dir) => {
      // SHOW TABLES (reference S8): the catalog listing as a queryable frame.
      import s.implicits._
      cat(s, dir).listTables().toDF("name").orderBy("name")
    }),
    "q_describe" -> ((s, dir) => {
      // DESCRIBE TABLE (reference S9): (ordinal, name, type) rows.
      import s.implicits._
      cat(s, dir).describe("orders").zipWithIndex
        .map { case ((n, t), i) => (i + 1, n, t) }
        .toDF("ord", "col_name", "col_type").orderBy("ord")
    }),
    "q_profile" -> ((s, dir) =>
      // ANALYZE-style column profiling (null/distinct/min/max per column) in
      // ONE aggregation pass — the data-quality summary beside q_describe's
      // schema listing (Ops.profile documents the exact-vs-approx tiers).
      Ops.profile(cat(s, dir).orders,
        Seq("o_custkey", "o_orderstatus", "o_totalprice"))),
    // ----------------------------------------------------- multimodal
    "q_multimodal_decode" -> ((s, dir) => {
      val media = Multimodal.attachMedia(cat(s, dir).documents, "doc_id", "text", "image/fake")
      Multimodal.decodeAndFeaturize(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_frames"))
        .orderBy("media_id")
    }),
    "q_multimodal_audio" -> ((s, dir) => {
      // Windowed RMS features over "audio" payloads (8-bit PCM stub): the
      // per-window kernel is a deterministic fold, so rows are exact;
      // oracle-checked (MediaOracles.multimodalAudio restates the windows
      // as hex-slice byte arithmetic), with MultimodalSpec pinning
      // hand-computed windows besides.
      val media = Multimodal.attachMedia(cat(s, dir).documents, "doc_id", "text", "audio/fake")
      Multimodal.audioFeatures(s, media, windowSamples = 256).toDF()
        .orderBy("media_id", "window_idx").limit(500)
    }),
    "q_image_phash" -> ((s, dir) => {
      // Perceptual dHash per media row — the 64-bit image fingerprint that
      // makes image dedup a Hamming search instead of a pixel comparison.
      // Codegen DHash64/DHashMode kernels (no Dataset round-trip): real
      // 24-bpp BMPs get the true 9×8 luma grid (decode_mode='bmp24'); the
      // synthetic payloads here take the deterministic byte-sampling
      // fallback (decode_mode='byte-sample'), so a mixed corpus can
      // partition its Hamming joins by tier. The declared corpus rides the
      // byte-sample tier end to end, so MediaOracles.imagePhash re-derives
      // every hash; MultimodalSpec plants real BMPs besides and pins that a
      // 1-pixel edit stays within Hamming 7 while distinct images don't.
      val media = Multimodal.attachMedia(cat(s, dir).documents, "doc_id", "text", "image/fake")
      Multimodal.perceptualHashes(s, media).orderBy("media_id")
    }),
    "q_image_neardup" -> ((s, dir) => {
      // Image near-dup pairs: dHash signatures through the SAME chunk-
      // blocked Hamming engine as text SimHash (Dedup.hamming64Pairs,
      // 8×8-bit chunks for the ≤7 radius — pigeonhole-exact recall, no
      // all-pairs stage, per-row first-collision dedup). One narrow
      // (chunk, idx) equality join is the only exchange — the 100 TB image
      // dedup shape. A fixed 50-payload panel is planted beside the corpus
      // with a 1-BYTE perturbation each (re-id'd +10M — the "re-encoded
      // variant" an image pipeline must catch): the overwrite happens on
      // the BINARY payload (first byte := 'x'), not the string — a
      // character-level edit would shrink a multi-byte UTF-8 head and shift
      // every fallback sample offset. Byte length preserved ⇒ the edit
      // moves ≤1 of the 72 dHash samples, so every planted variant MUST
      // pair with its original — the query carries its own recall floor at
      // any sf. Oracle-checked (MediaOracles.imageNearDup) +
      // MultimodalSpec (real-BMP 1-pixel-edit pairing).
      val docs = cat(s, dir).documents.select("doc_id", "text")
      val base = Multimodal.attachMedia(docs, "doc_id", "text", "image/fake")
      val panel = base.filter(col("media_id") < 50)
        .select((col("media_id") + 10000000L).as("media_id"),
          concat(lit("x".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
            expr("substring(media, 2, 2147483647)")).as("media"))
      val sigs = Multimodal.perceptualHashes(
          s, base.select("media_id", "media").unionAll(panel))
        .select(col("media_id").as("id"), col("phash").as("sig"))
      Dedup.hamming64Pairs(sigs, maxHamming = 7, chunks = 8)
    }),
    "q_multimodal_frames" -> ((s, dir) => {
      // Frame-sampling plumbing over "video" payloads: every 2nd 64-byte
      // frame, counted per media row.
      val media = Multimodal.attachMedia(cat(s, dir).documents, "doc_id", "text", "video/fake")
      Multimodal.frameSample(media, frameBytes = 64, everyN = 2)
        .groupBy("media_id").agg(count(lit(1)).as("n_sampled"))
        .orderBy("media_id")
    }),
    "q_scene_cuts" -> ((s, dir) => {
      // Scene-cut detection over "video" payloads: every 48-byte frame
      // hashed with the SAME codegen dHash kernel the image tier uses,
      // then a cut = Hamming distance > 20 between consecutive frame
      // hashes within a media id — the keyframe-selection primitive a
      // video-curation pass runs before sampling frames for a vision
      // model (decode is the stubbed tier; the Spark plumbing — explode
      // to frames, per-frame kernel, ONE keyed window pass, per-media
      // rollup — is the real shape). Oracle-checked
      // (MediaOracles.sceneCuts); Round9QueriesSpec carries the in-memory
      // mirror besides.
      val media = Multimodal.attachMedia(
        cat(s, dir).documents, "doc_id", "text", "video/fake")
      val hashed = Multimodal.frameSample(media, frameBytes = 48, everyN = 1)
        .select(col("media_id"), col("frame_idx"),
          graft.functions.ImageKernels.dhash64(col("frame")).as("h"))
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      hashed
        .withColumn("prev", lag("h", 1).over(w))
        .withColumn("dist", expr("bit_count(h ^ prev)"))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("dist") > 20, 1L).otherwise(0L)).as("n_cuts"),
          min(when(col("dist") > 20, col("frame_idx"))).cast("bigint")
            .as("first_cut"))
        .orderBy("media_id")
    }),
    "q_source_drift" -> ((s, dir) => {
      // Distribution-shift audit between each source and the corpus: PSI
      // (population stability index) over 64 md5-hashed token buckets with
      // Laplace smoothing — the number a crawl pipeline watches across
      // snapshots to catch a source going off-distribution. One exploded
      // scan feeds per-(source, bucket) counts; corpus marginals derive
      // from the same tiny 64×|sources| frame (no second scan); the PSI
      // fold runs over the sorted 64-bucket list so both engines sum in
      // index order.
      val toks = graft.llm.Drift.bucketize(cat(s, dir).documents)
      val perSrc = toks.groupBy("source", "b").agg(count(lit(1)).as("c"))
      val corpus = perSrc.groupBy("b").agg(sum("c").as("cc"))
      val nc = corpus.agg(sum("cc")).head().getLong(0)
      graft.llm.Drift.psiFromCounts(s, perSrc, corpus, nc)
    }),
    "q_whiten_audit" -> ((s, dir) => {
      // The spectral model APPLIED — "all-but-the-top" whitening: project
      // each embedding onto the fitted top eigenvector and report
      // (projection, residual norm) per vector, i.e. how much of each
      // vector the dominant direction owns and what survives its removal.
      // The eigenvector ships as plan literals (model-to-data), so the
      // transformation is a stateless per-row map over one corpus scan;
      // proj and the residual fold are plain left-to-right dots, identical
      // in both engines given identical w — no rounding slack beyond the
      // display round. Round8QueriesSpec pins Pythagoras per row
      // (proj² + res² ≈ ‖v‖², the w-is-unit invariant).
      val e = cat(s, dir).embeddings
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val (w, _, _) = Spectral.powerIteration(
        Spectral.covariance(e, "embedding"), dim, iters = 4)
      val wl = array(w.map(lit): _*)
      val vd = col("embedding").cast("array<double>")
      e.select(col("vec_id"), vd.as("v"),
          graft.functions.ArrayKernels.dot(vd, wl).as("proj"))
        .select(col("vec_id"), col("proj"),
          zip_with(col("v"), wl, (x, wd) => x - col("proj") * wd).as("r"))
        .select(col("vec_id"), round(col("proj"), 6).as("proj"),
          round(sqrt(graft.functions.ArrayKernels.dot(col("r"), col("r"))), 6)
            .as("res_norm"))
        .orderBy("vec_id")
    }),
    "q_spectral_power" -> ((s, dir) =>
      // Spectral audit of the embedding corpus: top eigenvalue of the
      // uncentered covariance by pinned power iteration, plus trace and
      // the anisotropy ratio λ1/trace — the "is one direction carrying the
      // space" number read before whitening / all-but-the-top
      // post-processing. ONE corpus scan builds the d²-row covariance;
      // every iteration then joins in-plan weight literals against that
      // tiny frame (kmeansLloyd economics — nothing but the first scan
      // touches the corpus). Trajectory pinned like the logreg oracle:
      // entries/products round to 9, norms fold in index order, so the
      // unrolled per-iteration CTE chain computes identical numbers.
      Spectral.spectralAudit(s, cat(s, dir).embeddings, "embedding", iters = 4)),
    "q_mad" -> ((s, dir) => {
      // Median absolute deviation per group — the robust spread statistic
      // (outlier-immune, unlike stddev). Two exact-percentile passes; the
      // per-group median joins back as a broadcast-size frame.
      val med = cat(s, dir).orders.groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      cat(s, dir).orders.join(broadcast(med), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(round(min("med"), 2).as("med"),
          round(expr("percentile(abs(o_totalprice - med), 0.5)"), 2).as("mad"))
        .orderBy("o_orderstatus")
    }),
    // ------------------------------------------------------- round 5
    "q_skew_kurt" -> ((s, dir) => {
      // Skewness / excess kurtosis per group from the EXPLICIT central-moment
      // formula (group mean broadcast back, then one centered pass) rather
      // than the builtins: Spark's skewness/kurtosis and DuckDB's apply
      // different bias corrections, so the portable definition is the
      // formula itself — identical math on both sides. Two passes, both
      // map-side partial; the mean table is group-cardinality small.
      val o = cat(s, dir).orders
      val mu = o.groupBy("o_orderstatus").agg(avg("o_totalprice").as("mu"))
      o.join(broadcast(mu), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(avg(pow(col("o_totalprice") - col("mu"), 2)).as("m2"),
          avg(pow(col("o_totalprice") - col("mu"), 3)).as("m3"),
          avg(pow(col("o_totalprice") - col("mu"), 4)).as("m4"))
        .select(col("o_orderstatus"),
          round(col("m3") / pow(col("m2"), 1.5), 5).as("skew"),
          round(col("m4") / pow(col("m2"), 2) - 3, 5).as("kurt"))
        .orderBy("o_orderstatus")
    }),
    "q_regr" -> ((s, dir) =>
      // OLS regression aggregates (slope/intercept/R²) — single-pass
      // moment-based aggregates, fully map-side combinable.
      cat(s, dir).lineitem.groupBy("l_returnflag").agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)").as("n"))
        .orderBy("l_returnflag")),
    "q_zscore_outliers" -> ((s, dir) => {
      // Per-group z-score outlier audit — the numeric-column anomaly gate of
      // a data-quality pipeline. Group stats broadcast back; both passes
      // partial-agg friendly.
      val o = cat(s, dir).orders
      val st = o.groupBy("o_orderstatus").agg(avg("o_totalprice").as("mu"),
        stddev_samp(col("o_totalprice")).as("sd"))
      o.join(broadcast(st), "o_orderstatus")
        .withColumn("z", (col("o_totalprice") - col("mu")) / col("sd"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("z")) > 2, 1L).otherwise(0L)).as("n_outliers"),
          round(max(abs(col("z"))), 4).as("max_z"))
        .orderBy("o_orderstatus")
    }),
    "q_funnel" -> ((s, dir) => {
      // Ordered event funnel (view → signup → purchase), the ClickHouse
      // windowFunnel shape: one conditional-min pass per user, then one
      // global reduce — no self-joins, no per-user sort.
      val f = cat(s, dir).events.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t1"),
        min(when(col("event_type") === "signup", col("ts"))).as("t2"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
      f.agg(count(lit(1)).as("n_users"),
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("s_view"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1"), 1L)
          .otherwise(0L)).as("s_signup"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1") &&
          col("t3") > col("t2"), 1L).otherwise(0L)).as("s_purchase"))
    }),
    "q_compress_ratio" -> ((s, dir) =>
      // Compression-ratio quality signal (deflate bytes / raw bytes): the
      // redundancy detector for boilerplate/template spam — rows-only (no
      // SQL engine reproduces another zlib's output; threshold calibration
      // happens inside the same pipeline). Codegen'd kernel, map-only until
      // the per-source aggregate.
      cat(s, dir).documents
        .withColumn("r", graft.functions.ArrayKernels.deflateRatio(col("text")))
        .groupBy("source")
        .agg(round(avg("r"), 4).as("avg_ratio"),
          sum(when(col("r") < 0.35, 1L).otherwise(0L)).as("n_template_like"))
        .orderBy("source")),
    "q_mix_sample" -> ((s, dir) => {
      // Dataset mixing: per-source sampling rates applied as a DETERMINISTIC
      // hash threshold (md5 prefix nibble → 0..15), not rand() —
      // reproducible across task retries and engines, evaluates as a plain
      // codegen'd filter (no shuffle to sample), and composable with any
      // downstream pass. The mixture-weighting step of corpus assembly:
      // upsample src0 (8/16), src1 (4/16), long tail (2/16).
      val hx = substring(md5(col("doc_id").cast("string")), 1, 1)
      val hv = when(ascii(hx) < 58, ascii(hx) - 48).otherwise(ascii(hx) - 87)
      val rate = when(col("source") === "src0", 8)
        .when(col("source") === "src1", 4).otherwise(2)
      cat(s, dir).documents
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(hv < rate, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    }),
    "q_cohort_retention" -> ((s, dir) => {
      // Weekly cohort retention: users keyed by first-seen week, activity
      // counted per (cohort, week offset). The cohort comes from a window
      // MIN over the user partition — one hash exchange on user_id, no
      // per-user side table to join or broadcast (a user dimension is
      // unbounded at 100 TB; a window needs only each partition's groups).
      val wu = Window.partitionBy("user_id")
      cat(s, dir).events
        .withColumn("cohort", date_trunc("week", min("ts").over(wu)).cast("date"))
        .select(col("cohort"),
          (datediff(date_trunc("week", col("ts")).cast("date"), col("cohort")) / 7)
            .cast("bigint").as("wk"),
          col("user_id"))
        .groupBy("cohort", "wk").agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort", "wk")
    }),
    "q_pack_sequences" -> ((s, dir) => {
      // Sequence packing: docs streamed in doc_id order within each shard
      // fill fixed token-budget bins (the context-window packing step before
      // LLM training). bin = exclusive-prefix-sum / budget — a running-total
      // window per shard, never a driver-side greedy loop. Shards are the
      // parallelism unit: packing scales with shard count while each bin
      // stays deterministic (same docs → same bins on any cluster).
      val budget = 2048
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cat(s, dir).documents
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("text"), " ")).cast("bigint").as("tok"))
        .withColumn("bin", floor((sum("tok").over(w) - col("tok")) / budget))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tok"))
        .orderBy("shard", "bin")
    }),
    "q_first_touch" -> ((s, dir) => {
      // First-touch attribution: each purchase credits the user's FIRST
      // view at-or-before it — a conditional running MIN per user, one hash
      // exchange on the high-cardinality user key, no event self-join (the
      // naive formulation joins purchases × views and explodes on active
      // users).
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cat(s, dir).events
        .withColumn("first_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("first_view"))
        .orderBy("event_id")
    }),
    "q_funnel_window" -> ((s, dir) => {
      // Time-bounded funnel (the ClickHouse windowFunnel semantic): a
      // conversion counts only if the purchase lands within 3 days of the
      // user's first view. First-view comes from a whole-partition window
      // MIN — one exchange on the high-cardinality user key, no
      // purchases×views self-join.
      val w = Window.partitionBy("user_id")
      val e = cat(s, dir).events
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      e.filter(col("event_type") === "purchase" && col("t1").isNotNull &&
          col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 3 DAYS"))
        .agg(countDistinct("user_id").as("n_converted"))
    }),
    "q_leakage_safe_split" -> ((s, dir) => {
      // Leakage-safe train/val/test split: the assignment hash is keyed on
      // each doc's near-dup CLUSTER representative, not the doc itself, so
      // near-duplicates can never straddle the train/eval boundary — the
      // q_train_split rule upgraded with the q_dedup_clusters edge rule.
      // Unclustered docs are their own representative; the split stays
      // ~80/10/10 in cluster units by construction.
      val src0 = cat(s, dir).documents.filter(col("source") === "src0")
      val docs = src0.select("doc_id")
      val comps = Dedup.dupGraphComponents(src0)
        .withColumnRenamed("id", "doc_id")
      val rep = docs.join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
      val hv = expr(
        "CAST(conv(substring(md5(cast(rep AS string)), 1, 2), 16, 10) AS INT)")
      rep.withColumn("split",
          when(hv < 204, "train").when(hv < 230, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct("rep").as("n_clusters"))
        .orderBy("split")
    }),
    "q_train_split" -> ((s, dir) => {
      // Deterministic train/val/test assignment (~80/10/10) from the first
      // byte of each doc's md5 — a pure per-row map (no shuffle until the
      // 3-row rollup), reproducible across engines/retries because the
      // boundary test is all-integer: hv in [0,256) vs 204/230. The same
      // hash→rate idiom as q_lang_balance/q_mix_sample, here as the
      // pipeline-standard split step.
      def nib(i: Int): org.apache.spark.sql.Column = {
        val c = ascii(substring(md5(col("doc_id").cast("string")), i, 1))
        when(c < 58, c - 48).otherwise(c - 87)
      }
      val hv = nib(1) * 16 + nib(2)
      cat(s, dir).documents
        .withColumn("split",
          when(hv < 204, "train").when(hv < 230, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"))
        .orderBy("split")
    }),
    "q_doc_chunk" -> ((s, dir) => {
      // Sliding-window chunking (width 8 tokens, stride 6 → overlap 2): the
      // context-window prep step for RAG/training. Chunk starts are a
      // generated index sequence — one narrow explode per doc, never a
      // driver loop — and each chunk is hashed immediately so only
      // fixed-width digests flow into the distinct-count shuffle. slice()
      // clamps at the tail, so the last (short) chunk is kept, not dropped.
      cat(s, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          explode(expr("sequence(0, (size(w) - 1) DIV 6)")).as("i"), col("w"))
        .select(col("doc_id"),
          expr("md5(array_join(slice(w, i * 6 + 1, 8), ' '))").as("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), countDistinct("h").as("n_uniq"))
        .orderBy("doc_id")
    }),
    "q_cdc_chunk" -> ((s, dir) => {
      // Content-DEFINED chunking (the FastCDC/rsync boundary rule, used for
      // blob-level dedup of multimodal payloads): position i ends a chunk
      // iff the hash of the 8-char window ending at i is ≡ 0 (mod 32) —
      // boundaries survive insertions/deletions because they depend only on
      // local content, unlike fixed-stride chunking (q_doc_chunk). Expected
      // chunk ≈ 32 chars. Entirely per-row expression work: boundary
      // positions, chunk count, and max chunk length compute inside one
      // codegen'd projection — no shuffle except the final order.
      val w = 8; val mask = 32
      cat(s, dir).documents
        .select(col("doc_id"), length(col("text")).as("len"), expr(
          s"filter(transform(sequence($w, greatest(length(text), $w)), " +
          s"i -> CASE WHEN i < length(text) AND CAST(conv(substring(md5(" +
          s"substring(text, i - ${w - 1}, $w)), 1, 2), 16, 10) AS INT) % $mask = 0 " +
          s"THEN i ELSE -1 END), p -> p > 0)").as("bs"))
        .withColumn("ps", expr("concat(array(0), bs, array(len))"))
        .select(col("doc_id"),
          (size(col("bs")) + 1).cast("bigint").as("n_chunks"),
          round(col("len") / (size(col("bs")) + lit(1.0)), 4).as("avg_chunk"),
          expr("CAST(array_max(transform(sequence(2, size(ps)), " +
            "j -> element_at(ps, j) - element_at(ps, j - 1))) AS BIGINT)")
            .as("max_chunk"))
        .orderBy("doc_id")
    }),
    "q_transition_matrix" -> ((s, dir) => {
      // Markov transition counts between consecutive events per user — the
      // behavioral-model input. lead() over the high-cardinality user key is
      // ONE hash exchange; the naive per-step self-join would re-shuffle the
      // event table against itself.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      cat(s, dir).events
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),
    "q_inflight" -> ((s, dir) => {
      // Sweep-line interval concurrency: peak shipments in flight per day
      // (interval = ship date + deterministic 1..30-day transit keyed on
      // orderkey; the synthetic lineitem carries no receipt date). Each
      // interval becomes a +1/-1 delta pair, deltas aggregate per DAY FIRST
      // (the corpus-size shuffle is the groupBy on ~thousands of distinct
      // dates), and only then does a running sum order the tiny daily table
      // — the global window sees bounded rows regardless of corpus scale,
      // so the single-partition sort is safe at 100 TB.
      val li = cat(s, dir).lineitem
        .select(to_date(col("l_shipdate")).as("d0"),
          (col("l_orderkey") % 30 + 1).cast("int").as("transit"))
      val deltas = li.select(col("d0").as("d"), lit(1L).as("delta"))
        .unionAll(li.select(date_add(col("d0"), col("transit") + lit(1)).as("d"),
          lit(-1L).as("delta")))
        .groupBy("d").agg(sum("delta").as("delta"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("n_inflight", sum("delta").over(w))
        .select("d", "n_inflight")
        .orderBy(col("n_inflight").desc, col("d").asc)
        .limit(10)
    }),
    "q_anomaly_days" -> ((s, dir) => {
      // Day-level volume anomaly audit: a day is anomalous when its event
      // count exceeds trailing-14-day mean + 1.5σ (≥7 days of history). The
      // corpus-size work is the daily groupBy; the trailing window then
      // runs over the AGGREGATED daily table (bounded by calendar length,
      // not corpus size), so the single-partition ordering is safe at any
      // scale.
      val daily = cat(s, dir).events
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
      val w = Window.orderBy("d").rowsBetween(-14, -1)
      daily
        .withColumn("mu", avg("n").over(w))
        .withColumn("sd", stddev_samp("n").over(w))
        .withColumn("n_hist", count(lit(1)).over(w))
        .filter(col("n_hist") >= 7 && col("n") > col("mu") + lit(1.5) * col("sd"))
        .select(col("d"), col("n"), round(col("mu"), 2).as("mu"),
          round(col("sd"), 2).as("sd"))
        .orderBy("d")
    }),
    "q_change_points" -> ((s, dir) => {
      // CUSUM level-shift detection over daily event volume — the
      // monitoring companion to q_anomaly_days (point spikes) and
      // q_source_drift (distribution drift): cusum_k = Σ_{i≤k}(n_i − μ)
      // accumulates small sustained shifts a per-day z-score never sees.
      // Exact integer arithmetic throughout — runsum·N − k·total stays
      // BIGINT, one double division at the end — so the running sum is
      // bit-deterministic on both engines. Corpus-size work is the daily
      // groupBy; windows run over the calendar-bounded daily table (same
      // single-partition-safety argument as q_anomaly_days). Shift flag:
      // |cusum| > 2μ ⟺ |num| > 2·total, an integer compare.
      val daily = cat(s, dir).events
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
      val tot = daily.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_days"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .withColumn("runsum", sum(col("n")).over(w))
        .withColumn("k", row_number().over(Window.orderBy("d")))
        .withColumn("num",
          col("runsum") * col("n_days") - col("k") * col("total"))
        .select(col("d"), col("n"), col("runsum"),
          round(col("num") / col("n_days"), 3).as("cusum"),
          (abs(col("num")) > lit(2) * col("total")).cast("int").as("shift"))
        .orderBy("d")
    }),
    "q_debounce" -> ((s, dir) => {
      // Event debounce: keep only the FIRST event of each rapid burst — a
      // burst breaks when the gap from the previous event (same user +
      // type) exceeds 5 minutes; exactly the gaps-islands session-start
      // rule. Gap compare is in integer microseconds (unix_micros) so both
      // engines evaluate the identical arithmetic — no per-engine
      // seconds-truncation drift. One hash exchange on the user key.
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      cat(s, dir).events
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("keep", col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 300000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("event_type")
    }),
    "q_ema" -> ((s, dir) =>
      // Exponential moving average (α = 0.3) of each customer's order values
      // — the classic smoother whose recurrence (ema_i depends on ema_{i−1})
      // no window frame expresses. Formulation: one shuffle groups each
      // customer's orders, `aggregate()` folds the sorted sequence with the
      // exact recurrence. Per-group state is the customer's order history —
      // the same bounded-group contract as sessionization. The recurrence
      // runs in INTEGER CENTS (ema = (3·x + 7·ema) div 10): float
      // formulations diverge across engines — raw doubles compound FMA
      // contraction ulps, and per-step cent rounding hits exact half-cent
      // cases (0.3 · two-decimal values) where double-rounding semantics
      // differ. Integer arithmetic is bit-identical everywhere, period.
      cat(s, dir).orders
        .groupBy(col("o_custkey").as("k"))
        .agg(array_sort(collect_list(struct(col("o_orderkey").as("okey"),
          round(col("o_totalprice") * 100).cast("bigint").as("xc")))).as("seq"))
        .select(col("k"), explode(expr(
          "aggregate(seq, cast(array() as array<struct<okey:bigint,ema:bigint>>), " +
            "(acc, e) -> case when size(acc) = 0 " +
            "then array(named_struct('okey', e.okey, 'ema', e.xc)) " +
            "else array_append(acc, named_struct('okey', e.okey, " +
            "'ema', (3 * e.xc + 7 * element_at(acc, -1).ema) div 10)) end)")).as("r"))
        .select(col("k"), col("r.okey").as("okey"),
          (col("r.ema") / 100.0).as("ema"))
        .orderBy("k", "okey")),
    "q_scd2" -> ((s, dir) => {
      // Slowly-changing-dimension type-2 history: collapse each user's event
      // stream to its status CHANGE points, each valid [ts, next change)
      // with NULL closing the current row — the dimension-table build step
      // of every warehouse load. Two windows over the same user-keyed sort
      // (one exchange); user subset bounds the declared output.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      cat(s, dir).events
        .filter(col("user_id") % 20 === 0)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          col("valid_to"))
        .orderBy("user_id", "valid_from", "event_type")
    }),
    "q_cdc_diff" -> ((s, dir) => {
      // Snapshot CDC: diff two table versions (derived deterministically
      // from orders — keys present only in old → delete, only in new →
      // insert, value drift → update) via one full-outer join on the key,
      // then classify and aggregate. The change-capture step between
      // batch loads when no log-based CDC exists.
      val o = cat(s, dir).orders
      val old = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").cast("double").as("p_old"))
      val nw = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).cast("double").as("p_new"))
      old.join(nw, Seq("k"), "full_outer")
        .withColumn("change_type", when(col("p_old").isNull, "insert")
          .when(col("p_new").isNull, "delete")
          .when(col("p_old") =!= col("p_new"), "update")
          .otherwise("unchanged"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("p_new"), col("p_old"))), 2).as("total"))
        .orderBy("change_type")
    }),
    "q_seq_patterns" -> ((s, dir) => {
      // Sequential pattern mining (the PrefixSpan/SPADE question, bounded
      // to length-3 patterns): support of each ordered event-type triple
      // t1 → t2 → t3 (not necessarily contiguous) across (user, day)
      // sessions, counting each session at most once — "what behavioral
      // sequences actually recur" for funnel discovery, where q_funnel
      // checks ONE given sequence. Scale shape: the combinatorial step
      // self-joins positions INSIDE the session key, so the blow-up is
      // bounded by session length (one user's day), never corpus size;
      // after the per-session distinct everything is one grouped count
      // over a ≤ |types|³ pattern table. Top-15 under a total order.
      val ses = cat(s, dir).events
        .select(concat_ws("_", col("user_id"), to_date(col("ts"))).as("cell"),
          col("event_type").as("t"), col("ts"), col("event_id"))
      val wp = Window.partitionBy("cell").orderBy("ts", "event_id")
      val pos = ses.withColumn("p", row_number().over(wp))
        .select("cell", "p", "t")
      val a = pos.select(col("cell"), col("p").as("p1"), col("t").as("t1"))
      val b = pos.select(col("cell"), col("p").as("p2"), col("t").as("t2"))
      val c = pos.select(col("cell"), col("p").as("p3"), col("t").as("t3"))
      a.join(b, "cell").filter(col("p1") < col("p2"))
        .join(c, "cell").filter(col("p2") < col("p3"))
        .select(col("cell"), col("t1"), col("t2"), col("t3")).distinct()
        .groupBy("t1", "t2", "t3")
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("t1"), col("t2"), col("t3"))
        .limit(15)
    }),
    "q_event_paths" -> ((s, dir) => {
      // Top user journeys: each user's first three event types as an
      // ordered path, counted across users — the Sankey-diagram feed. One
      // user-keyed exchange; the path assembles from a sorted bounded
      // struct array (first 3 after sort), never a per-user window sort
      // over the full history.
      cat(s, dir).events
        .groupBy("user_id")
        .agg(array_join(transform(
          slice(array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))), 1, 3),
          x => x.getField("event_type")), " > ").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }),
    "q_dau_mau" -> ((s, dir) => {
      // DAU / trailing-28-day MAU / stickiness per day. The sliding
      // distinct-user window is re-expressed as an EQUALITY aggregation:
      // each (day, user) activity contributes itself to the 28 days it
      // keeps the user "monthly active" (explode of a 28-element date
      // sequence), then one distinct + count per day — no range join, no
      // nested-loop, partial-agg all the way; the 28× fan-out is of narrow
      // (date, id) pairs only.
      val ud = cat(s, dir).events
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val dau = ud.groupBy("d").agg(countDistinct("user_id").as("dau"))
      val mau = ud
        .select(explode(sequence(col("d"), date_add(col("d"), 27))).as("d"),
          col("user_id"))
        .distinct()
        .groupBy("d").agg(countDistinct("user_id").as("mau"))
      dau.join(mau, "d")
        .select(col("d"), col("dau"), col("mau"),
          round(col("dau") / col("mau"), 4).as("stickiness"))
        .orderBy("d")
    }),
    "q_bpe_pairs" -> ((s, dir) => {
      // The BPE-training inner loop: count adjacent character pairs weighted
      // by word frequency, surface the top merge candidates. Crucially the
      // pair explosion runs over the DISTINCT-WORD table (vocabulary-sized),
      // not the corpus — the word-frequency aggregation is the only
      // corpus-wide shuffle, exactly how a real tokenizer trainer scales.
      val wf = cat(s, dir).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      wf.filter(length(col("w")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),
    "q_trending" -> ((s, dir) => {
      // Trending detection: per-day top-3 event types by volume, each with
      // its day-over-day growth. The raw stream collapses to a (day, type)
      // aggregate first; the lag window and the bounded-heap top-k both run
      // over that tiny frame — the aggregate-fed-window rule (a raw-scan
      // window here would funnel the corpus into |days| tasks).
      val daily = cat(s, dir).events
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val withPrev = daily.withColumn("prev",
        lag("n", 1).over(Window.partitionBy("event_type").orderBy("d")))
      graft.plans.TopKPerGroup.topKPerGroup(withPrev, Seq(col("d")),
          Seq(col("n").desc, col("event_type")), 3)
        .select(col("d"), col("rk").cast("bigint").as("rk"), col("event_type"),
          col("n"), round(col("n") / col("prev"), 4).as("dod"))
        .orderBy("d", "rk")
    }),
    // ------------------------------------------------------------- round 6
    "q_minhash_recall" -> ((s, dir) => {
      // MinHash-LSH quality evaluation as a first-class ORACLE-CHECKED query
      // (the q_ann_recall pattern, applied to near-dup): recall of LSH
      // candidate pairs vs exact n-gram Jaccard ≥ t, per threshold, over a
      // bounded doc panel. Unlike the production kernels (xxhash64-based,
      // rows-only), every stage here is engine-portable arithmetic: element
      // hashes are 28-bit ints from md5 hex, the 64 permutations are
      // (a_j·x + b_j) mod 2³¹−1 with a_j = 1000003(j+1), b_j = 777771·j
      // (products < 2⁶³ in both engines), bands are 16×4 concatenated keys.
      // Ground truth uses the EQUALITY join on shared gram hashes — a pair
      // with empty intersection can't reach any threshold, so no all-pairs
      // scan; candidates come from the operators' own banded equality join
      // (Dedup.lshCandidates). Both shapes are the scale-correct ones, just
      // over portable hashes.
      import s.implicits._
      val P = 2147483647L
      val (nh, bands, rws) = (64, 16, 4)
      val docs = cat(s, dir).documents.filter(col("doc_id") < 200)
        .select(col("doc_id"), TextStats.wordGrams(col("text"), 3).as("grams"))
      val gh = docs.select(col("doc_id"), explode(col("grams")).as("g"))
        .select(col("doc_id"),
          expr("cast(conv(substring(md5(g), 1, 7), 16, 10) as bigint)").as("x"))
        .distinct()
      val sizes = gh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val truth = gh.as("a")
        .join(gh.as("b"),
          col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_int"))
        .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (col("n_int").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_int"))).as("jac"))
        .filter(col("jac") >= 0.5)
      val sigCols = (0 until nh).map(j =>
        min((lit(1000003L * (j + 1)) * col("x") + lit(777771L * j)) % P).as(s"s$j"))
      val sigs = gh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      val bandKeys = (0 until bands).map(bd =>
        concat_ws("-", (0 until rws).map(r => col(s"s${bd * rws + r}")): _*))
      val cand = Dedup.lshCandidates(sigs, col("doc_id"), array(bandKeys: _*))
      val joined = truth
        .join(cand.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
      // 5-row thresholds frame × bounded truth frame: the non-equi join is a
      // trivial nested loop either way (left side of a LEFT OUTER can't be
      // the broadcast side, so no hint).
      val thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
      thresholds
        .join(joined, col("jac") >= col("threshold"), "left")
        .groupBy("threshold")
        .agg(count(col("jac")).as("n_true"), count(col("hit")).as("n_caught"))
        .select(col("threshold"), col("n_true"), col("n_caught"),
          when(col("n_true") > 0,
            round(col("n_caught").cast("double") / col("n_true"), 4)).as("recall"))
        .orderBy("threshold")
    }),
    "q_merkle_root" -> ((s, dir) => {
      // Per-source Merkle root over content hashes — the snapshot-equality
      // primitive: two 100 TB shard copies compare by exchanging one hash
      // per source instead of moving data, and a mismatch bisects down the
      // tree in O(log n) round trips. Leaves are md5(text) in doc_id
      // order; each level pairs positions (2i, 2i+1) → md5(left ∥ right),
      // an odd tail node carries up unchanged. Depth = ceil(log2(max
      // source size)) from ONE scalar aggregate — any larger depth (the
      // oracle unrolls a fixed 20) produces the identical root because
      // levels above a completed root are identity carries; deriving it
      // keeps the fixed per-level latency proportional to the data
      // actually present. Scale shape: ONE corpus scan hashes the text
      // into a checkpointed narrow (source, doc_id, h) frame that feeds
      // the group counts, the leaf numbering, AND the reduction; each
      // level is one partial-agg'd groupBy over a frame HALF the size of
      // the last — total work ~2n regardless of depth; batched
      // localCheckpoints keep the deep lineage out of the planner.
      val hashed = cat(s, dir).documents
        .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
        .localCheckpoint(eager = true)
      // depth = ceil(log2(max group size)): each level is a full exchange
      // stage of fixed latency, so the TIGHT bound matters (depthFor(total)
      // would cost log2(groups) extra stages); the max comes from one cheap
      // aggregate over the checkpointed narrow frame
      val maxN = hashed.groupBy("source").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
      val counts = hashed.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val leaves = graft.engine.Merkle.numberedLeaves(
        hashed, "source", "doc_id", "h", materialize = false)
      graft.engine.Merkle.rootPerKey(leaves, "source", "pos", "h",
          graft.engine.Merkle.depthFor(maxN))
        .join(counts, "source")
        .select(col("source"), col("n_docs"), col("root"))
        .orderBy("source")
    }),
    "q_mix_temperature" -> ((s, dir) => {
      // Temperature-scaled source mixing (the multilingual-LM alpha-sampling
      // rule, here at tau = 0.5): upweight small sources by sampling
      // proportionally to sqrt(tokens) instead of tokens. Everything rides
      // ONE map-side-aggregable pass over documents (per-source token sums),
      // then a 5-row broadcast of the totals. Float determinism: sqrt is
      // IEEE-correctly-rounded in both engines; each sqrt is rounded to 6
      // decimals and cast to DECIMAL before the cross-source SUM, so the
      // denominator is an exact decimal sum (associative — immune to
      // summation-order drift); shares divide as doubles only at the end.
      val perSrc = cat(s, dir).documents
        .select(col("source"), size(split(col("text"), " "))
          .cast("bigint").as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tok"))
      val r = round(sqrt(col("n_tok").cast("double")), 6)
        .cast("decimal(20,6)").as("r")
      val scored = perSrc.withColumn("r", r)
      val tot = scored.agg(sum("n_tok").cast("double").as("tot_tok"),
        sum("r").as("tot_r"))
      scored.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tok"),
          round(col("n_tok").cast("double") / col("tot_tok"), 6)
            .as("tok_share"),
          round(col("r").cast("double") / col("tot_r").cast("double"), 6)
            .as("temp_share"))
        .withColumn("boost", round(col("temp_share") / col("tok_share"), 4))
        .orderBy("source")
    }),
    "q_ppl_buckets" -> ((s, dir) => {
      // CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
      // doc with the corpus bigram LM (the q_lm_perplexity kernel, lang
      // carried through), then split each language into head/middle/tail
      // at its own xent terciles — the quality gate that keeps the
      // best-modeled third of a crawl. Tercile bounds are ONE partial-agg
      // pass broadcast back (|langs| rows) — never a window over the
      // low-cardinality lang key, which would funnel the corpus into
      // |langs| tasks. Per-bucket totals sum in exact DECIMAL over the
      // 4-rounded xents (immune to summation order) and are emitted as the
      // exact sum, NOT a rounded mean: round(sum/n) re-introduces the
      // double half-tie where Spark's HALF_UP and DuckDB's round disagree
      // (it flipped the 4th decimal at sf0.01).
      val d = cat(s, dir).documents
      val ws = split(col("text"), " ")
      val pairs = d.filter(size(ws) >= 2)
        .select(col("doc_id"), col("lang"), explode(arrays_zip(
          slice(ws, lit(1), size(ws) - 1).as("prev"),
          slice(ws, lit(2), size(ws) - 1).as("cur"))).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      val c2 = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
      val c1 = pairs.groupBy("prev").agg(count(lit(1)).as("c1"))
      val v = d.select(explode(ws).as("tok")).agg(countDistinct("tok").as("v"))
      val perDoc = pairs.join(c2, Seq("prev", "cur")).join(c1, Seq("prev"))
        .crossJoin(broadcast(v))
        .groupBy("doc_id", "lang")
        .agg(round(avg(-log((col("c2") + 1) / (col("c1") + col("v")))), 4).as("xent"))
      val bounds = perDoc.groupBy("lang").agg(
        expr(s"percentile(xent, ${1.0 / 3})").as("b1"),
        expr(s"percentile(xent, ${2.0 / 3})").as("b2"))
      perDoc.join(broadcast(bounds), "lang")
        .withColumn("bucket", when(col("xent") <= col("b1"), "head")
          .when(col("xent") <= col("b2"), "middle").otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("xent").cast("decimal(18,4)")).cast("double").as("sum_xent"),
          min("xent").as("min_xent"), max("xent").as("max_xent"))
        .orderBy("lang", "bucket")
    }),
    "q_curation_funnel" -> ((s, dir) => {
      // FineWeb-style curation funnel accounting (Penedo et al. 2024): how
      // many docs and chars survive each pipeline stage — raw → quality
      // gate → exact dedup → head dedup — per source. Stage membership is
      // cumulative booleans over ONE corpus scan: each dedup stage keeps
      // the min-doc_id row still alive at the prior stage, computed as a
      // window MIN over that stage's hash key, so the only shuffle
      // payloads are fixed-width md5 keys; the funnel emits through one
      // conditional aggregate + stack — never four rescans of the corpus.
      val base = cat(s, dir).documents.select(
        col("source"), col("doc_id"), col("n_chars"),
        (TextStats.qualityVerdict(col("text")) === "keep").as("pq"),
        Dedup.digest(col("text")).as("dg"),
        expr("md5(array_join(slice(split(text, ' '), 1, 8), ' '))").as("hd"))
      val flagged = base
        .withColumn("pe", col("pq") && col("doc_id") ===
          min(when(col("pq"), col("doc_id"))).over(Window.partitionBy("dg")))
        .withColumn("ph", col("pe") && col("doc_id") ===
          min(when(col("pe"), col("doc_id"))).over(Window.partitionBy("hd")))
      flagged.groupBy("source").agg(
          count(lit(1)).as("d0"), sum("n_chars").as("c0"),
          sum(when(col("pq"), 1L).otherwise(0L)).as("d1"),
          sum(when(col("pq"), col("n_chars")).otherwise(0L)).as("c1"),
          sum(when(col("pe"), 1L).otherwise(0L)).as("d2"),
          sum(when(col("pe"), col("n_chars")).otherwise(0L)).as("c2"),
          sum(when(col("ph"), 1L).otherwise(0L)).as("d3"),
          sum(when(col("ph"), col("n_chars")).otherwise(0L)).as("c3"))
        .selectExpr("source",
          "stack(4, 0, 'raw', d0, c0, 1, 'quality', d1, c1, " +
            "2, 'exact_dedup', d2, c2, 3, 'head_dedup', d3, c3) " +
            "AS (stage, stage_name, n_docs, chars_kept)")
        .orderBy("source", "stage")
    }),
    "q_curation_pipeline" -> ((s, dir) =>
      // The end-to-end curation CAPSTONE (llm.Curation): the FineWeb-style
      // chain MATERIALIZED as one staged DAG — quality filter → exact
      // dedup → near-dup component drop → decontamination vs the held-out
      // source → temperature mixing → leakage-safe split — with a Merkle
      // root stamped on every stage's surviving doc set. One checkpointed
      // corpus scan + narrow key joins; all-integer hash gates and
      // round-6/4 share arithmetic make the whole chain bit-portable, so
      // the oracle composes the already-verified fragment SQL end-to-end.
      // Curation.writeSplits is the production write path (split parquet +
      // integrity manifest), spec-verified against this report.
      graft.llm.Curation.report(cat(s, dir).documents)),
    "q_curation_incremental" -> ((s, dir) =>
      // The DAILY-REFRESH drill for the capstone: curate the id-lower half
      // of the pool, capture the text-free incremental state (per-doc
      // flags + the mergeable rare-gram index + benchmark shingles), then
      // APPEND the upper half reading wave-1 text zero times —
      // Curation.appendWave composes the digest anti-join, the gram-index
      // merge (near-dup edges are not append-monotone: new docs both
      // create and destroy nd=2 grams, so the index is the state), delta
      // decontamination, and a global re-rank of the mix/split stages.
      // The output is bit-identical to the full rebuild, so the ORACLE IS
      // the same full-rebuild SQL as q_curation_pipeline — a green hash
      // match is the proof that append(wave2) ∘ build(wave1) ==
      // build(wave1 ∪ wave2), stage counts and Merkle roots included.
      graft.llm.Curation.incrementalReport(cat(s, dir).documents)),
    "q_dsir_weights" -> ((s, dir) => {
      // DSIR importance resampling (Xie et al. 2023): score every raw-pool
      // doc by how much likelier its hashed-unigram features are under the
      // target distribution (source 'src0' stands in for the curated
      // target) than under the raw pool, and surface the top-20 selects.
      // Features are 256 md5-prefix buckets, so both bucket LMs fit in
      // <=256-row broadcast tables and the only corpus-wide shuffle
      // carries fixed-width (doc, bucket) keys. Each bucket's log-ratio
      // is rounded once; the per-doc accumulation is an exact DECIMAL sum
      // of 6-rounded terms, so weights are bit-identical across engines
      // and safe to sort on.
      val toks = cat(s, dir).documents
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("b", substring(md5(col("tok").cast("binary")), 1, 2))
        .select("doc_id", "source", "b")
      val tgt = toks.filter(col("source") === "src0")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val raw = toks.filter(col("source") =!= "src0")
      val rawLm = raw.groupBy("b").agg(count(lit(1)).as("cr"))
      val lm = tgt.join(rawLm, Seq("b"), "full_outer")
        .na.fill(0L, Seq("ct", "cr"))
      val lr = lm.crossJoin(broadcast(lm.agg(
          sum("ct").as("nt"), sum("cr").as("nr"))))
        .select(col("b"), round(
          log((col("ct") + lit(1.0)) / (col("nt") + lit(256.0))) -
          log((col("cr") + lit(1.0)) / (col("nr") + lit(256.0))), 6).as("lr"))
      raw.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
        .join(broadcast(lr), "b")
        .withColumn("term", round(col("n") * col("lr"), 6).cast("decimal(24,6)"))
        .groupBy("doc_id")
        .agg(sum("term").cast("double").as("weight"),
          sum("n").cast("bigint").as("n_tok"))
        .orderBy(col("weight").desc, col("doc_id")).limit(20)
    }),
    "q_bpe_learn" -> ((s, dir) => {
      // Full BPE tokenizer training (Sennrich et al. 2016), not just the
      // inner-loop statistic q_bpe_pairs surfaces: 10 merges learned
      // iteratively, each chosen by frequency-weighted argmax over the
      // VOCABULARY frame (the corpus is read once, for the word counts) and
      // applied distributed via a codegen'd fold before the next is scored.
      // Only the 1-row argmax ever reaches the driver. ORACLE-CHECKED
      // (round 10): under a bracket-encoded symbol string, DuckDB's
      // left-to-right replace() IS the greedy merge fold, so the oracle
      // unrolls one pair-count/argmax/replace level per merge; BpeSpec
      // besides replays the exact loop sequentially. Shared training
      // memoized with q_bpe_segment.
      val (merges, _) = Bpe.trained(cat(s, dir).documents, "text", 10)
      import s.implicits._
      merges.zipWithIndex.map { case (m, i) =>
        (i + 1, m.left, m.right, m.left + m.right, m.score)
      }.toDF("rank", "left", "right", "merged", "score")
    }),
    "q_bpe_segment" -> ((s, dir) => {
      // The apply side of the trained tokenizer: segmentations and subword
      // counts (`</w>` sentinel included) for the 20 most frequent words —
      // the fertility audit run before committing a vocabulary. Rides the
      // memoized final vocab; the cut is a bounded heap over the
      // vocabulary-sized frame.
      val (_, vf) = Bpe.trained(cat(s, dir).documents, "text", 10)
      vf.orderBy(col("f").desc, col("word")).limit(20)
        .select(col("word"), col("f"), size(col("syms")).as("n_subwords"),
          array_join(col("syms"), "|").as("segmentation"))
    }),
    "q_unigram_train" -> ((s, dir) => {
      // Unigram-LM tokenizer (the EM half of SentencePiece, Kudo 2018) —
      // the complement of q_bpe_learn: over-complete substring seed, hard-EM
      // reweighting with Viterbi segmentation as the E-step, run through the
      // UnigramViterbi codegen kernel with the model as plan-embedded
      // constants (one vocab-frame scan per iteration, model-sized collects
      // only). Oracle-checked: the 6-decimal logp grid (Unigram.snapLogp)
      // pins the trajectory, so UnigramOracles unrolls the whole EM chain;
      // Round8iQueriesSpec mirrors the training loop in plain Scala besides.
      val model = Unigram.trained(cat(s, dir).documents, "text")
      import s.implicits._
      model.take(20).zipWithIndex.map { case (p, i) =>
        (i + 1, p.piece, p.cnt, math.rint(p.logp * 1e6) / 1e6)
      }.toDF("rank", "piece", "cnt", "logp")
    }),
    "q_unigram_segment" -> ((s, dir) => {
      // Segmentation audit for the trained unigram model: the 10 most
      // frequent corpus words, their Viterbi segmentation and fertility —
      // the downstream check that EM actually learned multi-character
      // pieces (fertility << word length) rather than falling back to
      // characters. Same memoized model as q_unigram_train.
      val docs = cat(s, dir).documents
      val model = Unigram.trained(docs, "text")
      val seg = Unigram.segmenter(model)
      Unigram.wordFreq(docs, "text")
        .orderBy(col("f").desc, col("word")).limit(10)
        .select(col("word"), col("f"),
          array_join(seg(col("word")), "|").as("segmentation"),
          size(seg(col("word"))).as("n_pieces"))
        .orderBy(col("f").desc, col("word"))
    }),
    "q_kmv_distinct" -> ((s, dir) => {
      // KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
      // 2002): hash every key to [0,1), keep the K=32 smallest hashes per
      // group, estimate |distinct| = (K−1)/h_K. Unlike the HLL tier this
      // sketch is FULLY oracle-checkable — the hash is the same LCG-
      // multiplier affine-mod-prime map both engines compute exactly
      // (the multiplier must be ~p-sized: a small multiplier leaves
      // consecutive ids clustered near 0 and the estimate explodes). The K smallest ride
      // the custom bounded-heap TopKPerGroup operator (O(groups×K) memory,
      // no per-group sort), which is precisely how a KMV survives a
      // billion-key group at 100 TB; the exact side is the full
      // countDistinct it would replace.
      val K = 32
      val d = cat(s, dir).events
        .select(col("event_type"), col("user_id").cast("long").as("u"))
        .distinct()
      val hashed = d.select(col("event_type"),
        (((lit(1103515245L) * col("u") + lit(12345L)) % 2147483647L).cast("double")
          / 2147483647.0).as("h"))
      val kth = graft.plans.TopKPerGroup.topKPerGroup(
          hashed, Seq(col("event_type")), Seq(col("h").asc), K)
        .filter(col("rk") === K).select(col("event_type"), col("h").as("hk"))
      val exact = d.groupBy("event_type").agg(countDistinct("u").as("n_exact"))
      exact.join(kth, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          round(col("hk"), 9).as("kth_h"),
          round(lit(31.0) / col("hk"), 4).as("est"),
          round(abs(lit(31.0) / col("hk") - col("n_exact")) / col("n_exact"), 4)
            .as("rel_err"))
        .orderBy("event_type")
    }),
    "q_cms_counts" -> ((s, dir) => {
      // Count–min sketch (Cormode & Muthukrishnan 2005) audit: build a
      // 4×64 CMS over the event stream's user ids with pairwise-independent
      // affine hashes mod a Mersenne prime, then compare point estimates
      // (min over the 4 rows) against exact counts for a deterministic key
      // panel. The sketch is 256 cells REGARDLESS of corpus size — at
      // 100 TB the cells frame is a constant-size partial-agg output while
      // the exact side needs a full per-key aggregation; the overcount
      // column is the price paid, and CMS guarantees it is never negative.
      val ev = cat(s, dir).events.select(col("user_id").cast("long").as("k"))
      val truth = ev.filter(col("k") % 13 === 0)
        .groupBy("k").agg(count(lit(1)).as("true_cnt"))
      graft.engine.Cms.estimates(graft.engine.Cms.cells(ev, "k"), truth)
    }),
    "q_ams_f2" -> ((s, dir) => {
      // AMS second-moment sketch (Alon–Matias–Szegedy '96): estimate the
      // SELF-JOIN SIZE Σ_u f_u² per event type from 16 ±1-signed counters —
      // one corpus scan computing 16 conditional sums in a single partial
      // aggregate, state 16 longs per group regardless of key cardinality.
      // F2/self-join size is what a cost-based optimizer needs to pick a
      // join strategy or detect skew BEFORE paying the shuffle; the exact
      // side (a full per-key aggregation) is the cost it avoids. Estimator:
      // 64 rows, median of 16 means-of-4. The sign hash is a DEGREE-3
      // polynomial mod a Mersenne prime (the 4-wise-independent family the
      // AMS analysis requires): affine/multiplicative hashes measured 80%+
      // underestimates here because contiguous user ids equidistribute
      // their lattice perfectly — the sign sum collapses to ~0 instead of
      // fluctuating binomially, which is exactly the failure 4-wise
      // independence exists to rule out.
      val ev = cat(s, dir).events
        .select(col("event_type"), col("user_id").cast("long").as("u"))
      val aggs = count(lit(1)).as("n_rows") +:
        (0 until OracleSql.amsRows).map(r => sum(expr(OracleSql.amsSignSql(r))).as(s"s$r"))
      val sums = ev.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      val withMeans = (0 until OracleSql.amsRows / 4).foldLeft(sums) { (df, i) =>
        df.withColumn(s"m$i", expr(OracleSql.amsMeanSql(i)))
      }
      val ms = (0 until OracleSql.amsRows / 4).map(i => s"m$i").mkString(", ")
      val means = withMeans.withColumn("est", expr(
        s"(element_at(sort_array(array($ms)), ${OracleSql.amsRows / 8}) + " +
        s"element_at(sort_array(array($ms)), ${OracleSql.amsRows / 8 + 1})) / CAST(2 AS DOUBLE)"))
      val exact = ev.groupBy("event_type", "u").agg(count(lit(1)).as("c"))
        .groupBy("event_type").agg(sum(col("c") * col("c")).as("f2_exact"))
      means.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_rows"), col("f2_exact"),
          round(col("est"), 1).as("est"),
          round(abs(col("est") - col("f2_exact")) / col("f2_exact"), 4)
            .as("rel_err"))
        .orderBy("event_type")
    }),
    "q_hdr_quantile" -> ((s, dir) => {
      // HdrHistogram-style quantile sketch (Tene's HdrHistogram; the base-2
      // DDSketch family, VLDB'19): integer octave × 8 linear sub-buckets,
      // bucket counts as the ONLY corpus-sized pass, midpoint estimates
      // with a deterministic 1/16 relative-error contract. Unlike the
      // approx_percentile tier this sketch is FULLY oracle-checkable —
      // every step is integer shifts and division (log2 only seeds the
      // octave guess; integer compares make it exact in any engine). At
      // 100 TB the grid is a bounded partial-agg output (≤ 64×8 cells per
      // group) where the exact percentile ships the full value multiset.
      import graft.engine.Hdr
      val v = cat(s, dir).lineitem.filter(col("l_extendedprice") > 0)
        .select(col("l_returnflag"), Hdr.cents(col("l_extendedprice")).as("c"))
      val counts = Hdr.bucketCounts(v, "l_returnflag", "c")
      val exact = v.groupBy("l_returnflag").agg(
        expr("percentile(c, 0.5)").as("e50"),
        expr("percentile(c, 0.9)").as("e90"),
        expr("percentile(c, 0.99)").as("e99"))
      Hdr.withExact(Hdr.quantileEstimates(counts, "l_returnflag"),
        exact, "l_returnflag")
    }),
    "q_perplexity_buckets" -> ((s, dir) => {
      // CCNet-style perplexity bucketing (Wenzek et al. 2020): train the
      // interpolated Kneser–Ney bigram LM on the curated target domain
      // (src0 — the DSIR convention), score every raw-pool doc's
      // cross-entropy under it, and cut the pool into equal head/middle/
      // tail thirds — the label CCNet stores so downstream sampling can
      // prefer the head. Unseen events take deterministic fallbacks
      // (unseen context → the pure continuation probability; unseen word
      // → a half-count floor 0.5/T), so every bigram scores. The cut is
      // RANK-based (row k of n in (xent, doc_id) order, integer compare
      // 3k ≤ n), not interpolated-percentile-based: the two engines'
      // interpolation formulas differ in FP association, and a 1-ulp cut
      // difference would flip boundary docs across buckets — ranks
      // can't. The global rank reuses Merkle.numberedLeaves (bucketed
      // range rank — no single-partition window sees the pool) on a
      // composite STRUCT order key (xent·10⁴ rounded to long, doc_id),
      // bucketing on the leading xent component alone — monotone in the
      // struct order, so the bucket cut is exact at ANY id width (a
      // synthetic 2³⁴-id spec pins this). Model tables are
      // vocabulary-sized (broadcast); pool text shuffles once into
      // bigrams; docs with <2 tokens have no bigrams and are out of
      // scope, the q_kneser_ney contract.
      val d = cat(s, dir).documents
      def bigrams(df: DataFrame) = {
        val ws = split(col("text"), " ")
        df.filter(size(ws) >= 2)
          .select(col("doc_id"), col("source"), explode(arrays_zip(
            slice(ws, lit(1), size(ws) - 1).as("prev"),
            slice(ws, lit(2), size(ws) - 1).as("cur"))).as("bg"))
          .select(col("doc_id"), col("source"),
            col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      }
      val train = bigrams(d.filter(col("source") === "src0"))
      val c2 = train.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
      // ctx/cont/t all DERIVE from the distinct-bigram frame (round 15):
      // c1 = Σ c2 per prev, nv = rows per prev, nw = rows per cur —
      // identical LongType values to re-aggregating the raw bigram stream,
      // but the three shuffles over the full training corpus collapse into
      // one (the (prev,cur) exchange under c2 is shared by every consumer
      // via ReuseExchange; ctx/cont/t re-shuffle only the vocabulary-sized
      // distinct frame).
      val ctx = c2.groupBy("prev")
        .agg(sum("c2").as("c1"), count(lit(1)).as("nv"))
      val cont = c2.groupBy("cur").agg(count(lit(1)).as("nw"))
      val t = c2.agg(count(lit(1)).as("t"))
      val perDoc = bigrams(d.filter(col("source") =!= "src0"))
        .join(c2, Seq("prev", "cur"), "left")
        .join(ctx, Seq("prev"), "left")
        .join(cont, Seq("cur"), "left").crossJoin(broadcast(t))
        .select(col("doc_id"), col("source"), (-log(
          when(col("c1").isNotNull,
            greatest(coalesce(col("c2"), lit(0L)) - 0.75, lit(0.0)) / col("c1") +
              lit(0.75) * col("nv") / col("c1") *
              (coalesce(col("nw").cast("double"), lit(0.5)) / col("t")))
            .otherwise(coalesce(col("nw").cast("double"), lit(0.5)) / col("t"))))
          .as("nll"))
        .groupBy("doc_id")
        .agg(first("source").as("source"), count(lit(1)).as("n_bigrams"),
          round(avg("nll"), 4).as("xent"))
        .localCheckpoint(eager = true) // rank + rollup both re-enter it
      val ranked = graft.engine.Merkle.numberedLeaves(
          perDoc.withColumn("k", lit(0)).withColumn("ok",
            struct(expr("CAST(round(xent * 10000) AS BIGINT)").as("xk"),
              col("doc_id"))),
          // perDoc is checkpointed above; the order-key projection is a
          // cheap per-row expression, so skip numberedLeaves' own
          // checkpoint (one fewer fixed-latency job)
          "k", "ok", "doc_id", materialize = false,
          imageCol = Some(col("ok").getField("xk")))
        .select(col("h").cast("long").as("doc_id"), col("pos"))
      val nTot = perDoc.agg(count(lit(1)).as("n"))
      perDoc.join(ranked, "doc_id").crossJoin(broadcast(nTot))
        .withColumn("bucket",
          when((col("pos") + 1) * 3 <= col("n"), "head")
            .when((col("pos") + 1) * 3 <= col("n") * 2, "middle")
            .otherwise("tail"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
          round(sum(col("xent").cast("decimal(14,4)")).cast("double") /
            count(lit(1)), 4).as("avg_xent"))
        .orderBy("source", "bucket")
    }),
    "q_cohort_ltv" -> ((s, dir) => {
      // Cohort LTV curves — the monetary companion to q_cohort_retention:
      // users grouped by first-activity week, cumulative spend per user
      // tracked by cohort age. Corpus-sized work is the per-(user, week)
      // spend rollup (one exchange); cohorts×ages is a calendar-bounded
      // grid, so the cumulative window never sees data-sized input.
      val anchor = lit("2024-01-01").cast("date")
      val uw = cat(s, dir).events
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), anchor) / 7).cast("long").as("w"),
          when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).as("spend"))
        .groupBy("user_id", "w").agg(sum("spend").as("spend"))
      val cohorts = uw.groupBy("user_id").agg(min("w").as("cw"))
      val sizes = cohorts.groupBy("cw").agg(count(lit(1)).as("cohort_users"))
      val grid = uw.join(cohorts, Seq("user_id"))
        .groupBy(col("cw"), (col("w") - col("cw")).as("age"))
        .agg(sum("spend").as("wk_spend"))
      val wcum = Window.partitionBy("cw").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.select(col("cw"), col("age"),
          sum("wk_spend").over(wcum).as("cum_spend"))
        .join(sizes, Seq("cw"))
        .select(col("cw").as("cohort_week"), col("age"), col("cohort_users"),
          round(col("cum_spend") / col("cohort_users").cast("double"), 4)
            .as("ltv_per_user"))
        .orderBy("cohort_week", "age")
    }),
    "q_churn_labels" -> ((s, dir) => {
      // Temporally-separated LABEL ENGINEERING — the supervised-dataset
      // construction step q_train_split/q_leakage_safe_split assume has
      // already happened: features from week w, label = "user inactive in
      // week w+1" (strictly future, so no leakage by construction). The
      // label join is a left join of the user-week activity grid onto
      // itself shifted one week — keyed on (user, week), so at 100 TB it
      // is one exchange of narrow keys. Output is the per-(week, label)
      // feature summary a training job samples from.
      val anchor = lit("2024-01-01").cast("date")
      val uw = cat(s, dir).events
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), anchor) / 7).cast("long").as("w"),
          col("event_type"), col("value"))
        .groupBy("user_id", "w")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purch"),
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))).as("spend"))
      val maxW = uw.agg(max("w").as("max_w"))
      val nxt = uw.select(col("user_id").as("u2"), (col("w") - 1).as("w2"))
        .distinct()
      uw.crossJoin(broadcast(maxW))
        .filter(col("w") < col("max_w")) // last week has no lookahead
        .join(nxt, col("user_id") === col("u2") && col("w") === col("w2"),
          "left")
        .select(col("w"), col("u2").isNull.cast("int").as("churned"),
          col("n_events"), col("n_purch"), col("spend"))
        .groupBy("w", "churned")
        .agg(count(lit(1)).as("n_users"),
          round(avg(col("n_events").cast("double")), 4).as("avg_events"),
          round(avg(col("n_purch").cast("double")), 4).as("avg_purchases"),
          round(avg("spend"), 4).as("avg_spend"))
        .orderBy("w", "churned")
    }),
    "q_rfm" -> ((s, dir) => {
      // RFM segmentation — the classic customer-value cube (recency /
      // frequency / monetary quintiles). All three scores come from
      // Ops.ntileExact, so there is NO single-partition window anywhere:
      // each quintile is a range exchange + offset numbering, exactly
      // ntile(5) OVER (ORDER BY …) bit-for-bit but distributed at 100×.
      // Monetary sums in DECIMAL so per-customer totals are
      // order-independent — a double sum could flip two near-tied customers
      // across engines and move them across a quintile boundary.
      val per = cat(s, dir).orders
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"), count(lit(1)).as("f"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("mon"))
      val anchor = per.agg(max("last_d").as("anchor"))
      val base = per.crossJoin(broadcast(anchor)) // 1-row frame
        .select(col("o_custkey"),
          datediff(col("anchor"), col("last_d")).as("rec"),
          col("f"), col("mon"))
      // Score 5 = best: most recent (smallest rec), most frequent, highest
      // spend. Customer key breaks every tie so the order is total.
      val r5 = Ops.ntileExact(base, 5,
        Seq(col("rec").desc, col("o_custkey")), "r_score")
      val f5 = Ops.ntileExact(r5, 5,
        Seq(col("f"), col("o_custkey")), "f_score")
      val m5 = Ops.ntileExact(f5, 5,
        Seq(col("mon"), col("o_custkey")), "m_score")
      // Segment spend stays a DECIMAL sum cast to double — dividing by the
      // segment size can land exactly on a x.xx5 rounding midpoint (sf0.001
      // hit 2537150.175) where Spark's shortest-repr HALF_UP and the
      // oracle's binary-double round disagree; the 2-decimal-exact sum
      // can't.
      m5.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("mon")).cast("double"), 2).as("sum_monetary"))
        .orderBy("r_score", "f_score", "m_score")
    }),
    "q_item_cf" -> ((s, dir) => {
      // Item-item collaborative filtering: cosine similarity over order
      // baskets (sim = c_ij / √(c_i·c_j) on exact co-occurrence counts),
      // top-5 neighbours per item via the CUSTOM bounded-heap TopKPerGroup
      // operator — no per-group sort materializes. Pair generation is the
      // basket self-join, bounded by basket size (never all-pairs in the
      // catalog), on the same deterministic 1-in-5 part subset as
      // q_triangle_count. Ranking happens on the UN-rounded cosine (both
      // engines assemble it from the same integers with the same
      // association, so the doubles agree to the bit); j breaks exact ties.
      val li = cat(s, dir).lineitem
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      val cnt = li.groupBy("pk").agg(count(lit(1)).as("c"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.okey") === col("b.okey") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("i"), col("b.pk").as("j"))
        .agg(count(lit(1)).as("cij"))
      val sym = pairs.select(col("i"), col("j"), col("cij"))
        .unionAll(pairs.select(col("j").as("i"), col("i").as("j"), col("cij")))
      val scored = sym
        .join(cnt.select(col("pk").as("i"), col("c").as("ci")), Seq("i"))
        .join(cnt.select(col("pk").as("j"), col("c").as("cj")), Seq("j"))
        .select(col("i"), col("j"), col("cij"),
          (col("cij").cast("double") /
            sqrt(col("ci").cast("double") * col("cj").cast("double")))
            .as("cos"))
      graft.plans.TopKPerGroup.topKPerGroup(scored,
          Seq(col("i")), Seq(col("cos").desc, col("j")), 5)
        .select(col("i"), col("rk"), col("j"), col("cij"),
          round(col("cos"), 6).as("cos"))
        .orderBy("i", "rk")
    }),
    "q_attribution_linear" -> ((s, dir) => {
      // Linear multi-touch attribution: each purchase distributes one unit
      // of credit equally across the user's view/click touches in the 7
      // days up to the purchase. The touch×conversion pairing is a per-user
      // range join — keyed on user_id, so at 100 TB it shuffles once on the
      // user key and the quadratic term is bounded by per-user activity,
      // never the corpus. Credit = Σ 1/k with k an exact integer per
      // purchase; the 4-decimal snap absorbs double-sum ordering.
      val e = cat(s, dir).events
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type").as("touch"),
          col("ts").as("t_ts"))
      val convs = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val pr = touches.join(convs, Seq("user_id"))
        .filter(col("t_ts") <= col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
        .select(col("touch"), col("p_id"))
      val k = pr.groupBy("p_id").agg(count(lit(1)).as("k"))
      pr.join(k, Seq("p_id"))
        .groupBy("touch")
        .agg(count(lit(1)).as("n_credited"),
          round(sum(lit(1.0) / col("k")), 4).as("credit"))
        .orderBy("touch")
    }),
    "q_wordpiece_audit" -> ((s, dir) => {
      // Greedy-vs-optimal tokenizer audit: segment every distinct corpus
      // word with BOTH decode rules over the SAME trained unigram
      // vocabulary — WordPiece's maximum-munch scan (WordPieceGreedy, the
      // BERT rule) against the Viterbi DP optimum — and measure what greedy
      // gives up: token-weighted fertility for each, the share of words
      // where greedy is score-optimal, and the mean/max log-prob gap. This
      // is the decide-your-decoder readout a tokenizer bake-off needs.
      // Both kernels are model-in-plan codegen expressions; the whole
      // output is one aggregate row. The audit panel is the top-500 glued
      // adjacent-word bigrams ("thefast") — the compound/UNK shape where
      // maximum munch actually errs by swallowing across the seam (the
      // corpus' own 31 closed-vocabulary words segment identically under
      // both rules, which would make a word-level audit vacuously perfect);
      // top-k by frequency keeps the panel bounded at any corpus size.
      // Oracle-checked end to end (UnigramOracles.wordpieceAudit unrolls
      // the EM chain + both decoders); Round8mQueriesSpec carries the full
      // plain-Scala mirror besides.
      val docs = cat(s, dir).documents
      val model = Unigram.trained(docs, "text")
      val byPiece = model.sortBy(_.piece)
      val pieces = byPiece.map(_.piece).toArray
      val lps = byPiece.map(_.logp).toArray
      val vseg = graft.functions.UnigramViterbi(col("word"), pieces, lps)
      val gseg = graft.functions.WordPieceGreedy(col("word"), pieces, lps)
      val mapLit = map_from_arrays(
        array(pieces.map(lit): _*), array(lps.map(lit): _*))
      // Σ logp over a segmentation, left-fold — the same accumulation order
      // as the DP's prefix sums, so scoreOf(viterbi seg) IS the DP optimum.
      def scoreOf(seg: org.apache.spark.sql.Column) =
        aggregate(transform(seg, p =>
          coalesce(element_at(mapLit, p),
            lit(graft.functions.UnigramViterbi.OovLogp))),
          lit(0.0), (a, x) => a + x)
      val fd = col("f").cast("double")
      val ws = split(col("text"), " ")
      val glued = docs
        .select(explode(zip_with(
          slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat(a, b))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("f"))
      graft.plans.TopKPerGroup.topKPerGroup(glued, Seq(lit(1)),
          Seq(col("f").desc, col("word")), 500)
        .select(col("f"), size(vseg).as("np_v"), size(gseg).as("np_g"),
          scoreOf(vseg).as("sc_v"), scoreOf(gseg).as("sc_g"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("sc_g") >= col("sc_v") - 1e-9, 1L).otherwise(0L))
            .as("n_greedy_optimal"),
          round(sum(fd * col("np_v")) / sum(fd), 4).as("fertility_viterbi"),
          round(sum(fd * col("np_g")) / sum(fd), 4).as("fertility_greedy"),
          // decimal sum, not avg(): the gap doubles carry ~1e-16 DP noise
          // whose double-summation order varies by partitioning; the
          // 12-decimal snap makes the mean order-independent (and hence
          // oracle-matchable) without visibly moving the round-4 output.
          round(sum((col("sc_v") - col("sc_g")).cast("decimal(28,12)"))
            .cast("double") / count(lit(1)), 4).as("avg_logp_gap"),
          round(max(col("sc_v") - col("sc_g")), 4).as("max_logp_gap"))
    }),
    "q_tokenizer_bench" -> ((s, dir) => {
      // Tokenizer bake-off capstone: corpus-level fertility (tokens/word)
      // and compression (chars/token) for all three trained tokenizer
      // families — BPE (10 merges, `</w>` sentinel counted, as
      // q_bpe_segment configures it), unigram-LM Viterbi, and WordPiece
      // maximum-munch over the unigram vocabulary. All three reduce over
      // the BOUNDED word-frequency table with exact integer sums
      // (f·n_subwords, f·chars), so the readout is deterministic and flat
      // in corpus size; the models ride their memoized trainers.
      // Oracle-checked via UnigramOracles.tokenizerBench (the EM chain +
      // both decoders + the shared BPE CTEs); Round8mQueriesSpec mirrors
      // the full table besides.
      val docs = cat(s, dir).documents
      val wf = Unigram.wordFreq(docs, "text")
      val model = Unigram.trained(docs, "text")
      val byPiece = model.sortBy(_.piece)
      val pieces = byPiece.map(_.piece).toArray
      val lps = byPiece.map(_.logp).toArray
      val (_, bpeVf) = Bpe.trained(docs, "text", 10)
      def leg(name: String, df: DataFrame) = {
        val fd = col("f").cast("double")
        df.agg(sum(col("f") * col("nt")).as("n_tokens"),
            sum("f").as("n_words"), sum(col("f") * col("nc")).as("n_chars"))
          .select(lit(name).as("tokenizer"), col("n_tokens"),
            round(col("n_tokens").cast("double") / col("n_words").cast("double"), 4)
              .as("fertility"),
            round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4)
              .as("chars_per_token"))
      }
      val uni = leg("unigram_viterbi", wf.select(col("f"),
        size(graft.functions.UnigramViterbi(col("word"), pieces, lps)).as("nt"),
        length(col("word")).as("nc")))
      val wp = leg("wordpiece_greedy", wf.select(col("f"),
        size(graft.functions.WordPieceGreedy(col("word"), pieces, lps)).as("nt"),
        length(col("word")).as("nc")))
      val bpe = leg("bpe_10merge", bpeVf.select(col("f"),
        size(col("syms")).as("nt"), length(col("word")).as("nc")))
      bpe.unionAll(uni).unionAll(wp).orderBy("tokenizer")
    }),
  )

  /** Shared held-out-panel predicate for the classifier oracles — must stay
    * textually in lock-step with [[Classify.isTestRow]]. */
  def oracleSql: Map[String, String] = OracleSql.base ++
    TpchQueries.oracleSql ++ SkewFixture.oracleSql ++
    ValuationQueries.oracleSql ++ Map(
    // The append-mode streaming deployments must land on the exact batch
    // frames - one oracle, three paths (batch / complete-mode stream /
    // watermark-evicting append stream).
    "q_stream_drift_append" -> OracleSql.base("q_stream_drift"),
    "q_stream_cms_append" -> OracleSql.base("q_stream_cms"),
    "q_stream_cms_append_restart" -> OracleSql.base("q_stream_cms"),
    // The Misra-Gries leg is oracle-EXACT on this corpus: the event-type
    // vocabulary fits the k=8 sketch, so no counter ever evicts and the
    // emitted counts ARE the exact per-day counts — the same equality
    // StreamingTrendingSpec pins against the batch ranking. On a
    // vocabulary wider than k only the sketch's superset/undercount
    // contract would hold, and this alias would have to be dropped.
    "q_stream_trending" -> OracleSql.base("q_stream_trending_append"),
    // The ANN probe family (AnnOracles): expressible since the IVF coarse
    // quantizer moved to the pinned kmeansLloyd trajectory — the persisted
    // (_indexed) path round-trips doubles through parquet, so it shares
    // q_ann_ivf's oracle verbatim.
    "q_ann_lsh" -> AnnOracles.annLsh,
    "q_ann_ivf" -> AnnOracles.annIvf,
    "q_ann_ivf_indexed" -> AnnOracles.annIvf,
    "q_ann_ivf_incremental" -> AnnOracles.annIvfIncremental,
    "q_ann_recall" -> AnnOracles.annRecall,
    "q_ann_tradeoff" -> AnnOracles.annTradeoff,
    "q_ann_ivfpq" -> AnnOracles.annIvfPq(),
    // The signature sketches (SigOracles): expressible since the declared
    // queries moved to engine-portable md5-60 hashes — the affine-mod-P
    // minima / per-bit sign-sums / slice-keyed banding all restate as
    // list-fold SQL over the same hashes.
    // The unigram-LM tokenizer family (UnigramOracles): expressible since
    // the trainer snapped its log-probs to a 6-decimal grid — the EM loop,
    // Viterbi DP, and maximum-munch all restate as recursive CTEs.
    "q_unigram_train" -> UnigramOracles.unigramTrain,
    "q_unigram_segment" -> UnigramOracles.unigramSegment,
    "q_wordpiece_audit" -> UnigramOracles.wordpieceAudit,
    "q_tokenizer_bench" -> UnigramOracles.tokenizerBench(OracleSql.bpeTrainCtes(10)),
    // The multimodal byte kernels (MediaOracles): the declared media
    // tables ride the deterministic byte-sample tier end to end, which
    // restates as hex-slice byte arithmetic.
    "q_image_phash" -> MediaOracles.imagePhash,
    "q_image_neardup" -> MediaOracles.imageNearDup,
    "q_scene_cuts" -> MediaOracles.sceneCuts,
    "q_multimodal_audio" -> MediaOracles.multimodalAudio,
    "q_simhash_sig" -> SigOracles.simhashSig,
    "q_simhash_pairs" -> SigOracles.simhashPairs,
    "q_minhash_pairs" -> SigOracles.minhashPairs(threshold = 0.2))

}
