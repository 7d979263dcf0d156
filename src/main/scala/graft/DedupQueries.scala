package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Checks, Ops, Sinks}
import graft.llm.{Bpe, Classify, Dedup, Pq, Similarity, Spectral, TextStats, Unigram}
import graft.multimodal.Multimodal
import graft.streaming.EventStreams
import SparkEntry.{cat, scratch, withPathLock, dirFingerprint}

/** Dedup / near-dup / contamination tier of the driver surface: exact and incremental dedup, span dedup and excision, MinHash/SimHash signatures and banded pairs, n-gram Jaccard/containment, substring and winnowing fingerprints, embedding-cosine near-dup, cross-source/head duplication audits.
  *
  * Extracted verbatim from [[SparkEntry.queriesBase]] (round 14) — same
  * keys, same closures, zero behavior change; the matching oracle SQL
  * stays in [[OracleSql]]. */
object DedupQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------ LLM-pipeline: dedup
    "q_dedup_exact" -> ((s, dir) => Dedup.exactStats(cat(s, dir).documents, "text")),

    "q_dup_spans" -> ((s, dir) => {
      // SUBSTRING-level duplication readout (Lee et al. 2022,
      // "Deduplicating Training Data Makes Language Models Better": exact
      // substring dup matters beyond whole-doc dup): per source, the
      // fraction of 8-token spans that also occur in at least one OTHER
      // document, plus the count of docs whose majority of spans are
      // duplicated (trim candidates). Spans via one explode (linear), span
      // document-frequency via one grouped countDistinct, joined back —
      // never a doc-pair join, so the shape is suffix-array-free and holds
      // at corpus scale (a production kernel would xxhash64 the span
      // string before the shuffle; the literal span keeps the DuckDB
      // oracle exact). The per-source fraction is the ratio of integer
      // SUMS (one division at the end), never an average of per-doc
      // doubles — order-independent by construction.
      val docs = cat(s, dir).documents
      // Spans ride the rolling-digest kernel (functions.Md5WindowHashes):
      // one codegen byte scan per doc, and the shuffle key is the 32-char
      // digest instead of the span string. distinct md5 ⇔ distinct span,
      // so the literal-span oracle's COUNTS are unchanged.
      //
      // ONE explode pass (round 17): the old groupBy(sh).countDistinct +
      // join-back planned the corpus explode TWICE (the distinct rewrite
      // keys its first exchange on (sh, doc_id) while the join leg keys on
      // sh, so ReuseExchange never fired) and aggregated at OCCURRENCE
      // level after the join. Instead: collapse to per-(sh, doc_id)
      // occurrence counts (map-side partial agg), read the distinct-doc
      // count nd off a count(*) window over the hash partition (the
      // q_ngram_novelty shape — rows per sh in the grouped frame ARE its
      // distinct docs), and roll up doc totals as sums of the grouped
      // counts. Value-identical: total = Σc over the doc's grouped rows =
      // its occurrence count; dup = Σc where nd ≥ 2 = the occurrences
      // whose span repeats in ≥ 2 docs; docs with no spans vanish with the
      // explode in both shapes.
      val sh = docs
        .select(col("doc_id"), col("source"), explode(
          graft.functions.DigestKernels.md5WindowHashes(col("text"), 8)).as("sh"))
      // source rides the GROUP KEYS, not a first() aggregate: a string in
      // the aggregation buffer forces SortAggregate (full sort of the
      // exploded stream); as a key it stays HashAggregate with map-side
      // partial agg. Cardinality is unchanged — source is functionally
      // determined by doc_id.
      val g = sh.groupBy("sh", "doc_id", "source").agg(count(lit(1)).as("c"))
      g.withColumn("nd", count(lit(1)).over(Window.partitionBy("sh")))
        .groupBy("doc_id", "source")
        .agg(sum("c").as("total"),
          sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("dup"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("dup").cast("double") / sum("total"), 4)
            .as("dup_span_frac"),
          sum(when(col("dup") * 2 > col("total"), 1L).otherwise(0L))
            .as("n_heavy"))
        .orderBy("source")
    }),

    "q_span_tiers" -> ((s, dir) => {
      // Tiered substring-duplication study — the q_dup_spans readout
      // SWEPT over 8/16/32-token windows (the remaining Lee et al. 2022
      // bookkeeping): per (source, width), how many spans exist, what
      // share are duplicated across docs, and how many TOKENS the
      // width-w excision (q_dup_span_removal semantics — cut everywhere
      // but the min-id owner) would remove. A 32-token repeat implies
      // its 8-token sub-spans repeat but not vice versa, so
      // removed_frac is non-increasing in width per source — the curve
      // a curation pass reads to pick its excision window (asserted in
      // Round11QueriesSpec). ALL THREE tiers ride ONE span explode and
      // ONE (width, hash)-keyed grouped aggregate — never a doc-pair
      // join (the q_dup_spans scale contract), and the shuffle carries
      // md5 span digests, not the up-to-32-token span strings (6×
      // narrower; the per-tier formulation paid 3 separate full-string
      // shuffles + 3 checkpoints — measured ~5.1s → ~2.8s at sf0.1).
      // Aggregates are identical under digest keys: distinct md5 ⇔
      // distinct span (the md5ShingleHashes discipline), so the
      // literal-span oracle is unchanged.
      val spanWidths = Seq(8, 16, 32)
      // Digests come from the rolling kernel (one codegen byte scan per
      // doc per width — no token-array transform lambdas); the checkpoint
      // carries raw text + a precomputed token count, so the grid never
      // re-splits and the span stage never re-reads parquet.
      val base = cat(s, dir).documents
        .select(col("doc_id"), col("source"), col("text"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"))
        .localCheckpoint(eager = true)
      // n_spans is ARITHMETIC, not a count over the hash join: the rolling
      // kernel emits exactly max(n_tok − w + 1, 0) digests per doc
      // (Md5WindowHashes.compute), so the per-(source, width) span count
      // folds into the grid aggregation over the checkpointed token
      // counts — the downstream join can then carry only DUPLICATED
      // hashes instead of every span occurrence (round 16).
      val gridAggs = sum(col("n_tok")).cast("bigint").as("n_tokens") +:
        spanWidths.map(w => sum(greatest(col("n_tok") - (w - 1), lit(0L)))
          .cast("bigint").as(s"ns$w"))
      val grid = base.groupBy("source")
        .agg(gridAggs.head, gridAggs.tail: _*)
        .withColumn("width", explode(array(spanWidths.map(lit): _*)))
        .withColumn("n_spans",
          spanWidths.tail.foldLeft(when(col("width") === spanWidths.head,
              col(s"ns${spanWidths.head}"))) {
            (acc, w) => acc.when(col("width") === w, col(s"ns$w"))
          })
      val sh = base
        .select(col("doc_id"), col("source"), explode(flatten(array(
          spanWidths.map { w =>
            transform(graft.functions.DigestKernels.md5WindowHashes(col("text"), w),
              (h, i) => struct(lit(w).as("width"),
                (i + lit(1)).cast("int").as("pos"), h.as("h")))
          }: _*))).as("s"))
        .select(col("doc_id"), col("source"), col("s.width").as("width"),
          col("s.pos").as("pos"), col("s.h").as("h"))
      val st = sh.groupBy("width", "h")
        .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("owner"))
        .localCheckpoint(eager = true) // feeds both aggregates below
      // Only DUPLICATED hashes re-enter from the checkpointed stats frame:
      // the inner join drops singleton spans (most of the corpus), so both
      // consumers below aggregate a frame of dup occurrences, not every
      // span. n_spans no longer rides this join at all (grid arithmetic
      // above); n_dup = the join's row count per (source, width).
      val joined = sh.join(st.filter(col("nd") >= 2), Seq("width", "h"))
      val spanAgg = joined.groupBy("source", "width")
        .agg(count(lit(1)).as("n_dup"))
      // Removed-token accounting stays the position explode +
      // dropDuplicates formulation: an interval-merge rewrite (the
      // q_interval_merge gaps-and-islands shape — window per (doc_id,
      // width), each span contributing only positions past the running
      // max of previous ends) was tried in round 16 and REVERTED on
      // measurement: 1.56 → 2.00s min over paired fixed-run probes
      // (+29%). At this corpus's dup density the w× position explode is
      // cheap enough that the window's per-(doc,width) sort exchange
      // costs more than the dropDuplicates it replaces.
      val removed = joined
        .filter(col("owner") =!= col("doc_id")) // nd >= 2 already applied
        .select(col("doc_id"), col("source"), col("width"),
          explode(sequence(col("pos"), col("pos") + col("width") - 1)).as("p"))
        .dropDuplicates("doc_id", "width", "p")
        .groupBy("source", "width").agg(count(lit(1)).as("removed"))
      grid.join(spanAgg.join(removed, Seq("source", "width"), "left"),
          Seq("source", "width"), "left")
        .select(col("source"), col("width"), col("n_spans"),
          when(col("n_spans") > 0,
            round(coalesce(col("n_dup"), lit(0L)).cast("double") /
              col("n_spans"), 4))
            .otherwise(lit(0.0)).as("dup_span_frac"),
          col("n_tokens"),
          coalesce(col("removed"), lit(0L)).as("removed_tokens"),
          round(coalesce(col("removed"), lit(0L)).cast("double") /
            col("n_tokens"), 4).as("removed_frac"))
        .orderBy("source", "width")
    }),

    "q_dup_span_removal" -> ((s, dir) => {
      // The Lee et al. span-removal TRANSFORMATION (q_dup_spans measures;
      // this excises): every token covered by an 8-token span occurring
      // in >= 2 DISTINCT docs is cut, except in the span's first owner
      // (min doc_id). Excisions compose by POSITION (overlapping
      // duplicated spans from different owners can cut into an owned
      // copy — the byte-range semantics; intra-doc-only repeats are
      // untouched): see Dedup.removeDupSpans for the precise contract.
      // Suffix-array-free: span
      // explode + one grouped (df, owner) aggregate + anti-join; see
      // Dedup.removeDupSpans. DedupSpansSpec pins idempotence (a second
      // pass changes nothing).
      Dedup.removeDupSpans(cat(s, dir).documents)
        .orderBy("doc_id")
    }),

    "q_dedup_keepfirst" -> ((s, dir) => {
      Dedup.exact(cat(s, dir).documents, "text", Seq(col("doc_id")))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_minhash_pairs" -> ((s, dir) =>
      // The engine-portable restatement (md5-60 gram hashes, slice-keyed
      // banding): same staging and scale shape as the xxhash64 path, and
      // the DuckDB oracle re-derives signatures, candidates, and verified
      // pairs end to end (SigOracles.minhashPairs).
      Dedup.minhashNearDupsPortable(cat(s, dir).documents, "doc_id", "text",
        threshold = 0.2)),

    "q_simhash_sig" -> ((s, dir) => {
      // Portable signature (md5-60 token hashes through the same sign-sum
      // kernel) so the oracle recomputes every bit; see reference
      // server/server.js:530-735 for the ingest the near-dup gate fronts.
      cat(s, dir).documents
        .select(col("doc_id"), Dedup.simhashPortable(col("text")).as("sig"))
        .orderBy("doc_id")
    }),

    "q_simhash_pairs" -> ((s, dir) => {
      // Top-20 closest candidate pairs under the chunk-blocking join —
      // deterministic (dist, id) order, non-empty even when the corpus has
      // no true near-dups at small SF. Portable signatures feed the SAME
      // hamming64Pairs engine, so the blocking semantics stay the
      // production ones while the oracle re-derives the candidate set.
      val sigs = cat(s, dir).documents
        .select(col("doc_id").as("id"), Dedup.simhashPortable(col("text")).as("sig"))
      Dedup.hamming64Pairs(sigs, maxHamming = 64, chunks = 4)
        .orderBy(col("dist"), col("id_a"), col("id_b")).limit(20)
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // 3-gram Jaccard over consecutive doc_id pairs — the blocked-pair shape
      // ngramJaccard is meant for (blocking here = id adjacency, SQL-expressible
      // so the DuckDB oracle can verify the kernel exactly).
      val d = cat(s, dir).documents
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("text").as("tb"))
      val joined = a.join(b, "id_a")
      joined.select(col("id_a"), col("id_b"),
          Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("jaccard"))
        .orderBy("id_a")
    }),

    "q_ngram_containment" -> ((s, dir) => {
      // Asymmetric containment over the same adjacent-pair blocking as
      // q_ngram_jaccard: cont_ab = |A∩B|/|A| flags A quoted inside B (and
      // cont_ba the reverse) — the subset-duplication signal a symmetric
      // Jaccard dilutes toward |A|/|B|. The curation rule that drops
      // quote-inflated near-copies keys on this, not on Jaccard.
      val d = cat(s, dir).documents
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
        col("text").as("tb"))
      val joined = a.join(b, "id_a")
      joined.select(col("id_a"), col("id_b"),
          Dedup.ngramContainment(col("ta"), col("tb"), 3).as("cont_ab"),
          Dedup.ngramContainment(col("tb"), col("ta"), 3).as("cont_ba"))
        .orderBy("id_a")
    }),

    "q_substr_dup" -> ((s, dir) => {
      // Exact substring-duplication audit — the windowed-hash core of
      // suffix-style training-data dedup (Lee et al. 2022): hash a 40-char
      // window every 10 chars, a window is duplicated iff its hash occurs
      // in >= 2 documents, report each doc's duplicated-window fraction.
      // Scale shape: one explode then two aggregations keyed on the hash —
      // only the narrow (doc_id, h) frame ever shuffles, never the text,
      // and the dup-hash set is the output of a partial-agg'd groupBy, not
      // a collected driver set.
      val w = 40; val stride = 10
      val wins = cat(s, dir).documents
        .filter(col("source") === "src0")
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, greatest(length(text) - $w + 1, 1), $stride), " +
          s"i -> md5(substring(text, i, $w)))")).as("h"))
      val dup = wins.groupBy("h").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("h")
      wins.join(dup.withColumn("is_dup", lit(1)), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_win"),
          coalesce(sum("is_dup"), lit(0)).cast("bigint").as("n_dup"),
          round(coalesce(sum("is_dup"), lit(0)) / count(lit(1)), 4).as("dup_frac"))
        .orderBy("doc_id")
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      // Pairs → clusters: docs sharing a gram that occurs in exactly two
      // documents form an edge; connected components label each doc with its
      // cluster representative (min reachable doc_id). The edge rule is
      // SQL-expressible, so DuckDB's recursive CTE verifies the whole
      // transitive closure. The graph is the session-memoized dup graph
      // (one shard: keeps the bench graph proportional; the operator itself
      // has no such limit) — seven queries share one build.
      Dedup.dupGraphComponents(
          cat(s, dir).documents.filter(col("source") === "src0"))
        .orderBy("id")
    }),

    "q_dedup_drop" -> ((s, dir) => {
      // The dedup ENDGAME, not just pair/cluster discovery: the memoized
      // dup-graph edges, then connected components, then keep one
      // representative (min id) per cluster plus every unclustered doc.
      // Only the narrow loser-id list is exchanged; the corpus stays put
      // behind a left-anti join.
      val docs = cat(s, dir).documents.filter(col("source") === "src0")
      Dedup.dropByComponents(docs, "doc_id", Dedup.dupGraphEdges(docs))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    "q_cosine_neardup" -> ((s, dir) => {
      // The LSH-pruned scale path at a true near-dup threshold, with
      // AUTO-TUNED banding: (bands, planes) solve from the corpus size and
      // a 95% recall floor (Similarity.lshParamsFor), so the expected
      // random-collision candidates stay ≤ 4·n as the corpus grows — a
      // FIXED 32×16 left an n²·2⁻¹⁶ residue the sf0.1→sf1 probe measured
      // at exponent 1.19; with r rising ∝ log₂(n) the operator is linear
      // by construction. This corpus has no planted near-dups (max
      // pairwise cosine 0.60 at sf0.1, DuckDB-verified), so the provably-
      // correct result is the empty set — the all-pairs oracle agrees, and
      // SimilaritySpec's planted-pair test pins that the same path DOES
      // surface a real duplicate. The DECLARED query solves for a 99.9%
      // recall floor (not the operator's 95% default): its oracle is exact
      // all-pairs, so if a future testdata regeneration plants ≥0.95
      // pairs, the per-pair miss probability is ≤1e-3 instead of 5% — the
      // hash-match stays deterministic in practice rather than coupling
      // the harness to "no near-dups exist".
      val e = cat(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val (bands, planes) = Similarity.lshParamsFor(e.count(), threshold = 0.95,
        targetRecall = 0.999)
      Similarity.cosineNearDups(e, "vec_id", "embedding",
        threshold = 0.95, bands = bands, planesPerBand = planes)
    }),

    "q_cosine_simjoin" -> ((s, dir) => {
      // Exact cosine similarity join BELOW the near-dup regime (0.4): on
      // near-random embeddings no sublinear candidate generator can prune
      // here (p(0.4)=0.63 vs p(random)=0.5 — banding admits everything), so
      // the honest formulation IS the all-pairs verify tier: grid-blocked
      // pair enumeration with precomputed norms, memory bounded at 2/B of
      // the panel per task, with cosineNearDups as the near-dup scale path.
      // BOUNDED PANEL (the q_semantic_dedup pattern): unbounded over the
      // full table the probe measured 0.9s→84.6s sf0.1→sf1 (92.7×,
      // exponent 1.97) — O(n²) in corpus size never survives a scale-up,
      // so the DECLARED query audits an explicit id-capped panel (flat
      // cost in corpus size); cosineAllPairs itself stays available as
      // the unbounded verify-tier kernel for callers who scope their own.
      val e = cat(s, dir).embeddings
        .filter(col("vec_id") < 2500)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Similarity.cosineAllPairs(e, "vec_id", "embedding", threshold = 0.4)
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // Embedding-space dedup ENDGAME — the q_dedup_drop parallel for
      // vectors: exact cosine edges at the 0.4 verify-tier threshold (the
      // documented all-pairs tier; cosineNearDups is the scale path at true
      // near-dup thresholds), connected components over them, keep each
      // cluster's min-id representative plus every unclustered vector.
      // Only the narrow loser-id list is exchanged; the vector table never
      // re-shuffles — the same anti-join shape as the text-side endgame.
      // BOUNDED PANEL (the q_minhash_recall pattern): the exact-edge stage
      // is O(panel²) by construction, so the audit runs over an explicit
      // id-capped panel and its cost is FLAT in corpus size (measured
      // sf0.1→sf1 unbounded: 2.2s→187s, exponent 1.92 — the bound is what
      // makes a verify-tier composition shippable in a 100 TB suite).
      val e = cat(s, dir).embeddings
        .filter(col("vec_id") < 2000)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val edges = Similarity.cosineAllPairs(e, "vec_id", "embedding", threshold = 0.4)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      Dedup.dropByComponents(e, "vec_id", edges)
        .select("vec_id").orderBy("vec_id")
    }),

    "q_contamination" -> ((s, dir) => {
      // Benchmark decontamination: eval docs (source='src0' stands in for
      // the held-out set) sharing any 8-token shingle with a train doc.
      // Shingles are hashed BEFORE the join so the candidate shuffle carries
      // fixed-width keys, never the token windows themselves (at corpus
      // scale: xxhash64 → 8-byte keys; md5 here for engine-portable hashes).
      // Distinct-per-doc first, so a shingle repeated inside one doc joins
      // once.
      val sh = TextStats.md5ShingleHashes(cat(s, dir).documents, "text", 8,
        "doc_id", "source")
      val ev = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_id"), col("h")).distinct()
      val tr = sh.filter(col("source") =!= "src0")
        .select(col("doc_id").as("train_id"), col("h")).distinct()
      ev.join(tr, "h").groupBy("eval_id")
        .agg(countDistinct("train_id").as("n_train_docs"))
        .orderBy("eval_id")
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // Incremental ingest dedup: new docs (doc_id%10=0 stands in for the
      // arriving batch) are dropped when their content hash already exists
      // in the corpus — one LEFT ANTI join on a fixed-width digest, the
      // append-only alternative to re-deduplicating the whole corpus per
      // batch. Only (id, digest) pairs shuffle, never text.
      val d = cat(s, dir).documents.select(col("doc_id"), md5(col("text")).as("h"))
      d.filter(col("doc_id") % 10 === 0)
        .join(d.filter(col("doc_id") % 10 =!= 0), Seq("h"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),

    "q_dedup_keep_best" -> ((s, dir) => {
      // Quality-aware dedup endgame: within each near-dup cluster keep the
      // LONGEST doc (ties → min id), not an arbitrary representative — the
      // curation rule that preserves the best copy. Same SQL-expressible
      // edge rule as q_dedup_clusters → connected components; winners come
      // from the bounded-heap TopKPerGroup (k=1 per cluster, no per-cluster
      // sort); non-winners form a narrow id list for one anti join.
      val docs = cat(s, dir).documents.filter(col("source") === "src0")
      val comps = Dedup.dupGraphComponents(docs)
      val members = comps.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      val winners = graft.plans.TopKPerGroup.topKPerGroup(members,
          Seq(col("comp")), Seq(col("n_chars").desc, col("id").asc), 1)
        .select(col("id"))
      val losers = members.select(col("id"))
        .join(winners, Seq("id"), "left_anti")
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    "q_winnow_fingerprint" -> ((s, dir) => {
      // Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
      // algorithm behind the production q_fingerprint kernel) as a
      // first-class ORACLE-CHECKED query, the q_minhash_recall pattern: the
      // production kernel hashes grams with xxhash64 (engine-specific,
      // rows-only), but the algorithm is portable arithmetic once gram
      // hashes are md5-derived. The emitted SET of window minima is
      // tie-rule-insensitive (tied minima have equal VALUES, and duplicates
      // collapse under distinct), so sorted-distinct fingerprints match
      // across engines exactly. Grams here are POSITIONAL (no distinct):
      // winnowing is defined over the document-order hash sequence.
      val (k, w) = (3, 4)
      val hs = transform(TextStats.wordGramsPositional(col("text"), k),
        g => conv(substring(md5(g), 1, 7), 16, 10).cast("bigint"))
      // repartition barrier (the minhash-signature pattern): without it
      // CollapseProject inlines the md5 hash-array expression into EVERY
      // window-min lambda — O(len²) md5 evaluations per doc (measured 8.5s
      // for this 200-doc panel; 0.4s with the barrier).
      val hashed = cat(s, dir).documents.filter(col("doc_id") < 200)
        .select(col("doc_id"), hs.as("hs"))
        .repartition(col("doc_id"))
      val fps = when(size(col("hs")) < w, array(array_min(col("hs"))))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(col("hs")) - lit(w - 1)),
          j => array_min(slice(col("hs"), j, lit(w))))))
      hashed.select(col("doc_id"), explode(fps).as("fp"))
        .orderBy("doc_id", "fp")
    }),

    "q_ngram_novelty" -> ((s, dir) => {
      // First-seen novelty scoring: for each doc, the fraction of its
      // DISTINCT 5-token shingles whose corpus-wide first owner (min doc_id)
      // is this doc — the incremental-crawl signal ("how much of this page
      // is new text?") that curation pipelines threshold before admitting a
      // document. Shingles are md5-hashed BEFORE any shuffle (fixed-width
      // keys), first-owner is a window MIN over the hash partition (no
      // second join back), and the per-doc rollup is a plain count/sum —
      // three fixed-width-key exchanges, no row ever carries window text.
      val sh = TextStats.md5ShingleHashes(cat(s, dir).documents, "text", 5,
        "doc_id").dropDuplicates("doc_id", "h")
      val first = sh.withColumn("first_id",
        min("doc_id").over(Window.partitionBy("h")))
      first.groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles"), 4))
        .orderBy("doc_id")
    }),

    "q_dup_inflation" -> ((s, dir) => {
      // Repeated-window inflation accounting (the bookkeeping behind Lee et
      // al.'s "Deduplicating Training Data Makes Language Models Better"):
      // per source, how many of its 8-token windows are REPEATS of a window
      // already seen in the same source — the token-budget inflation a
      // substring-level dedup pass would reclaim. Windows are md5-hashed
      // positionally (no per-doc distinct — every occurrence counts), so
      // the only corpus-wide shuffle carries fixed-width (source, h) keys
      // with map-side partial counts; the rollup to 5 source rows is free.
      val sh = TextStats.md5ShingleHashes(cat(s, dir).documents, "text", 8,
        "source")
      sh.groupBy("source", "h").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_windows"),
          count(lit(1)).as("n_distinct"))
        .withColumn("n_dup", col("n_windows") - col("n_distinct"))
        .withColumn("inflation",
          round(col("n_dup").cast("double") / col("n_windows"), 4))
        .orderBy("source")
    }),

    "q_cross_source_dup" -> ((s, dir) => {
      // Cross-source contamination matrix: for every ordered source pair
      // (a, b), the fraction of a's DISTINCT 8-token windows that also occur
      // in b — the directional "how much of dataset A is already inside
      // dataset B" audit run before mixing corpora. The corpus-sized work is
      // ONE distinct over fixed-width (source, h) keys; the h-equality
      // self-join fans out at most #sources rows per gram, and the full
      // S×S matrix (with zero rows kept) assembles from frames of ≤S²
      // rows, joined broadcast.
      val sh = TextStats.md5ShingleHashes(cat(s, dir).documents, "text", 8,
        "source").dropDuplicates("source", "h")
      val counts = sh.groupBy("source").agg(count(lit(1)).as("n_grams"))
      val shared = sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
      val pairs = counts.select(col("source").as("source_a"),
          col("n_grams").as("n_a"))
        .crossJoin(broadcast(counts.select(col("source").as("source_b"))))
        .filter(col("source_a") =!= col("source_b"))
      pairs.join(broadcast(shared), Seq("source_a", "source_b"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("containment",
          round(col("n_shared").cast("double") / col("n_a"), 4))
        .select("source_a", "source_b", "n_a", "n_shared", "containment")
        .orderBy("source_a", "source_b")
    }),

    "q_head_dup" -> ((s, dir) => {
      // Truncated-recrawl detection: cluster documents on the hash of their
      // FIRST 8 tokens. Same head + different lengths is the signature of a
      // page captured at different depths (pagination, paywall cut, partial
      // fetch) — a family exact dedup misses entirely and near-dup only
      // catches when the overlap dominates. One row of fixed-width
      // (h8, len) per doc ever shuffles; the rollup is a plain groupBy.
      val heads = cat(s, dir).documents
        .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), col("n_chars"),
          expr("md5(array_join(slice(w, 1, 8), ' '))").as("h8"))
      heads.groupBy("h8")
        .agg(min("doc_id").as("first_doc"), count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .filter(col("n_docs") >= 2)
        .withColumn("len_spread", col("max_chars") - col("min_chars"))
        .select("first_doc", "n_docs", "min_chars", "max_chars", "len_spread")
        .orderBy("first_doc")
    }),

  )
}
