package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Ops

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2.12 Y1/Y2 and
  * the north-star mandate): exact, MinHash+LSH (Broder, "On the resemblance
  * and containment of documents", SEQUENCES'97), SimHash (Charikar,
  * "Similarity estimation techniques from rounding algorithms", STOC'02),
  * n-gram Jaccard.
  *
  * Scale design (100 TB): every variant avoids the O(n²) all-pairs
  * comparison. Exact dedup is one hash-partitioned shuffle on the digest.
  * MinHash/LSH and SimHash reduce candidate generation to equality joins on
  * band/bucket keys — only same-bucket pairs are ever compared, and the
  * verify step runs on the (small) candidate set.
  */
object Dedup {

  /** Content digest used as the exact-dedup key. */
  def digest(text: Column): Column = md5(text.cast("binary"))

  /** Exact-substring span REMOVAL (Lee et al. 2022's dedup
    * transformation, at `width`-token granularity): every token covered by
    * a span that also occurs in ANOTHER document (cross-doc duplicates
    * only — a span repeated solely within one doc is untouched, since
    * df counts DISTINCT docs) is EXCISED, except in the span's first
    * owner (min doc_id), which keeps its copy. The precise guarantee is
    * therefore: a non-owner's copy of a cross-doc duplicated span never
    * survives, and an owner's copy survives UNLESS one of its tokens is
    * also covered by an OVERLAPPING duplicated span the doc does not own
    * — overlapping excisions compose by position, the Lee et al.
    * byte-range semantics, not span-atomically. This is the
    * transformation q_dup_spans only *measures*.
    *
    * Scale shape (suffix-array-free, never a doc-pair join): spans explode
    * linearly with position, span document-frequency + first owner come
    * from ONE grouped aggregate, losers' span starts explode into ≤width
    * covered positions, and the surviving tokens reassemble per doc with a
    * single sort-free collect_list + array_sort (positions are unique, so
    * the struct sort is total). A production kernel would xxhash64 the
    * span before the shuffle; the literal span string keeps the DuckDB
    * oracle exact — the q_dup_spans trade.
    *
    * Returns (idCol, n_before, n_after, text_clean); docs shorter than
    * `width` tokens pass through unchanged, a fully-excised doc comes back
    * as the empty string. Idempotent on real corpora (DedupSpansSpec pins
    * it): after one pass a duplicated span's only survivor is its owner,
    * so a second pass finds duplicates only among junction spans newly
    * formed by excision — width-8 junctions collide with vanishing
    * probability. */
  def removeDupSpans(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", width: Int = 8): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("tk"))
    val spans = base.filter(size(col("tk")) >= width)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("tk")) - (width - 1)),
          i => struct(i.as("pos"),
            array_join(slice(col("tk"), i, lit(width)), " ").as("sh"))))
        .as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.sh").as("sh"))
    val stats = spans.groupBy("sh")
      .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("owner"))
    val covered = spans.join(stats, "sh")
      .filter(col("nd") >= 2 && col("owner") =!= col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (width - 1))).as("p"))
      .distinct()
    val toks = base.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("w"))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_after"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("w")))),
          x => x.getField("w")), " ").as("text_clean"))
    base.select(col("doc_id"), size(col("tk")).cast("bigint").as("n_before"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Exact dedup: keep the first row per digest under a deterministic
    * tiebreak (Y1). One shuffle on the digest — the partial/final hash
    * aggregate handles arbitrary scale. */
  def exact(df: DataFrame, textCol: String, tiebreak: Seq[Column]): DataFrame =
    Ops.dedupKeepFirst(df.withColumn("__digest", digest(col(textCol))),
      Seq(col("__digest")), tiebreak).drop("__digest")

  /** Accounting summary for an exact-dedup pass: total / kept / removed. */
  def exactStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total"),
      countDistinct(digest(col(textCol))).as("kept"),
      (count(lit(1)) - countDistinct(digest(col(textCol)))).as("removed"))

  // ---------------------------------------------------------------- MinHash

  /** k-token shingles of a text column (the MinHash input set). Native
    * codegen'd kernel; hash values identical to the declarative
    * `array_distinct(transform(seq, i => xxhash64(concat_ws(" ",
    * slice(toks, i+1, k)))))` it replaced. */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.ArrayKernels.shingleHashes(split(text, "\\s+"), k)

  /** MinHash signature (array of n minima) over the shingle hashes. Native
    * codegen'd kernel (graft.functions.MinHashSignature) — the
    * higher-order-function formulation (transform-in-transform) evaluates
    * interpreted closures numHashes × shingles times per row, ~100× slower. */
  def minhashSignature(shingleHashes: Column, n: Int = 128, seed: Long = 42L): Column =
    graft.functions.ArrayKernels.minhash(shingleHashes, n, seed)

  /** LSH banding: split the signature into `bands` bands of `rows` values,
    * hash each band → array of bucket keys, index = band number. Docs sharing
    * any (band, bucket) are candidate pairs. Native codegen'd kernel — the
    * declarative version (transform + slice.cast(array<string>) + xxhash64)
    * spent ~15µs/band on interpreted casts. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    graft.functions.ArrayKernels.lshBandHashes(sig, bands, rows)

  /** xxhash MinHash band keys of a signature: `bands` bands of
    * numHashes / bands minima, each hashed to one key. [[minhashNearDups]]
    * and the stream detector ([[graft.streaming.StreamingNearDup]]) band
    * with this one column, so a document falls in the same buckets in both. */
  private[graft] def minhashBandKeys(sig: Column, numHashes: Int, bands: Int): Column =
    lshBands(sig, bands, numHashes / bands)

  /** Exact Jaccard |A∩B| / |A∪B| of two hash sets, rounded to 4 decimals:
    * the verify score of both MinHash operators and of [[ngramJaccard]].
    * Two empty sets score 0. */
  private def jaccard(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") /
          greatest(size(array_union(a, b)), lit(1)), 4)

  /** Near-duplicate pairs via MinHash + LSH, verified with the exact
    * Jaccard over shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, jaccard >= threshold, ordered by (id_a, id_b).
    * `minhash=128, bands=32, rows=4` targets ~0.5 Jaccard sensitivity.
    *
    * The shingle table is persisted: the signature stage and both verify
    * joins read it, and without the cache the scan and shingle stage run
    * 3×. The cache entry outlives the call (the result is lazy, so this
    * method cannot unpersist); long-lived sessions sweeping many thresholds
    * should clear it with `spark.catalog.clearCache()` between sweeps. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5, k: Int = 3,
                      numHashes: Int = 128, bands: Int = 32,
                      seed: Long = 42L): DataFrame =
    minhashPairs(df, idCol, shingles(col(textCol), k), threshold, numHashes, seed)(
      minhashBandKeys(_, numHashes, bands))

  /** The staging both MinHash operators share, ahead of [[lshPairs]]: the
    * persisted (id, sh) table of non-empty shingle sets, and each set's
    * signature behind a repartition(id). `bandKeys` cuts a signature into
    * its band keys; pairs are verified by the exact [[jaccard]]. */
  private def minhashPairs(df: DataFrame, idCol: String, shingleSet: Column,
                           threshold: Double, numHashes: Int, seed: Long)(
                           bandKeys: Column => Column): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingleSet.as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // repartition = an optimizer barrier as much as a distribution choice:
    // without it CollapseProject inlines the 128-hash signature expression
    // into the band-key expression, and the portable slice lambda then
    // recomputes it per band (32×/row).
    val sigs = sh.select(col("id"), minhashSignature(col("sh"), numHashes, seed).as("sig"))
      .repartition(col("id"))
    lshPairs(sigs, col("id"), bandKeys(col("sig")), sh,
      "jaccard", jaccard(col("sh_a"), col("sh_b")), threshold)
  }

  /** Candidate stage of banded LSH: the narrow (id, band, key) table of
    * `rows`, one row per element of the `bandKeys` array, joined to itself
    * on (band, key). Returns each (id_a, id_b) with id_a < id_b once,
    * though a pair may share several bands. It is an equality shuffle join,
    * never a cross join, and no payload rides it. */
  private[graft] def lshCandidates(rows: DataFrame, id: Column, bandKeys: Column): DataFrame = {
    val banded = rows.select(id.as("id"), posexplode(bandKeys).as(Seq("band", "key")))
    banded.alias("a")
      .join(banded.alias("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Banded LSH near-duplicate pairs, the one pipeline behind the MinHash
    * and cosine operators: [[lshCandidates]], then the verify stage.
    * `payload` (an `id` column plus the columns `score` reads) joins back
    * once per side, its columns suffixed `_a` and `_b`, so it is touched
    * only for the candidates. Returns (id_a, id_b, `scoreName`) where
    * `score` >= threshold, ordered by (id_a, id_b). */
  private[llm] def lshPairs(rows: DataFrame, id: Column, bandKeys: Column,
                            payload: DataFrame, scoreName: String, score: Column,
                            threshold: Double): DataFrame = {
    def side(s: String) =
      payload.select(payload.columns.toIndexedSeq.map(c => col(c).as(c + s)): _*)
    lshCandidates(rows, id, bandKeys)
      .join(side("_a"), "id_a").join(side("_b"), "id_b")
      .withColumn(scoreName, score)
      .filter(col(scoreName) >= threshold)
      .select("id_a", "id_b", scoreName)
      .orderBy("id_a", "id_b")
  }

  // ------------------------------------------------- portable (md5) hashes

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5, parsed
    * base-16 — always positive (< 2⁶⁰), identical in Spark (`conv`) and
    * DuckDB (`CAST(concat('0x', …) AS BIGINT)`). The repo-wide discipline
    * (md5ShingleHashes, the mix gate): md5 keeps a hash oracle-checkable;
    * xxhash64 is Spark-only. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** md5-portable shingle hashes: distinct k-token grams (wordGrams' short-
    * text clamp — exactly the ShingleHashes gram rule) hashed to 60 bits.
    * The oracle-checkable input to [[minhashNearDupsPortable]]. */
  def md5Shingles(text: Column, k: Int = 3): Column =
    transform(TextStats.wordGrams(text, k), md5Hash60(_))

  /** [[minhashNearDups]] restated on engine-portable hashes end to end —
    * md5-60 gram hashes, the SAME affine-mod-P signature kernel, and band
    * keys that are the raw signature SLICES (equal slices ⇔ equal buckets,
    * definitionally — the hashed bucket key is only a width optimization),
    * so a DuckDB oracle re-derives the candidate set and the verified
    * pairs bit-for-bit. Same staging, scale shape and shingle cache as the
    * xxhash64 path, so the same `spark.catalog.clearCache()` advice holds. */
  def minhashNearDupsPortable(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double = 0.5, k: Int = 3,
                              numHashes: Int = 128, bands: Int = 32,
                              seed: Long = 42L): DataFrame = {
    val rows = numHashes / bands
    minhashPairs(df, idCol, md5Shingles(col(textCol), k), threshold, numHashes, seed)(sig =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => slice(sig, b * lit(rows) + lit(1), lit(rows))))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token stream: per bit, sum +1/-1 weighted by each
    * token-hash's bit, take the sign. Native codegen'd kernel
    * (graft.functions.SimHash64) — per-row, no shuffle; values identical to
    * the declarative fold it replaced. */
  def simhash(text: Column): Column =
    graft.functions.ArrayKernels.simhash(split(text, "\\s+"))

  /** [[simhash]] over md5-portable 60-bit token hashes (the same sign-sum
    * bit rule, hashing lifted out) — bits 60..63 are structurally 0 (the
    * hash is 60-bit wide, so their sign-sums are −n), and the signature is
    * DuckDB-oracle-checkable as a per-bit sign-sum over the same hashes. */
  def simhashPortable(text: Column): Column =
    graft.functions.ArrayKernels.simhashOfHashes(
      transform(split(text, "\\s+"), md5Hash60(_)))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = call_function("bit_count", a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: block on the 4 16-bit chunks (two
    * docs within Hamming distance 3 must share at least one chunk —
    * pigeonhole), then verify the full distance. Equality join per chunk,
    * never a cross join.
    *
    * A pair colliding in several chunks would surface once per collision;
    * instead of a dropDuplicates — a full shuffle of the (quadratic-in-
    * bucket-occupancy) candidate stream — each row is kept iff its chunk is
    * the FIRST where the two sigs agree, decidable per-row from the sigs
    * alone (bit ops, codegen'd). The only exchange in this operator is the
    * narrow (chunk_idx, chunk) candidate join itself. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // repartition barrier: keep the token-fold simhash from being inlined
    // into (and recomputed for) each of the 4 exploded chunk rows.
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .repartition(col("id"))
    hamming64Pairs(sigs, maxHamming, chunks = 4)
  }

  /** Chunk-blocked Hamming-neighbor pairs over ANY (id, sig) frame of
    * 64-bit signatures — the shared engine behind [[simhashNearDups]] (text)
    * and the perceptual-hash image near-dup path. Recall is exact by
    * pigeonhole when `maxHamming < chunks` (maxHamming flips can't touch
    * every one of `chunks` disjoint slices) — callers wanting the exact
    * regime pick the chunk count for their radius (4×16-bit for ≤3,
    * 8×8-bit for ≤7); above that boundary the blocking is a recall-lossy
    * candidate generator (a pair may differ in every chunk), the documented
    * trade of wide-radius SimHash search. Per-row first-collision filter
    * instead of a dropDuplicates over the candidate stream; the narrow
    * (chunk_idx, chunk) equality join is the operator's only exchange. */
  def hamming64Pairs(sigs: DataFrame, maxHamming: Int,
                     chunks: Int = 4): DataFrame = {
    require(64 % chunks == 0, s"chunks must divide 64: $chunks")
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val bits = 64 / chunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    // Materialization barrier: every branch below references the sig frame,
    // and an inlined sig expression (simhash token fold, dHash of a binary
    // payload) would otherwise recompute per reference; the narrow exchange
    // is computed once and shared via ReuseExchange.
    val m = sigs.select(col("id"), col("sig")).repartition(col("id"))
    // EXACT-DUP COLLAPSE before the search: the chunk join is quadratic in
    // per-bucket occupancy, and a corpus with heavy exact duplication
    // (replicated docs hash to identical sigs) multiplies every bucket's
    // occupancy by the duplication factor — the sf1 probe measured 50k docs
    // collapsing to 10k distinct sigs, i.e. 91M candidate pairs where the
    // distinct-sig search needs 3M. Identical sigs are trivially Hamming 0,
    // so they re-enter as output-sized group expansions, never as
    // candidate-stage work.
    val d = m.select("sig").distinct()
    val chunked = d
      .withColumn("chunk_idx", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn("chunk", call_function("shiftright", col("sig"), col("chunk_idx") * bits)
        .bitwiseAND(lit(mask)))
    val a = chunked.select(col("chunk_idx"), col("chunk"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"), col("sig").as("sig_b"))
    def chunkOf(sig: Column, j: Int): Column =
      shiftright(sig, j * bits).bitwiseAND(lit(mask))
    val firstCollision = (0 until chunks - 1)
      .map(j => col("chunk_idx") <= j ||
        chunkOf(col("sig_a"), j) =!= chunkOf(col("sig_b"), j))
      .reduce(_ && _)
    // SHUFFLE_HASH at pinned width, never broadcast: the candidate
    // enumeration emits ~|distinct sigs|²·chunks/2^bits pairs from a NARROW
    // input — the classic input-small/output-huge shape that defeats
    // size-based planning twice over. Accurate size stats made the planner
    // broadcast the whole sig table and run the enumeration at the probe
    // side's file-scan parallelism, and AQE's size-based coalescing would
    // likewise fold the few-MB shuffle into one task; both were measured
    // 4-6× slower at the sf1 probe. Explicit-numPartitions repartition on
    // the join keys is exempt from AQE coalescing, and the two sides'
    // subplans are identical, so the second side rides a ReusedExchange —
    // one scan+hash pass total, pair work spread across the full cluster.
    val parts = sigs.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = (df: DataFrame) =>
      df.repartition(parts, col("chunk_idx"), col("chunk"))
    val sigPairs = keyed(a).hint("shuffle_hash")
      .join(keyed(b), Seq("chunk_idx", "chunk"))
      .filter(col("sig_a") < col("sig_b") && firstCollision)
      .withColumn("dist", hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxHamming)
      .select("sig_a", "sig_b", "dist")
    // Expansion back to id pairs: cross-sig pairs fan out by their groups'
    // sizes (output-sized by definition — every emitted row is a true
    // near-dup pair); identical-sig groups emit their within-group pairs
    // directly at distance 0.
    val cross = sigPairs
      .join(m.select(col("sig").as("sig_a"), col("id").as("ia")), "sig_a")
      .join(m.select(col("sig").as("sig_b"), col("id").as("ib")), "sig_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    val intra = m.select(col("sig"), col("id").as("id_a"))
      .join(m.select(col("sig"), col("id").as("id_b")), "sig")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(lit(0L), lit(0L)).as("dist")) // typed like the cross leg
    cross.unionAll(intra).orderBy("id_a", "id_b")
  }

  /** End-to-end near-dup removal: MinHash/LSH pairs → drop every doc that is
    * the greater id of some near-dup edge, keeping each cluster's minimal
    * element(s). Matches standard MinHash-dedup practice (clusters are the
    * transitive closure of pairwise similarity, so a kept doc may sit below
    * threshold against a transitively-removed one — that's the documented
    * trade of cluster-based dedup, not a bug). Anti-join keeps the corpus
    * distributed; only the (small) pair list is exchanged. */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, k: Int = 3,
                   numHashes: Int = 128, bands: Int = 32,
                   seed: Long = 42L): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, threshold, k, numHashes, bands, seed)
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** Cluster-correct dedup drop: connected components over the near-dup edge
    * list, then keep exactly one representative per cluster — the minimum id
    * (deterministic) — plus every unclustered doc. This is the endgame
    * [[dropNearDups]] approximates edge-locally; here membership is the true
    * transitive closure, so a doc is dropped iff some SMALLER id is reachable
    * from it. The corpus never moves: the anti-join exchanges only the
    * narrow (id) loser list. */
  def dropByComponents(df: DataFrame, idCol: String, edges: DataFrame,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val losers = connectedComponents(edges, srcCol, dstCol)
      .filter(col("comp") < col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** The small-graph gate's ONE bounded action, exposed so PlanQualitySpec
    * can pin its shape: a CollectLimit directly over the raw edge plan —
    * no InMemoryRelation (the r12 persist+count+collect formulation
    * materialized the edge plan through the cache builder at ~2× the plain
    * codegen pass) and no Union/distinct (the driver path needs neither). */
  private[graft] def ccGateProbe(raw: DataFrame, driverThreshold: Long): DataFrame =
    raw.limit(math.min(driverThreshold + 1, Int.MaxValue.toLong).toInt)

  /** Connected components over an undirected edge list: each node labeled
    * with the minimum node id reachable from it — the dedup endgame, where
    * near-dup PAIRS become duplicate CLUSTERS and one representative (the
    * min id) is kept per cluster.
    *
    * Iterative min-label propagation with POINTER JUMPING: each round takes
    * the min over graph neighbors, then shortcuts `comp := comp(comp)` —
    * path lengths halve per round, so convergence is O(log diameter) rounds
    * instead of O(diameter) (the idea behind the large-star/small-star
    * MapReduce-CC algorithms; Kiveris et al., SoCC'14). Every round is two
    * equality joins + a partial/final min aggregate over narrow (id, comp)
    * tables — no driver-side graph state; the driver only runs the
    * convergence count. Deterministic output.
    *
    * ADAPTIVE CUTOVER: below `driverThreshold` RAW edges the whole
    * (narrow, 16-byte/row) edge list is collected — via one bounded
    * limit(threshold+1) action that doubles as the size gate — and solved
    * with union-find on the driver: one plain codegen job instead of
    * ~2·log(diameter) iterative jobs, the same size-gated small-side
    * special-casing as a broadcast join. The usual dedup shape at scale IS
    * a small edge list over a huge corpus (edges exist only where
    * near-dups do), so this path fires often; past the threshold the
    * distributed pointer-jumping loop runs unchanged.
    * Identical output either way (spec-checked against the same reference). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25,
                          driverThreshold: Long = 1000000L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The RAW edge list decides the cutover and feeds the driver path:
    // union-find needs neither symmetrization nor dedup (duplicate and
    // reversed edges are no-ops against path-compressed roots), so the
    // small-graph path skips the 2x union AND the distinct exchange the
    // iterative path requires. The gate itself is ONE bounded action —
    // limit(threshold+1).collect() — whose result IS the driver-path
    // input: the old persist+count+collect scheme materialized the edge
    // plan through the cache builder (no whole-stage fusion), which on
    // q_semantic_dedup's blocked cosine join cost ~2x the plain codegen
    // pass that produces the same 920 rows. CollectLimit also early-exits
    // on dense graphs, so the probe is cheap on BOTH sides of the gate.
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val probe = ccGateProbe(raw, driverThreshold).collect()
    if (probe.length <= driverThreshold) {
      // Union-by-min + path compression: attaching the larger root under the
      // smaller makes every root the minimum id of its set — exactly the
      // label the distributed path converges to.
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // Snapshot keys BEFORE labeling: find() path-compresses (writes values)
      // and mutating a mutable.HashMap while iterating it is undefined even
      // when only values change — an array copy makes the pass safe.
      val ids = parent.keys.toArray
      val labeled = ids.map(id => (id, find(id))).toSeq
      val spark = edges.sparkSession
      import spark.implicits._
      return labeled.toDF("id", "comp")
    }
    // Distributed path: min-label propagation DOES need both edge
    // directions and benefits from dedup (each duplicate would re-enter
    // every round's join). The probe discarded its partial rows; the edge
    // plan re-executes once here, into the persisted symmetric frame every
    // iteration reads.
    val sym = raw
      .union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(lvl)
    sym.count()
    // localCheckpoint, not persist: each round's frame derives from the
    // previous round's, so without truncating lineage the logical plan
    // doubles per iteration (the joins reference `labels` twice) and plan
    // handling alone OOMs after ~10 rounds. Checkpointing pins the data AND
    // cuts the plan back to a leaf. Superseded rounds drop their last
    // reference on reassignment below; the ContextCleaner reclaims their
    // blocks on GC, so peak retention is a few (id, comp) copies, not all
    // maxIter of them.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = labels.join(sym, col("id") === col("src"))
        .select(col("dst").as("id"), col("comp"))
        .union(labels.select("id", "comp"))
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jump: follow comp one hop (comp is itself a node id)
      val ptr = neighborMin.select(col("id").as("cid"), col("comp").as("ccomp"))
      val jumped = neighborMin.join(ptr, col("comp") === col("cid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp"))
        .localCheckpoint(true)
      changed = jumped
        .join(labels.select(col("id"), col("comp").as("__old")), "id")
        .filter(col("comp") < col("__old")).count()
      labels = jumped
      i += 1
    }
    sym.unpersist(blocking = false)
    labels
  }

  /** Typed Aggregator: element-wise minimum of MinHash signatures across a
    * group. Because min commutes with set union, the aggregated signature IS
    * the MinHash signature of the union of the group's shingle sets — so two
    * *groups* (sources, shards, days) can be Jaccard-compared from their
    * aggregated sketches without ever co-locating their documents. Partial
    * aggregation applies (reduce is associative+commutative): each map task
    * folds its rows locally, the shuffle carries one 128-long array per
    * group per task. */
  class SignatureUnion(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    override def reduce(b: Array[Long], sig: Seq[Long]): Array[Long] = {
      if (sig == null) return b // null signature rows contribute nothing
      require(sig.length == numHashes,
        s"signature length ${sig.length} != aggregator numHashes $numHashes — " +
          "a shorter input would leave Long.MaxValue sentinels that " +
          "signatureJaccard counts as agreement")
      var i = 0
      while (i < numHashes) {
        if (sig(i) < b(i)) b(i) = sig(i); i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column form of [[SignatureUnion]] for `agg(...)`. */
  def signatureUnion(sig: Column, numHashes: Int = 128): Column =
    udaf(new SignatureUnion(numHashes),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      .apply(sig)

  /** Estimated Jaccard of two union-signatures: fraction of agreeing minima. */
  def signatureJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(lit(0L))),
      lit(0L), (s, v) => s + v).cast("double") / size(a)

  /** Direct n-gram Jaccard similarity of candidate pairs (the verify
    * primitive, exposed standalone). Pairs must already be blocked/bucketed —
    * this is intentionally not an all-pairs API. */
  def ngramJaccard(textA: Column, textB: Column, k: Int = 3): Column =
    jaccard(shingles(textA, k), shingles(textB, k))

  /** Asymmetric n-gram containment |A∩B| / |A| (Broder's containment, the
    * second half of the SEQUENCES'97 pair): ≈1 when A is quoted inside a
    * much larger B even though Jaccard ≈ |A|/|B| ≈ 0 — the subset-dup
    * signal symmetric similarity dilutes away. Same blocked-pairs contract
    * as [[ngramJaccard]]. */
  def ngramContainment(textA: Column, textB: Column, k: Int = 3): Column = {
    val sa = shingles(textA, k)
    val sb = shingles(textB, k)
    round(size(array_intersect(sa, sb)).cast("double") /
          greatest(size(sa), lit(1)), 4)
  }

  // ------------------------------------------------------- dup-graph memo

  /** Session memo for the rare-gram dup graph. Seven declared queries
    * (clusters, drop, keep-best, leakage-safe split, degree profile,
    * PageRank, BFS layers) analyze the SAME graph; its narrow (src, dst)
    * edge frame and the connected components over it are built once per
    * (session, corpus). Frames are localCheckpointed eagerly, so every
    * consumer starts from materialized longs with no lineage back to the
    * corpus. */
  private val graphs =
    new SessionMemo[DataFrame](graft.tools.CacheHygiene.releaseLocalCheckpoint)

  /** The un-memoized edge build — public so plan gates can pin its scan
    * properties (filter pushdown, pruned read) which the memoized path
    * hides behind the checkpoint. */
  def dupGraphEdgesFresh(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 3): DataFrame =
    gramStats(docs, idCol, textCol, n)
      .filter(col("nd") === 2 && col("mn") =!= col("mx"))
      .select(col("mn").as("src"), col("mx").as("dst")).distinct()

  /** Per-gram sufficient stats of the rare-gram edge rule — (gram, nd =
    * distinct docs carrying it, mn/mx = their min/max ids). This IS the
    * incremental near-dup index: disjoint doc batches MERGE by summing nd
    * and folding mn/mx (Curation.appendWave), and `nd = 2` rows ARE the
    * [[dupGraphEdgesFresh]] edges — one definition of the gram rule, so
    * the batch and incremental paths cannot drift. */
  def gramStats(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", n: Int = 3): DataFrame = {
    // The gram POSITION explodes before the gram string is assembled (the
    // md5ShingleHashes shape): Generate is a projection barrier, so the
    // regex token split evaluates once per document — the inlined
    // explode(wordGrams(...)) form re-ran the split inside every gram
    // lambda (CollapseProject; the q_winnow_fingerprint lesson — measured
    // 3.5s → 0.6s for the gram stage on the sf0.1 curation pool). Per-doc
    // duplicate grams are NOT collapsed here (wordGrams' array_distinct);
    // the aggregate below is min/max/countDistinct, which is immune to
    // multiplicity, so the edge set is bit-identical.
    val w = TextStats.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"), explode(
        when(size(col("w")) < n, array(lit(0)))
          .otherwise(sequence(lit(0), size(col("w")) - n))).as("i"))
      .select(col("doc_id"),
        when(size(col("w")) < n, concat_ws(" ", col("w")))
          .otherwise(concat_ws(" ", slice(col("w"), col("i") + 1, lit(n))))
          .as("gram"))
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("mn"),
        max("doc_id").as("mx"))
  }

  /** Rare-gram edge list (the q_dedup_clusters rule): a word n-gram occurring
    * in exactly two documents links them. Memoized per (session, docs, n);
    * `refit = true` drops (and releases) the cached entry first, forcing a
    * rebuild that a rewrite of the docs' files no longer needs (the key
    * holds their snapshot) — the same contract as [[Similarity.ivfFitted]]. */
  def dupGraphEdges(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 3,
                    refit: Boolean = false): DataFrame = {
    if (refit) graphs.invalidate(docs, "edges", idCol, textCol, n)
    graphs.getOrBuild(docs, "edges", idCol, textCol, n) {
      dupGraphEdgesFresh(docs, idCol, textCol, n).localCheckpoint(eager = true)
    }
  }

  /** Connected components of [[dupGraphEdges]], memoized alongside them.
    * `refit = true` forces a rebuild of both the components AND the
    * underlying edge memo; a rewrite of file-backed docs no longer needs it. */
  def dupGraphComponents(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 3,
                         refit: Boolean = false): DataFrame = {
    if (refit) graphs.invalidate(docs, "comps", idCol, textCol, n)
    graphs.getOrBuild(docs, "comps", idCol, textCol, n) {
      connectedComponents(dupGraphEdges(docs, idCol, textCol, n, refit),
        "src", "dst").localCheckpoint(eager = true)
    }
  }
}
