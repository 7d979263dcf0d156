package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, Round}
import org.apache.spark.sql.catalyst.types.{DataTypeUtils, PhysicalDataType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}
import graft.engine.LocalAnswers

/** Similarity search over embedding columns (`Array[Float]`) — SURVEY.md
  * §2.12 Y3 and the north-star mandate.
  *
  * Three tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k against a query vector. One scan,
  *    per-row fold for the dot product, `TakeOrderedAndProject` for the top-k
  *    (per-partition heaps, no full sort). The 100 TB cost is one pass over
  *    the corpus — the correct baseline and the verifier for the ANN tier.
  *  - [[lshTopK]] / [[cosineNearDups]]: random-hyperplane LSH. Vectors are
  *    bucketed by a 16-bit sign signature; search touches only matching
  *    buckets (optionally multi-probed at Hamming distance 1). Candidate
  *    generation is an equality join on the bucket key — never a cross join.
  *  - [[ivfTopK]]: IVF, `bruteForceTopK`'s rule over the `nProbe` lists
  *    nearest the query, on an index fitted once per corpus and kept in the
  *    session ([[ivfFitted]]). When the index holds at most
  *    [[graft.engine.LocalAnswers.MaxBytes]] of vectors with scoreable ids
  *    and vectors, the lists are also kept on the driver and a probe is
  *    scored there and returned as a local frame, with no Spark job; any
  *    other index or query is answered by one job over the cached index.
  *    [[writeIvfIndex]] / [[ivfTopKFromIndex]] persist the index for a
  *    corpus too large for either.
  *
  * All arithmetic is double-precision with left-to-right folds so results are
  * deterministic and reproducible across engines.
  */
object Similarity {

  /** Dot product of two array<double> columns: native codegen'd expression,
    * strict left-to-right fold (bit-identical to the HOF formulation and to
    * DuckDB's list_dot_product). */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayKernels.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a, b) = dot / (|a| * |b|), expressed exactly as
    * dot/(sqrt(dot_aa)*sqrt(dot_bb)) so oracle engines computing the same
    * shape produce bit-identical doubles. */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  private def litVector(v: Seq[Double]): Column = array(v.map(lit): _*)

  /** The places a top-k's `sim` is rounded to. */
  private val SimDecimals = 4

  /** Exact top-k by cosine against a constant query vector. Output:
    * (id, sim) — sim rounded to kill last-bit drift, ties broken by id. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int,
                     simDecimals: Int = SimDecimals): DataFrame =
    df.select(col(idCol).as("vec_id"),
        round(cosine(col(vecCol), litVector(query)), simDecimals).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  // ------------------------------------------------------------------- LSH

  /** Deterministic random hyperplanes (Gaussian components, fixed seed). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket of a vector column under the given hyperplanes: bit i = 1
    * iff dot(v, plane_i) > 0. nPlanes <= 63. */
  def signBucket(vec: Column, planes: Seq[Array[Double]]): Column = {
    val vd = vec.cast("array<double>")
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vd, litVector(p.toSeq)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Driver-side bucket of a plain query vector (same math as signBucket). */
  def bucketOf(query: Seq[Double], planes: Seq[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      if (d > 0) 1L << i else 0L
    }.foldLeft(0L)(_ | _)

  /** ANN top-k: restrict the scan to the query's bucket (plus all buckets at
    * Hamming distance 1 when multiProbe) and brute-force within. At scale the
    * bucketed table is written partitioned by bucket, so probes become
    * partition-pruned reads. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, nPlanes: Int = 16,
              seed: Long = 42L, multiProbe: Boolean = true): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(nPlanes, dim, seed)
    val qb = bucketOf(query, planes)
    val probes: Seq[Long] =
      if (multiProbe) qb +: (0 until nPlanes).map(i => qb ^ (1L << i))
      else Seq(qb)
    df.withColumn("__bucket", signBucket(col(vecCol), planes))
      .filter(col("__bucket").isin(probes: _*))
      .select(col(idCol).as("vec_id"),
        round(cosine(col(vecCol), litVector(query)), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Exact embedding near-duplicate pairs: all-pairs cosine, threshold
    * filter. (id_a, id_b, sim) with id_a < id_b, round(sim,4) >= threshold.
    *
    * This is the verify tier: O(n²) PAIRS by construction — but the MEMORY is
    * bounded via grid-blocked pair enumeration, never a corpus broadcast.
    * Each row hashes into one of B blocks; the B(B+1)/2 unordered block
    * pairs (i ≤ j) become equality-join keys: block i's rows replicate to
    * keys (i, i..B-1) on the left, block j's to (0..j, j) on the right, so
    * every unordered row pair meets under exactly one key. A task therefore
    * holds 2/B of the corpus (pick B ∝ √tasks; replication per side is
    * ~(B+1)/2 — the standard triangle-join trade of shuffle volume for
    * bounded memory). At 100× the blocks shrink with B; the old
    * `broadcast(corpus)` formulation instead died on driver/executor memory
    * long before the O(n²) compute mattered. The 100 TB near-dup path is
    * still [[cosineNearDups]], which prunes candidates with LSH first.
    *
    * Bit-compat note: a pair may meet with either id on the left, so output
    * ids are least/greatest — safe because dot(x,y)≡dot(y,x) (commutative
    * multiplies, identical index-order additions) and n_l*n_r≡n_r*n_l, so
    * `sim` is the identical double either way. */
  def cosineAllPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    // Norms precomputed once per row, not per pair: the O(n²) stage does one
    // dot product per pair instead of three. sqrt(dot(v,v)) here is the same
    // double the inline cosine would produce, so results are bit-identical.
    val vd = col(vecCol).cast("array<double>")
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    // Smallest B with B(B+1)/2 >= shuffle parallelism, so every task owns
    // about one block pair.
    val nBlocks = math.max(2,
      math.ceil((math.sqrt(8.0 * nPart + 1) - 1) / 2).toInt)
    val withNorm = df.select(col(idCol).as("id"), vd.as("v"),
        sqrt(dot(vd, vd)).as("nrm"))
      .withColumn("blk", pmod(hash(col("id")), lit(nBlocks)))
    val left = withNorm
      .withColumn("pj", explode(sequence(col("blk"), lit(nBlocks - 1))))
      .select(col("blk").as("pi"), col("pj"),
        col("id").as("id_l"), col("v").as("v_l"), col("nrm").as("n_l"))
    val right = withNorm
      .withColumn("pi", explode(sequence(lit(0), col("blk"))))
      .select(col("pi"), col("blk").as("pj"),
        col("id").as("id_r"), col("v").as("v_r"), col("nrm").as("n_r"))
    // SHUFFLE_HASH, not sort-merge: with ~B²/2 distinct keys and huge
    // per-key groups, SMJ sorts both replicated sides and buffers each
    // right-side group in memory per key; hashing the right side once per
    // task skips both sorts and streams the left side through.
    left.join(right.hint("SHUFFLE_HASH"), Seq("pi", "pj"))
      // Diagonal blocks see both orderings of a pair (and self-pairs);
      // off-diagonal blocks see each unordered pair exactly once.
      .filter(col("pi") =!= col("pj") || col("id_l") < col("id_r"))
      .withColumn("sim", round(dot(col("v_l"), col("v_r")) / (col("n_l") * col("n_r")), 4))
      .filter(col("sim") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("sim"))
      .orderBy("id_a", "id_b")
  }

  // ------------------------------------------------------------------- IVF

  /** IVF (inverted-file) index: k-means coarse quantizer over the corpus,
    * each vector assigned to its nearest centroid's list. Vectors are
    * L2-NORMALIZED before clustering (spherical k-means): on the unit sphere
    * Euclidean nearness is monotone in cosine, so the Euclidean assignment
    * here agrees with the cosine probe ranking at query time — unnormalized
    * clustering would let a Euclidean-near-but-cosine-far centroid steal the
    * probes and silently lose recall. At scale the indexed table is written
    * `partitionBy("ivf_cluster")`, so probes become partition-pruned reads.
    * Returns (input + `ivf_cluster` column, centroid array).
    *
    * The quantizer is [[kmeansLloyd]] over the unit vectors (deterministic
    * first-`nLists` init, exact-DECIMAL means snapped to 9 decimals), NOT
    * MLlib's k-means||: the pinned trajectory is what lets every IVF probe
    * query carry a full DuckDB oracle (the q_kmeans unrolled-CTE chain
    * extended with the probe + brute-force stages), and recall is governed
    * by nProbe, not centroid quality, so the simpler init costs nothing.
    * `seed` is retained in the signature (memo-key compatibility) but the
    * fit is seed-free. Init is rank-based (the nLists smallest ids), which
    * on the dense-id `embeddings` corpora equals the oracles' `id < k`
    * rule; kmeansLloyd fails loudly only when the corpus has fewer than
    * nLists rows. */
  def ivfIndex(df: DataFrame, vecCol: String, nLists: Int,
               seed: Long = 42L, idCol: String = "vec_id"): (DataFrame, Array[Array[Double]]) = {
    val vd = col(vecCol).cast("array<double>")
    val nrm = sqrt(dot(vd, vd))
    val unit = when(nrm > 0, transform(vd, x => x / nrm)).otherwise(vd)
    val (_, cents) = kmeansLloyd(
      df.select(col(idCol).as("id"), unit.as("v")), "id", "v", nLists, ivfIters)
    // Final assignment over the ORIGINAL frame with kmeansLloyd's exact
    // argmin rule (lloydAssign — one definition, so the oracle's mirror
    // can never fork from a one-sided edit) — the model rides the plan as
    // literals, one codegen'd projection pass, no join.
    (lloydAssign(df, unit, cents, "ivf_cluster").drop("__lloyd_d"), cents)
  }

  /** How many Lloyd iterations every IVF fit runs — shared with the
    * AnnOracles CTE depth, one constant on both sides. */
  val ivfIters = 5

  /** kmeansLloyd's exact assignment rule: squared-Euclidean (v−c)²
    * index-order fold per centroid, array_position-of-min — ties to the
    * lowest cluster. THE one definition the DuckDB oracles mirror
    * (row_number ORDER BY d2, cl); [[ivfIndex]] and [[kmeansLloyd]] both
    * assign through here so the rule cannot drift. Adds `clusterCol` plus
    * the distance array as `__lloyd_d` (min = dist2); callers drop what
    * they don't need. */
  private[llm] def lloydAssign(df: DataFrame, v: Column,
                               cents: Array[Array[Double]],
                               clusterCol: String): DataFrame = {
    // Codegen panel-distance kernel: bit-identical fold to the HOF
    // zip_with+aggregate it replaces (ArrayKernels.sqDistsToCentroids's
    // contract), minus k × dim interpreted lambda evals per row.
    val dists = graft.functions.ArrayKernels.sqDistsToCentroids(v, cents)
    df.withColumn("__lloyd_d", dists)
      .withColumn(clusterCol,
        (array_position(col("__lloyd_d"), array_min(col("__lloyd_d"))) - 1).cast("int"))
  }

  /** Probe selection shared by every IVF path: indices of the `nProbe`
    * centroids most cosine-similar to the query. Public so batched callers
    * (an evaluation panel probing many queries through one scan) select
    * probes with EXACTLY the per-query paths' rule. */
  def nearestCentroids(centers: Seq[(Int, Seq[Double])],
                       query: Seq[Double], nProbe: Int): Seq[Int] = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    centers.map { case (i, c) =>
      val dot = c.zip(query).map { case (x, y) => x * y }.sum
      val cn = math.sqrt(c.map(x => x * x).sum)
      (i, if (cn == 0 || qn == 0) -1.0 else dot / (cn * qn))
    }.sortBy(-_._2).take(nProbe).map(_._1)
  }

  /** Materialize an IVF index: vectors written `partitionBy(ivf_cluster)`,
    * centroids beside them as a tiny parquet. Probing a persisted index is
    * then a partition-pruned read — only nProbe/nLists of the corpus is ever
    * touched (spec-asserted via PartitionFilters). Index once, probe many.
    * The two writes are not atomic; the tiny centroid table goes first so
    * the failure window around it is milliseconds, and a death during the
    * corpus-sized vector write leaves that directory's own temporary-commit
    * state, not a silently mismatched pair. Re-run writeIvfIndex to repair. */
  def writeIvfIndex(df: DataFrame, idCol: String, vecCol: String, path: String,
                    nLists: Int, seed: Long = 42L): Unit = {
    val (indexed, centers) = ivfIndex(df, vecCol, nLists, seed, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ivf_cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    indexed.select(col(idCol), col(vecCol), col("ivf_cluster"))
      .write.mode("overwrite").partitionBy("ivf_cluster").parquet(s"$path/vectors")
  }

  /** Assign vectors to EXISTING centroids without refitting — the
    * incremental-index primitive. Assignment is the EXACT KMeans.predict
    * rule: Euclidean argmin over the L2-normalized vector, computed as
    * argmin(‖c‖² − 2·u·c) with ties to the lowest cluster id. NOT argmax
    * cosine: k-means centroids are means of unit vectors, so their norms
    * differ per cluster and Euclidean-nearest ≠ cosine-nearest
    * (SimilarityProps falsified the cosine formulation against
    * KMeans.transform before this landed). Centroids ride the plan as
    * literals — no join, no shuffle, one codegen'd projection pass. */
  def assignToCentroids(df: DataFrame, vecCol: String,
                        centers: Seq[(Int, Seq[Double])]): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val nrm = sqrt(dot(vd, vd))
    val unit = when(nrm > 0, transform(vd, x => x / nrm)).otherwise(vd)
    require(centers.nonEmpty, "assignToCentroids: empty centroid table")
    val scoredCenters = centers.map { case (i, c) =>
      val cn2 = c.map(x => x * x).sum
      val negDist = lit(2.0) * dot(unit, array(c.map(lit(_)): _*)) - lit(cn2)
      struct(negDist.as("nd"), lit(-i).as("ni")) // max(nd) = min distance
    }
    // Spark's greatest() requires >= 2 args; a degenerate 1-centroid index
    // (nLists=1) assigns everything to that centroid.
    val best =
      if (scoredCenters.size == 1) scoredCenters.head
      else greatest(scoredCenters: _*)
    df.withColumn("ivf_cluster", (-best.getField("ni")).cast("int"))
  }

  /** Append NEW vectors to a persisted [[writeIvfIndex]] index without
    * refitting the quantizer: assign against the stored centroids (one
    * tiny read), append-write into the same partitionBy(ivf_cluster)
    * layout. Probes see old and new rows through the identical
    * partition-pruned path — index freshness without a rebuild. The
    * centroid table is untouched, so quantizer drift is the caller's
    * monitoring concern (q_source_drift is the companion gate). NOT
    * idempotent: a retried append double-writes; callers guard with their
    * own marker (the declared query's `_APPENDED` discipline). */
  def appendToIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = df.sparkSession
    val centers = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    assignToCentroids(df, vecCol, centers)
      .select(col(idCol), col(vecCol), col("ivf_cluster"))
      .write.mode("append").partitionBy("ivf_cluster")
      .parquet(s"$path/vectors")
  }

  /** ANN top-k against a persisted [[writeIvfIndex]] index. Centroid probe
    * selection happens on the (tiny) centroid table; the vector scan carries
    * an `ivf_cluster IN (...)` filter that prunes partitions at the source. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String, vecCol: String,
                       query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val centers = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    val probes = nearestCentroids(centers, query, nProbe)
    bruteForceTopK(
      spark.read.parquet(s"$path/vectors")
        .filter(col("ivf_cluster").isin(probes: _*)),
      idCol, vecCol, query, k)
  }

  /** A fitted IVF index as the memo keeps it: the cached assigned frame,
    * its centroids, and its lists on the driver when [[driverLists]] kept
    * them. Releasing the fit (LRU eviction, `refit`, a lost build race)
    * unpersists the frame and drops the lists. */
  private[llm] final class IvfFit(val indexed: DataFrame, val centers: Array[Array[Double]],
                                  keep: Option[IvfLists]) {
    @volatile private var kept = keep
    def lists: Option[IvfLists] = kept
    def release(): Unit = { kept = None; indexed.unpersist(blocking = false) }
  }

  /** An index's lists on the driver: per list, its ids and its vectors as
    * `array<double>` with their norms; every vector is `dim` long, and
    * `schema` is [[bruteForceTopK]]'s output schema over the index. */
  private[llm] final class IvfLists(ids: Array[Array[Long]], vecs: Array[Array[Array[Double]]],
                                    norms: Array[Array[Double]], dim: Int, val schema: StructType) {
    private val intIds = schema.head.dataType == IntegerType

    /** [[bruteForceTopK]]`(lists probes, query, k, simDecimals)`, computed
      * by its rule: `dot / (sqrt(dot(v, v)) * sqrt(dot(q, q)))` with
      * left-to-right dot folds, Spark's own `round`, `sim` descending under
      * Spark's double order, ties to the lower id. None when the query is
      * not `dim` long, `k` is negative, or a denominator is 0: those take
      * the job path. */
    def topK(query: Seq[Double], probes: Seq[Int], k: Int, simDecimals: Int): Option[Seq[InternalRow]] = {
      val q = query.toArray
      val qn = math.sqrt(dotOf(q, q))
      val rows = probes.flatMap(p => ids(p).indices.map(p -> _))
      if (q.length != dim || k < 0 || rows.exists { case (p, i) => norms(p)(i) * qn == 0 }) None
      else {
        val round = Round(BoundReference(0, DoubleType, nullable = false), Literal(simDecimals))
        val arg = new GenericInternalRow(1)
        val simOrd = PhysicalDataType.ordering(DoubleType)
        Some(rows.map { case (p, i) =>
          arg.update(0, dotOf(vecs(p)(i), q) / (norms(p)(i) * qn))
          (round.eval(arg).asInstanceOf[Double], ids(p)(i))
        }.sorted(Ordering.fromLessThan[(Double, Long)] { (a, b) =>
          val c = simOrd.compare(b._1, a._1)
          c < 0 || (c == 0 && a._2 < b._2)
        }).take(k).map { case (sim, id) => InternalRow(if (intIds) id.toInt else id, sim) })
      }
    }
  }

  /** DotProduct's fold: index order, over the shorter length. */
  private def dotOf(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The index's lists, collected to the driver when one aggregate over
    * the cached index shows they fit [[LocalAnswers.MaxBytes]] (rows × dim
    * × 8 bytes) and every row is scoreable there: a non-null long or int id,
    * and a non-null vector, free of null elements, of one common length and
    * of non-zero norm, in a list of the index. None otherwise. */
  private def driverLists(indexed: DataFrame, idCol: String, vecCol: String,
                          nLists: Int): Option[IvfLists] =
    indexed.schema(idCol).dataType match {
      case LongType | IntegerType =>
        val v = col(vecCol).cast("array<double>")
        val list = col("ivf_cluster")
        val scoreable = col(idCol).isNotNull && v.isNotNull && !exists(v, _.isNull) &&
          dot(v, v) =!= 0 && list.between(0, nLists - 1)
        val facts = indexed.agg(bool_and(scoreable), count(lit(1)), min(size(v)), max(size(v))).head()
        val fits = !facts.isNullAt(0) && facts.getBoolean(0) && facts.getInt(2) == facts.getInt(3) &&
          facts.getLong(1) * facts.getInt(3) * 8 <= LocalAnswers.MaxBytes
        Option.when(fits) {
          val spark = indexed.sparkSession
          import spark.implicits._
          val dim = facts.getInt(3)
          val byList = indexed.select(col(idCol).cast("long"), v, list)
            .as[(Long, Array[Double], Int)].collect().groupBy(_._3).withDefaultValue(Array.empty)
          def lists[T: scala.reflect.ClassTag](f: ((Long, Array[Double], Int)) => T) =
            Array.tabulate(nLists)(l => byList(l).map(f))
          new IvfLists(lists(_._1), lists(_._2), lists(r => math.sqrt(dotOf(r._2, r._2))), dim,
            bruteForceTopK(indexed, idCol, vecCol, Seq.fill(dim)(0.0), 1).schema)
        }
      case _ => None
    }

  private val ivfMemo = new SessionMemo[IvfFit](_.release())

  /** The memo entry behind [[ivfFitted]] and [[ivfTopK]]. */
  private[llm] def ivfFit(df: DataFrame, vecCol: String, nLists: Int, seed: Long,
                          refit: Boolean, idCol: String): IvfFit = {
    if (refit) ivfMemo.invalidate(df, vecCol, nLists, seed, idCol)
    ivfMemo.getOrBuild(df, vecCol, nLists, seed, idCol) {
      val (ix, cs) = ivfIndex(df, vecCol, nLists, seed, idCol)
      val indexed = ix.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      new IvfFit(indexed, cs, driverLists(indexed, idCol, vecCol, cs.length))
    }
  }

  /** The memoized IVF fit behind [[ivfTopK]] — public so batched callers
    * (a multi-query evaluation panel) share the same cached index instead
    * of refitting per call. The assigned table is kept MEMORY_AND_DISK so
    * repeat probes skip the scan+assign too. A fit also runs one aggregate
    * over that table, and when the index fits
    * [[graft.engine.LocalAnswers.MaxBytes]] (rows × dim × 8 bytes) with ids
    * and vectors [[ivfTopK]] can score on the driver, collects its lists
    * once into the entry. The memo keeps at most `SessionMemo.MaxEntries`
    * fits; an evicted or refit entry is unpersisted and its lists dropped.
    * `refit = true` forces a rebuild; a rewritten file-backed input refits
    * without it. This is the in-memory analog of writeIvfIndex → ivfTopKFromIndex (the
    * durable path a 100 TB corpus uses instead). */
  def ivfFitted(df: DataFrame, vecCol: String, nLists: Int,
                seed: Long = 42L, refit: Boolean = false,
                idCol: String = "vec_id"): (DataFrame, Array[Array[Double]]) = {
    val fit = ivfFit(df, vecCol, nLists, seed, refit, idCol)
    (fit.indexed, fit.centers)
  }

  /** ANN top-k via IVF: pick the `nProbe` lists whose centroids are nearest
    * the query (driver-side math over nLists centroids), then
    * [[bruteForceTopK]] over the rows of those lists, with its exact schema
    * and rows.
    *
    * When [[ivfFitted]] kept the lists on the driver (an index of at most
    * [[graft.engine.LocalAnswers.MaxBytes]] whose ids are non-null longs or
    * ints and whose vectors are non-null, free of null elements, of one
    * length and of non-zero norm), a query of that length is scored there
    * over only the probed lists, and the answer is a local frame: no Spark
    * job. Any other index or query (a length mismatch, or a zero cosine
    * denominator) takes the job path: the list filter over the whole cached
    * index, which scans the full corpus and scores ∝ nProbe/nLists of it.
    * The persisted layout of [[writeIvfIndex]] is what prunes that scan. The
    * recall knob is nProbe; nProbe = nLists degrades to exact brute force.
    * The fitted index is memoized per (session, input, params), the input
    * including its table snapshot; `refit = true` forces a rebuild, which a
    * rewrite of the input's files no longer needs. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, nLists: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, refit: Boolean = false): DataFrame = {
    val (fit, probes) = ivfProbes(df, idCol, vecCol, query, nLists, nProbe, seed, refit)
    fit.lists.flatMap(l => l.topK(query, probes, k, SimDecimals).map(rows =>
        LocalAnswers.frame(df.sparkSession, DataTypeUtils.toAttributes(l.schema), rows)))
      .getOrElse(probedByJob(fit, probes, idCol, vecCol, query, k))
  }

  /** [[ivfTopK]] answered by its job path, whatever the index: the path an
    * index or query the driver cannot score takes. */
  private[graft] def ivfTopKByJob(df: DataFrame, idCol: String, vecCol: String,
                                  query: Seq[Double], k: Int, nLists: Int = 16, nProbe: Int = 4,
                                  seed: Long = 42L): DataFrame = {
    val (fit, probes) = ivfProbes(df, idCol, vecCol, query, nLists, nProbe, seed, refit = false)
    probedByJob(fit, probes, idCol, vecCol, query, k)
  }

  /** The fitted index and the `nProbe` lists whose centroids are nearest
    * the query. */
  private def ivfProbes(df: DataFrame, idCol: String, vecCol: String, query: Seq[Double],
                        nLists: Int, nProbe: Int, seed: Long, refit: Boolean): (IvfFit, Seq[Int]) = {
    val fit = ivfFit(df, vecCol, nLists, seed, refit, idCol)
    (fit, nearestCentroids(fit.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq, query, nProbe))
  }

  /** [[bruteForceTopK]] over the probed lists of the cached index. */
  private def probedByJob(fit: IvfFit, probes: Seq[Int], idCol: String, vecCol: String,
                          query: Seq[Double], k: Int): DataFrame =
    bruteForceTopK(fit.indexed.filter(col("ivf_cluster").isin(probes: _*)), idCol, vecCol, query, k)

  /** Per-vector int8 scalar quantization: min-max scale each embedding to
    * [-128, 127]. 4× smaller vectors for the candidate-generation stages of
    * ANN (exact re-ranking keeps the full-precision column) — the standard
    * compression step before a 100 TB corpus is indexed. Explicit
    * floor(x + 0.5) rounding so every engine computes the identical code.
    * Native kernel: the HOF formulation re-evaluated array_min/array_max
    * inside the per-element lambda, O(d²) per vector. */
  def quantizeInt8(vec: Column): Column =
    graft.functions.ArrayKernels.quantizeInt8(vec.cast("array<double>"))

  /** Optimal (bands, planesPerBand) for [[cosineNearDups]] at a given
    * corpus size: the smallest hash budget b·r that (a) keeps recall of
    * true threshold-pairs ≥ `targetRecall` (1-(1-p^r)^b with
    * p = 1 - acos(s)/π), and (b) caps EXPECTED random-collision candidates
    * at `candidateBudget`·n (a random pair collides per band with 2^-r, so
    * the n²/2·b·2^-r term must be told about n — this is the datasketch-
    * style optimal-param solve, and it is what keeps the operator LINEAR
    * as the corpus grows: r rises with log₂(n), b follows to hold recall).
    * With FIXED params the quadratic residue is measurable: the sf0.1→sf1
    * probe put the declared near-dup query at exponent 1.19 (0.47s→7.1s)
    * under a constant 32×16 before this solver existed. Deterministic:
    * pure integer search over r ≤ 63 (a band bucket packs its sign bits
    * into one Long), minimal b ≤ 8192 — the expensive corners (mid
    * thresholds × huge corpora) legitimately need thousands of bands ×
    * tens of planes; that hash cost is the physics of high-recall LSH
    * near its selectivity boundary, and ClassifyProps checks both
    * guarantees hold across the whole (n, threshold) domain. */
  def lshParamsFor(n: Long, threshold: Double, targetRecall: Double = 0.95,
                   candidateBudget: Double = 4.0): (Int, Int) = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    val candidates = for {
      r <- 1 to 63
      b = math.ceil(math.log(1.0 - targetRecall) /
            math.log(1.0 - math.pow(p, r))).toInt
      if b >= 1 && b <= 8192
      // expected random candidates: (n²/2)·b·2^-r ≤ budget·n
      if n.toDouble / 2.0 * b * math.pow(2.0, -r) <= candidateBudget
    } yield (b, r)
    require(candidates.nonEmpty,
      s"no LSH params reach recall $targetRecall at threshold $threshold within budget")
    candidates.minBy { case (b, r) => b.toLong * r }
  }

  /** Embedding near-duplicate pairs via banded sign-LSH: candidate pairs
    * share at least one band's full signature, then exact cosine verifies
    * ([[Dedup.lshPairs]], the pipeline the MinHash operators share).
    * (id_a, id_b, sim) with id_a < id_b, round(sim,4) >= threshold.
    *
    * Scale shape (the 100 TB path, vs [[cosineAllPairs]]'s O(n²) verify
    * tier): the shuffle joins a NARROW (id, band, key) table against
    * itself on the (band, key) composite key — vectors never ride the
    * candidate-generation shuffle; they come back in two equality joins only
    * for the surviving deduped candidates. No stage is ever all-pairs.
    *
    * Recall/selectivity tuning: a pair at cosine s collides in one r-plane
    * band with p(s)^r where p(s) = 1 - acos(s)/π, and survives b bands with
    * 1-(1-p^r)^b. More, narrower bands → higher recall but MORE candidates:
    * a random pair has p(0)=0.5, so selectivity is 2^-r per band — banding
    * only prunes when the threshold is genuinely high (s ≥ ~0.9, where
    * p ≥ 0.85 and wide bands keep true pairs while 0.5^r kills noise; e.g.
    * 32×16 admits ~5e-4 of random pairs and ~99.8% of 0.95-pairs). Below
    * that regime p(s)/p(0) is too close to 1 for ANY (r, b) to separate —
    * use [[cosineAllPairs]] there; the quadratic cost is inherent, not an
    * implementation artifact. Planes are seed-deterministic, so a given
    * corpus+params always yields the same candidate set. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, bands: Int = 16,
                     planesPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    // Infer dim from the first row — metadata-only lookup at plan time.
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val vd = col(vecCol).cast("array<double>")
    // Fused kernel: all bands·planesPerBand sign dots in one codegen'd loop
    // nest (same planes as hyperplanes(bands·ppb, dim, seed) — composing
    // signBucket per band would build a 512-node expression tree at
    // production plane counts and fall out of whole-stage codegen).
    val keys = graft.functions.ArrayKernels.signBands(vd, bands, planesPerBand, dim, seed)
    // Verify payload: norms precomputed per row (one dot per pair, not
    // three); sqrt(dot(v,v)) is the exact double the oracle's formulation
    // produces.
    val vecs = df.select(col(idCol).as("id"), vd.as("v"), sqrt(dot(vd, vd)).as("n"))
    Dedup.lshPairs(df, col(idCol), keys, vecs,
      "sim", round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4), threshold)
  }

  /** Lloyd's k-means over an embedding column, DataFrame-native — the
    * transparent, reproducible fit an audit pipeline wants, and (via
    * [[ivfIndex]], which runs it over unit vectors) the coarse quantizer
    * behind every IVF path, with a deterministic init: the first k vectors
    * by id. Each iteration is ONE
    * corpus scan: assignment evaluates squared Euclidean distance to k
    * centroid literals — the model ships to executors inside the plan, the
    * data never moves — and the update is a posexplode → (cluster, dim)
    * partial-aggregable average whose k×d-row result collects to the
    * driver, bounded by model size, never corpus size. A cluster that
    * loses every member keeps its previous centroid.
    *
    * Centroid components are rounded to 9 decimals after every update:
    * the averages' summation order varies run to run (~1e-15 relative
    * noise), and a boundary vector whose two nearest centroids are closer
    * than that noise would flip assignment and bifurcate the whole
    * trajectory. Snapping to a 9-decimal grid pins the trajectory — any
    * two runs (and the spec's in-memory mirror) see bit-identical
    * centroids — the same per-iteration rounding contract as pageRank.
    * Returns (assignments with `cluster` and `dist2`, final centroids). */
  def kmeansLloyd(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): (DataFrame, Array[Array[Double]]) = {
    val vd = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // Iterative: scanned `iters`+1 times — cache for the fit, release after.
    vd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Deterministic RANK-BASED init: the k rows with the smallest ids
      // (TakeOrdered — bounded, no global sort materialization). On the
      // dense-id corpora the engine declares, this is exactly the oracles'
      // `WHERE id < k` init; on a sparse or offset id space (external
      // callers) it keeps the API total instead of throwing — the advisor's
      // round-12 note. Still loud when the corpus itself is smaller than k:
      // underfilled centroids would make every downstream assignment
      // null/misshapen with no exception anywhere near the cause.
      var cents: Array[Array[Double]] = vd.orderBy("id").limit(k)
        .collect().map(_.getSeq[Double](1).toArray)
      require(cents.length == k,
        s"kmeansLloyd: deterministic init needs at least $k rows in the " +
          s"corpus — found ${cents.length}")
      def assigned: DataFrame =
        lloydAssign(vd, col("v"), cents, "cluster")
          .withColumn("dist2", array_min(col("__lloyd_d")))
          .drop("__lloyd_d")
      for (_ <- 1 to iters) {
        // Per-dim mean via EXACT DECIMAL accumulation (the labelCentroids
        // discipline): sum of decimal(28,12)-snapped components is
        // order-independent, so the round-9 centroid is bit-identical
        // across partition orders AND engines — the precondition for the
        // q_kmeans unrolled-CTE oracle. A double avg() here is
        // order-dependent at the last ulp, which can cross the 9-decimal
        // rounding boundary and fork the whole trajectory.
        val upd = assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
          .groupBy("cluster", "d")
          .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 9).as("m"))
          .collect()
        val byCluster = upd.groupBy(_.getInt(0))
        cents = cents.zipWithIndex.map { case (old, i) =>
          byCluster.get(i) match {
            case Some(rows) =>
              val c = old.clone()
              rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
              c
            case None => old
          }
        }
      }
      (assigned, cents)
    } finally vd.unpersist(blocking = false)
  }

  /** Greedy k-center / farthest-point traversal (Gonzalez 1985) — the
    * coreset selector for diversity sampling: pick the vector with the
    * smallest id as the seed, then repeatedly add the vector FARTHEST from
    * its nearest already-chosen center (ties → smallest id). The returned
    * radius at each step is the corpus' covering radius under the centers
    * chosen so far — non-increasing by construction, and a 2-approximation
    * of the optimal k-center cost.
    *
    * Scale shape: k−1 full scans, each a single max-of-struct aggregate —
    * the per-row min-distance folds over the (k·d)-double center literals
    * in the plan, and only ONE (radius, id, vector) row reaches the driver
    * per iteration. No shuffle at all beyond the scalar agg tree.
    * Returns (rank, id, radius) — radius is the covering radius of the
    * FIRST `rank` centers (so it is non-increasing down the list, and the
    * rank+1 center is always a witness point achieving it). */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): Seq[(Int, Long, Double)] = {
    val vd = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    vd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRow = vd.orderBy("id").limit(1).collect().head
      var centers = Vector((seedRow.getLong(0), seedRow.getSeq[Double](1).toArray))
      var out = Vector.empty[(Int, Long, Double)]
      for (rank <- 1 to k) {
        val minDist = array_min(graft.functions.ArrayKernels
          .sqDistsToCentroids(col("v"), centers.map(_._2).toArray))
        // argmax with min-id tie-break: max over (dist, -id), so equal
        // distances resolve to the smallest id deterministically.
        val far = vd.select(struct(minDist.as("d"), (-col("id")).as("nid"),
            col("v").as("v")).as("s"))
          .agg(max("s").as("s")).select("s.d", "s.nid", "s.v").collect().head
        val (d, id, v) = (far.getDouble(0), -far.getLong(1),
          far.getSeq[Double](2).toArray)
        out :+= ((rank, centers.last._1, math.sqrt(d)))
        if (rank < k) centers :+= ((id, v))
      }
      out.toSeq
    } finally vd.unpersist(blocking = false)
  }

  /** Maximal-marginal-relevance selection: greedily pick `k` vectors
    * maximizing λ·rel(x) − (1−λ)·max_{s∈S} cos(x, s) — the standard
    * diversified-panel primitive (few-shot exemplar pools, eval panels,
    * dedup-aware retrieval rerank). Relevance is cosine to the corpus MEAN
    * DIRECTION (the exact-DECIMAL per-dim mean of the unit vectors, the
    * labelCentroids discipline, so rel is engine-order-independent).
    *
    * Scale shape: the kCenterGreedy economics — k passes over a cached
    * unit-normalized projection, each a single-job struct-max argmax; the
    * selected set rides the plan as ≤k literal vectors, and the driver only
    * ever holds k rows. Determinism: rel and every pairwise cos snap to 6
    * decimals, argmax ties resolve to the smaller id (max over (score,
    * -id)). Output: (rank, vec_id, rel, score) in selection order. */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
                k: Int = 10, lam: Double = 0.7): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vd = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
      .filter(col("nrm") > 0)
      .select(col("id"), transform(col("raw"), x => x / col("nrm")).as("v"))
    vd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val mean = vd.select(posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("d")
        .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 9).as("m"))
        .orderBy("d").collect().map(_.getDouble(1))
      val mn = math.sqrt(mean.map(x => x * x).sum)
      val q = mean.map(_ / mn)
      val rel = round(dot(col("v"), array(q.map(lit): _*)), 6)
      val scored = vd.select(col("id"), col("v"), rel.as("rel"))
      var selected = Vector.empty[(Long, Array[Double], Double, Double)]
      for (rank <- 1 to k) {
        val sims = selected.map { case (_, sv, _, _) =>
          round(dot(col("v"), array(sv.map(lit): _*)), 6)
        }
        val score =
          if (sims.isEmpty) col("rel")
          else round(lit(lam) * col("rel") - lit(1.0 - lam) *
            (if (sims.size == 1) sims.head else greatest(sims: _*)), 6)
        val cand =
          if (selected.isEmpty) scored
          else scored.filter(!col("id").isin(selected.map(_._1): _*))
        val best = cand
          .select(struct(score.as("sc"), (-col("id")).as("nid"),
            col("v").as("v"), col("rel").as("rel")).as("s"))
          .agg(max("s").as("s"))
          .select("s.sc", "s.nid", "s.v", "s.rel").collect().head
        selected :+= ((-best.getLong(1), best.getSeq[Double](2).toArray,
          best.getDouble(3), best.getDouble(0)))
      }
      selected.zipWithIndex.map { case ((id, _, r, sc), i) =>
        (i + 1, id, r, sc)
      }.toDF("rank", "vec_id", "rel", "score")
    } finally vd.unpersist(blocking = false)
  }
}
