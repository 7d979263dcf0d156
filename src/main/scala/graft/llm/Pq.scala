package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for embedding compression + approximate search
  * (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011) — the standard way a 100 TB embedding corpus gets
  * small enough to search: split each d-dim vector into `m` subspaces,
  * k-means each subspace independently into `k` codes, and store only the
  * m code ids (m bytes/vector at k ≤ 256 vs 4·d bytes of floats — 32× for
  * d=64, m=8). Queries then score candidates with ASYMMETRIC DISTANCE
  * (ADC): a per-query m×k lookup table of exact subspace distances, so the
  * approximate distance is m table lookups per candidate — no float vector
  * ever touched at scan time.
  *
  * Execution shape (the part that must survive 1000 executors):
  * - TRAINING runs all m sub-quantizers FUSED in one job set — the corpus
  *   explodes once into (id, j, subvector) rows and every Lloyd iteration
  *   is a single groupBy(j, cluster, dim) mean over them, so the scan count
  *   is `iters`+1 regardless of m (m separate kmeansLloyd fits would cost
  *   m×iters scans). Only m·k·dsub centroid cells ever reach the driver.
  * - ENCODING is map-only: the per-row argmin over codebook literals is a
  *   pure projection (no shuffle, no join), embarrassingly parallel.
  * - SEARCH broadcasts the per-query LUT (m·k doubles) and folds codes
  *   against it per row; only top-k survivors cross the wire.
  *
  * Determinism contract (kmeansLloyd's, inherited): centroids snap to a
  * 9-decimal grid after every update, so per-cluster mean summation order
  * (~1e-15 noise) cannot flip an assignment and bifurcate the trajectory;
  * init is the subvectors of the k smallest ids.
  */
object Pq {

  /** codebooks(j)(c) = centroid of code c in subspace j (length d/m). */
  type Codebooks = Array[Array[Array[Double]]]

  private def subvector(v: Column, j: Int, dsub: Int): Column =
    slice(v, j * dsub + 1, dsub)

  /** Squared L2 between a subvector column and each candidate in `cands`
    * (an array-of-arrays column), as an array column; fold order is fixed
    * left-to-right by aggregate(), so the doubles are run-stable. */
  private def dists2(sv: Column, cands: Column): Column =
    transform(cands, c =>
      aggregate(zip_with(sv, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, z) => a + z))

  private def argmin(dists: Column): Column =
    (array_position(dists, array_min(dists)) - 1).cast("int")

  private def candsLit(cb: Array[Array[Double]]): Column =
    array(cb.map(c => array(c.map(lit): _*)): _*)

  /** The exploded (id, j, sv) subspace frame both training and the
    * distortion audit run over: m rows per vector, each carrying one
    * length-d/m subvector. */
  def subspaceRows(df: DataFrame, idCol: String, vecCol: String,
                   dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), posexplode(array((0 until m).map(j =>
        subvector(col("v"), j, dsub)): _*)).as(Seq("j", "sv")))
  }

  /** Per-row nearest-centroid squared error for subspace rows (j, sv) —
    * the quantization distortion a vector pays in subspace j. */
  def subspaceError(jCol: Column, sv: Column, cb: Codebooks): Column = {
    val branches = cb.indices.map(j => (j, candsLit(cb(j))))
    val cands = branches.tail.foldLeft(
      when(jCol === branches.head._1, branches.head._2)) {
      case (acc, (j, c)) => acc.when(jCol === j, c)
    }
    array_min(dists2(sv, cands))
  }

  /** Train all m sub-quantizers fused: `iters`+1 distributed scans total.
    * `dim` must be divisible by `m`. Clusters that go empty keep their
    * previous centroid (the kmeansLloyd rule). */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
            m: Int, k: Int, iters: Int): Codebooks = {
    val sub = subspaceRows(df, idCol, vecCol, dim, m)
    sub.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cb: Codebooks = {
        val init = sub.filter(col("id") < k).collect()
        val byJ = init.groupBy(_.getInt(1))
        (0 until m).map { j =>
          byJ(j).sortBy(_.getLong(0)).map(_.getSeq[Double](2).toArray)
        }.toArray
      }
      def assign: Column = {
        val branches = (0 until m).map(j => (j, candsLit(cb(j))))
        val cands = branches.tail.foldLeft(
          when(col("j") === branches.head._1, branches.head._2)) {
          case (acc, (j, c)) => acc.when(col("j") === j, c)
        }
        argmin(dists2(col("sv"), cands))
      }
      for (_ <- 1 to iters) {
        // Per-dim mean via EXACT DECIMAL accumulation (the kmeansLloyd
        // m-step contract): a double avg() is summation-order-dependent at
        // the last ulp, which can cross the 9-decimal snap boundary and
        // fork the trajectory — decimal sums are order-independent, so the
        // round-9 centroid is bit-identical across partition orders AND
        // engines. This is the precondition for the q_pq_topk /
        // q_pq_distortion unrolled-CTE oracles.
        val upd = sub.withColumn("c", assign)
          .select(col("j"), col("c"), posexplode(col("sv")).as(Seq("d", "x")))
          .groupBy("j", "c", "d")
          .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 9).as("mu"))
          .collect()
        upd.foreach(r => cb(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      }
      cb
    } finally sub.unpersist(blocking = false)
  }

  /** Map-only encoding: (id, codes array<int> of length m). */
  def encode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
             cb: Codebooks): DataFrame = {
    val m = cb.length; val dsub = dim / m
    val vd = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val codes = array((0 until m).map { j =>
      argmin(dists2(subvector(col("v"), j, dsub), candsLit(cb(j))))
    }: _*)
    vd.select(col("id"), codes.as("codes"))
  }

  /** The per-query ADC lookup table: lut(j)(c) = ||q_j − cb(j)(c)||²,
    * SNAPPED to 9 decimals — round-9 entries are exactly representable in
    * DECIMAL(28,12), so [[adcDistance]]'s decimal fold is summation-order-
    * free and an oracle engine summing the same rounded subspace distances
    * in any order lands on the identical total. The inner per-dim sum is
    * the strict left-to-right fold (matches list_sum/aggregate). */
  def lut(query: Seq[Double], cb: Codebooks): Array[Array[Double]] = {
    val m = cb.length; val dsub = query.length / m
    Array.tabulate(m) { j =>
      val qj = query.slice(j * dsub, (j + 1) * dsub)
      cb(j).map { c =>
        val s = qj.indices.map(i => {
          val d = qj(i) - c(i); d * d
        }).sum
        BigDecimal(s).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
  }

  /** ADC distance of a codes column against a driver-side LUT: m lookups
    * folded per row — the literal LUT ships inside the plan (m·k doubles),
    * never a join. The m round-9 entries accumulate in exact DECIMAL (cast
    * is lossless for round-9 doubles), so the total is independent of
    * subspace order — the oracle-expressibility contract. */
  def adcDistance(codes: Column, lutArr: Array[Array[Double]]): Column = {
    val lutCol = array(lutArr.map(r => array(r.map(lit): _*)): _*)
    aggregate(zip_with(codes, lutCol,
        (c, row) => element_at(row, c + 1).cast("decimal(28,12)")),
      lit(0).cast("decimal(28,12)"),
      (a, z) => (a + z).cast("decimal(28,12)"),
      acc => acc.cast("double"))
  }

  /** Approximate top-k by ADC over an encoded corpus; ties break by id so
    * the cut is total-ordered. */
  def topK(encoded: DataFrame, idCol: String, codesCol: String,
           query: Seq[Double], cb: Codebooks, k: Int): DataFrame = {
    val l = lut(query, cb)
    encoded.select(col(idCol), adcDistance(col(codesCol), l).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol)).limit(k)
  }

  /** ADC shortlist + exact re-rank — the production PQ search shape: the
    * code scan prunes the corpus to `shortlist` candidates (floats never
    * touched), then ONE more scan re-scores just those ids exactly. The
    * shortlist ids come to the driver (panel-sized, ≤ a few hundred) so the
    * re-rank scan filters by an `isin` predicate that pushes down to the
    * parquet reader — at 100 TB the second scan reads only the row groups
    * holding shortlist ids. */
  def topKReranked(encoded: DataFrame, vecs: DataFrame, idCol: String,
                   vecCol: String, query: Seq[Double], cb: Codebooks,
                   k: Int, shortlist: Int): DataFrame = {
    val ids = topK(encoded, "id", "codes", query, cb, shortlist)
      .collect().map(_.getLong(0))
    val q = array(query.map(lit): _*)
    vecs.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("id").isin(ids: _*))
      .select(col("id"),
        aggregate(zip_with(col("v"), q, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, z) => a + z).as("dist2"))
      .orderBy(col("dist2"), col("id")).limit(k)
  }

  // The codebooks are m·k·dsub driver-side doubles: nothing to release.
  private[llm] val fits = new SessionMemo[Codebooks](_ => ())

  /** Memoized [[train]], keyed by (session, canonicalized input plan,
    * params). */
  def trained(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, k: Int, iters: Int): Codebooks =
    fits.getOrBuild(df, vecCol, dim, m, k, iters)(
      train(df, idCol, vecCol, dim, m, k, iters))
}
