package graft.llm

import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.jobsLaunchedBy

/** Similarity / ANN surface (SURVEY.md §2.12 Y3): exact kernels vs
  * hand-computed values, LSH recall on planted duplicates. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quantizeInt8: codes span [-128, 127], extremes map to extremes") {
    val df = Seq((1L, Array(0.0, 0.5, 1.0)), (2L, Array(3.0, 3.0, 3.0)))
      .toDF("id", "v")
    val q = df.select(col("id"), Similarity.quantizeInt8(col("v")).as("q"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(q(1L) == Seq(-128, 0, 127)) // 0→-128, 0.5→floor(127.5+.5)-128=0, 1→127
    assert(q(2L) == Seq(-128, -128, -128)) // constant vector: scale=1, x-mn=0 → -128
  }

  test("quantizeInt8 degenerate inputs: null elements pass through, NaN → all-null") {
    val df = Seq(
      (1L, Array[java.lang.Double](0.0, null, 1.0)),
      (2L, Array[java.lang.Double](0.0, Double.NaN, 1.0))).toDF("id", "v")
    val q = df.select(col("id"), Similarity.quantizeInt8(col("v")).as("q"))
      .as[(Long, Seq[Option[Int]])].collect().toMap
    assert(q(1L) == Seq(Some(-128), None, Some(127)))
    assert(q(2L) == Seq(None, None, None))
  }

  test("ANN tiers: recall@10 vs brute force on the sf0.001 embeddings") {
    // Quality bound for the approximate tiers, not just "finds itself":
    // measured once on the fixed corpus/seeds, asserted with headroom.
    val e = new graft.engine.Catalog(spark, "/root/testdata/sf0.001").embeddings
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val recalls = Seq(0L, 100L, 250L).map { qid =>
      val q = e.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val exact = ids(Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10))
      val lsh = ids(Similarity.lshTopK(e, "vec_id", "embedding", q, 10, nPlanes = 8))
      val ivf = ids(Similarity.ivfTopK(e, "vec_id", "embedding", q, 10,
        nLists = 8, nProbe = 3))
      (exact.intersect(lsh).size / 10.0, exact.intersect(ivf).size / 10.0)
    }
    val (lshAvg, ivfAvg) =
      (recalls.map(_._1).sum / recalls.size, recalls.map(_._2).sum / recalls.size)
    // Measured on this corpus: lsh≈0.20, ivf≈0.60. Near-uniform random
    // embeddings are the LSH worst case (no cluster structure for the
    // hyperplanes to exploit); floors sit below with headroom.
    info(f"recall@10: lsh=$lshAvg%.2f ivf=$ivfAvg%.2f")
    assert(lshAvg >= 0.15, f"LSH recall collapsed: $lshAvg%.2f")
    assert(ivfAvg >= 0.4, f"IVF recall collapsed: $ivfAvg%.2f")
  }

  test("cosineAllPairs: grid-blocked join matches naive all-pairs, no corpus broadcast") {
    val e = new graft.engine.Catalog(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val got = Similarity.cosineAllPairs(e, "vec_id", "embedding", 0.4)
    // Reference: direct id_a < id_b self-join (the formulation the oracle
    // SQL uses), same rounding.
    val vd = col("embedding")
    val v = e.select(col("vec_id"), vd.as("v"), sqrt(Similarity.dot(vd, vd)).as("n"))
    val a = v.select(col("vec_id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = v.select(col("vec_id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    val want = a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("sim") >= 0.4).select("id_a", "id_b", "sim")
    assert(got.collect().toSet == want.collect().toSet)
    // The scale property: pair generation is an equality join on block keys —
    // never a nested-loop with the corpus as broadcast build side.
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join degraded to a corpus broadcast:\n$plan")
  }

  test("dot and norm match hand-computed values") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(Similarity.dot(col("a"), col("b"))).as[Double].head()
    assert(d == 32.0) // 4 + 10 + 18
    val n = df.select(Similarity.norm(col("b"))).as[Double].head()
    assert(math.abs(n - math.sqrt(77.0)) < 1e-12)
  }

  test("cosine: parallel → 1, orthogonal → 0, antiparallel → -1") {
    val df = Seq(
      (Array(1.0, 0.0), Array(2.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 3.0)),
      (Array(1.0, 0.0), Array(-5.0, 0.0))).toDF("a", "b")
    val cs = df.select(round(Similarity.cosine(col("a"), col("b")), 6).as("c"))
      .as[Double].collect().toSeq
    assert(cs == Seq(1.0, 0.0, -1.0))
  }

  private def corpus(n: Int, dim: Int, seed: Long = 7L): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
  }

  test("bruteForceTopK: query's own vector ranks first with sim 1.0") {
    val data = corpus(100, 16)
    val df = data.toDF("vec_id", "embedding")
    val q = data.head._2.toSeq
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5)
      .as[(Long, Double)].collect()
    assert(top.head == ((0L, 1.0)))
    assert(top.map(_._2).toSeq == top.map(_._2).sortBy(-_).toSeq) // descending
  }

  test("lshTopK: planted exact duplicate is always recalled (same bucket)") {
    val data = corpus(200, 16)
    val dup = data :+ (999L, data.head._2.clone()) // exact dup of vec 0
    val df = dup.toDF("vec_id", "embedding")
    val q = data.head._2.toSeq
    val ids = Similarity.lshTopK(df, "vec_id", "embedding", q, 5, nPlanes = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(ids.contains(0L) && ids.contains(999L))
  }

  test("cosineNearDups: planted duplicate pair found at threshold 0.99") {
    val data = corpus(50, 16)
    val dup = data :+ (999L, data.head._2.clone())
    val df = dup.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(df, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 999L && p._3 == 1.0))
  }

  test("ivfTopK: query vector recalled; full-probe degrades to exact brute force") {
    val data = corpus(300, 16)
    val df = data.toDF("vec_id", "embedding")
    val q = data.head._2.toSeq
    val ids = Similarity.ivfTopK(df, "vec_id", "embedding", q, 5,
        nLists = 8, nProbe = 3)
      .select("vec_id").as[Long].collect()
    assert(ids.contains(0L)) // own cluster is always the nearest probe
    val full = Similarity.ivfTopK(df, "vec_id", "embedding", q, 5,
        nLists = 8, nProbe = 8).as[(Long, Double)].collect().toSeq
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5)
      .as[(Long, Double)].collect().toSeq
    assert(full == exact)
  }

  /** The job path's answer for `ivfTopK(df, "vec_id", "embedding", q, k,
    * nLists, nProbe)`: bruteForceTopK over the probed lists of the cached
    * index. */
  private def viaJob(df: DataFrame, q: Seq[Double], k: Int, nLists: Int, nProbe: Int): Seq[Row] = {
    val fit = Similarity.ivfFit(df, "embedding", nLists, 42L, refit = false, "vec_id")
    val probes = Similarity.nearestCentroids(
      fit.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq, q, nProbe)
    Similarity.bruteForceTopK(fit.indexed.filter(col("ivf_cluster").isin(probes: _*)),
      "vec_id", "embedding", q, k).collect().toSeq
  }

  test("ivfTopK on the driver: a warm probe runs 0 jobs and equals the job path") {
    val data = corpus(300, 16, seed = 11L)
    val df = data.toDF("vec_id", "embedding")
    Similarity.ivfFitted(df, "embedding", nLists = 8)
    assert(Similarity.ivfFit(df, "embedding", 8, 42L, refit = false, "vec_id").lists.isDefined)
    for (i <- Seq(0, 17, 123)) {
      val q = data(i)._2.toSeq
      val (rows, jobs) = jobsLaunchedBy(
        Similarity.ivfTopK(df, "vec_id", "embedding", q, 10, nLists = 8, nProbe = 3).collect().toSeq)
      assert(jobs == 0, s"query $i")
      assert(rows == viaJob(df, q, 10, 8, 3), s"query $i")
    }
  }

  test("ivfTopK: a null vector, a zero-norm vector, a string id or a length mismatch takes the job path") {
    val data = corpus(40, 4, seed = 5L)
    val q = data(3)._2.toSeq
    val rows = data.map { case (i, v) => (i, Option(v)) }
    val corpora = Seq(
      "null vector" -> rows.updated(30, (30L, None)).toDF("vec_id", "embedding"),
      "zero-norm vector" -> rows.updated(30, (30L, Some(Array.fill(4)(0.0)))).toDF("vec_id", "embedding"),
      "string id" -> data.map { case (i, v) => (s"id$i", v) }.toDF("vec_id", "embedding"))
    for ((what, df) <- corpora) {
      Similarity.ivfFitted(df, "embedding", nLists = 4)
      assert(Similarity.ivfFit(df, "embedding", 4, 42L, refit = false, "vec_id").lists.isEmpty, what)
      // A zero-norm vector's cosine divides by zero, which the job path
      // rejects under ANSI; both paths must then fail alike.
      val (got, jobs) = jobsLaunchedBy(Try(
        Similarity.ivfTopK(df, "vec_id", "embedding", q, 5, nLists = 4, nProbe = 4).collect().toSeq))
      assert(jobs > 0, what)
      assert(got.toOption == Try(viaJob(df, q, 5, 4, 4)).toOption, what)
    }
    val df = data.toDF("vec_id", "embedding")
    Similarity.ivfFitted(df, "embedding", nLists = 4)
    assert(Similarity.ivfFit(df, "embedding", 4, 42L, refit = false, "vec_id").lists.isDefined)
    for (query <- Seq(q :+ 1.0, q.take(3))) {
      val (got, jobs) = jobsLaunchedBy(
        Similarity.ivfTopK(df, "vec_id", "embedding", query, 5, nLists = 4, nProbe = 2).collect().toSeq)
      assert(jobs > 0, s"query of length ${query.length}")
      assert(got == viaJob(df, query, 5, 4, 2), s"query of length ${query.length}")
    }
  }

  test("ivfTopK(refit = true) on a rewritten corpus answers from the new vectors") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_refit").toString + "/v.parquet"
    val before = corpus(60, 8, seed = 1L)
    val after = corpus(60, 8, seed = 2L)
    val q = after(9)._2.toSeq
    before.toDF("vec_id", "embedding").write.parquet(path)
    val stale = Similarity.ivfTopK(spark.read.parquet(path), "vec_id", "embedding", q, 5,
      nLists = 4, nProbe = 4).collect().toSeq
    after.toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val fresh = Similarity.ivfTopK(df, "vec_id", "embedding", q, 5, nLists = 4, nProbe = 4, refit = true)
      .collect().toSeq
    assert(Similarity.ivfFit(df, "embedding", 4, 42L, refit = false, "vec_id").lists.isDefined)
    assert(fresh == Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5).collect().toSeq)
    assert(fresh != stale)
  }

  test("ivfTopK on a catalog table rewritten in place answers from the new vectors without refit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rewrite").toString
    val c = new graft.engine.Catalog(spark, dir)
    val after = corpus(60, 8, seed = 4L)
    val q = after(9)._2.toSeq
    def top(df: DataFrame) = Similarity.ivfTopK(df, "vec_id", "embedding", q, 5, nLists = 4, nProbe = 4)
    corpus(60, 8, seed = 3L).toDF("vec_id", "embedding").write.parquet(s"$dir/v.parquet")
    val stale = top(c.table("v")).collect().toSeq
    after.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$dir/v.parquet")
    val df = c.table("v")
    val fresh = top(df).collect().toSeq
    // nProbe = nLists: the probed lists are the whole corpus
    assert(fresh == Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5).collect().toSeq)
    assert(fresh != stale)
    val (again, jobs) = jobsLaunchedBy(top(c.table("v")).collect().toSeq)
    assert(jobs == 0, "a second frame of the unchanged table hits the memo")
    assert(again == fresh)
  }

  test("ivfFitted: an evicted or refit entry drops its driver lists") {
    def small(tag: Int) = Seq((0L, Array(1.0, tag.toDouble)), (1L, Array(tag.toDouble, 1.0)),
      (2L, Array(2.0, 1.0 + tag))).toDF("vec_id", "embedding")
    def fitOf(df: DataFrame) = Similarity.ivfFit(df, "embedding", 2, 42L, refit = false, "vec_id")
    val refitted = small(100)
    val old = fitOf(refitted)
    assert(old.lists.isDefined)
    Similarity.ivfFitted(refitted, "embedding", nLists = 2, refit = true)
    assert(old.lists.isEmpty && fitOf(refitted).lists.isDefined)
    val victim = fitOf(small(200))
    assert(victim.lists.isDefined)
    (1 to SessionMemo.MaxEntries).foreach(i => fitOf(small(200 + i)))
    assert(victim.lists.isEmpty)
  }

  test("ivfIndex assigns every vector to one of nLists clusters") {
    val df = corpus(200, 8).toDF("vec_id", "embedding")
    val (indexed, centers) = Similarity.ivfIndex(df, "embedding", nLists = 4)
    assert(centers.length == 4)
    assert(indexed.count() == 200)
    val clusters = indexed.select("ivf_cluster").distinct().as[Int].collect().toSet
    assert(clusters.subsetOf((0 until 4).toSet))
  }

  test("ivfIndex is total on an offset id space (rank-based init)") {
    // Ids starting at 1000: round-12's id<k init threw here; the rank-based
    // init (k smallest ids) fits the same deterministic trajectory and on
    // dense-from-zero corpora is bit-identical to the oracles' id<k rule.
    val df = corpus(120, 8).toDF("vec_id", "embedding")
      .withColumn("vec_id", col("vec_id") + 1000L)
    val (indexed, centers) = Similarity.ivfIndex(df, "embedding", nLists = 4)
    assert(centers.length == 4)
    assert(indexed.count() == 120)
    val dense = corpus(120, 8).toDF("vec_id", "embedding")
    val (_, centersDense) = Similarity.ivfIndex(dense, "embedding", nLists = 4)
    // Same vectors, same rank order => identical fitted centroids.
    assert(centers.map(_.toSeq).toSeq == centersDense.map(_.toSeq).toSeq)
  }

  test("persisted IVF index: probes are partition-pruned reads") {
    val data = corpus(300, 16)
    val df = data.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvfIndex(df, "vec_id", "embedding", path, nLists = 8)
    val q = data.head._2.toSeq
    val top = Similarity.ivfTopKFromIndex(spark, path, "vec_id", "embedding",
      q, 5, nProbe = 2)
    val rows = top.collect() // one job: rows for the assertion, plan populated
    assert(rows.map(_.getLong(0)).contains(0L)) // own cluster is the nearest probe
    // The scan must carry partition filters on ivf_cluster — the pruning
    // that makes a probe touch nProbe/nLists of a 100 TB index.
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [ivf_cluster"), s"plan:\n$plan")
  }

  test("signBands fused kernel == composed per-band signBucket") {
    val bands = 6; val ppb = 5; val dim = 16
    val planes = Similarity.hyperplanes(bands * ppb, dim)
    val df = corpus(40, dim).toDF("vec_id", "embedding")
    val composed = df.select($"vec_id",
        array((0 until bands).map(b =>
          Similarity.signBucket(col("embedding"),
            planes.slice(b * ppb, (b + 1) * ppb))): _*).as("sigs"))
      .as[(Long, Seq[Long])].collect().toMap
    val fused = df.select($"vec_id",
        graft.functions.ArrayKernels.signBands(
          col("embedding").cast("array<double>"), bands, ppb, dim).as("sigs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused == composed)
  }

  test("bucketOf (driver) and signBucket (executor) agree") {
    val planes = Similarity.hyperplanes(nPlanes = 8, dim = 16)
    val data = corpus(20, 16)
    val df = data.toDF("vec_id", "embedding")
    val sparkBuckets = df
      .select($"vec_id", Similarity.signBucket(col("embedding"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    for ((id, v) <- data)
      assert(sparkBuckets(id) == Similarity.bucketOf(v.toSeq, planes), s"vec $id")
  }
}
