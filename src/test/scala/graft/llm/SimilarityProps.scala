package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.TestSpark

/** ScalaCheck properties for the incremental-IVF primitive: the
  * Euclidean-argmin assignment (argmax of 2·u·c − ‖c‖², the classic
  * predict identity) [[Similarity.assignToCentroids]] uses must agree with
  * [[Similarity.ivfIndex]]'s own final-assignment rule ((u−c)² fold,
  * array_position-of-min) on the fitted centroids — the exact claim the
  * append path rests on. (NOT argmax cosine: centroids are means of unit
  * vectors, so their norms differ per cluster and the two rules diverge —
  * this property falsified the cosine formulation before the Euclidean
  * rule landed.) Random small vector sets, random k, every row checked.
  */
object SimilarityProps extends Properties("graft.llm.similarity") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Each case pays a full (if tiny) KMeans fit — several Spark jobs; 12
  // cases keep the property inside the suite's time budget while still
  // sweeping n/d/k shapes.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  // Non-degenerate random vectors in a small dim: values bounded away from
  // the zero vector so normalization is defined; duplicates allowed.
  private val vecsGen: Gen[(List[Array[Double]], Int)] = for {
    n <- Gen.chooseNum(6, 20)
    d <- Gen.chooseNum(2, 4)
    k <- Gen.chooseNum(2, 3)
    vs <- Gen.listOfN(n, Gen.listOfN(d,
      Gen.chooseNum(-5, 5).map(_.toDouble + 0.25)).map(_.toArray))
  } yield (vs, k)

  property("assignToCentroids == ivfIndex assignment on the fitted model") =
    Prop.forAll(vecsGen) { case (vs, k) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("id", "vec")
      val (assigned, centers) =
        Similarity.ivfIndex(df, "vec", k, seed = 7L, idCol = "id")
      val expect = assigned.select("id", "ivf_cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = Similarity.assignToCentroids(df, "vec",
          centers.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
        .select("id", "ivf_cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // Agreement is required except at ulp-level distance ties, where
      // both rules pick SOME nearest center — accept any center whose
      // squared Euclidean distance to the normalized row ties the winner.
      got.forall { case (id, c) =>
        if (expect(id) == c) true
        else {
          val v = vs(id.toInt)
          val n = math.sqrt(v.map(x => x * x).sum)
          val u = v.map(_ / n)
          def d2(ctr: Array[Double]): Double =
            u.zip(ctr).map { case (x, y) => (x - y) * (x - y) }.sum
          math.abs(d2(centers(c)) - d2(centers(expect(id)))) < 1e-9
        }
      }
    }

  /** A small corpus drawn partly from a pool of 3 vectors, so duplicated
    * vectors (and tied sims) are common; the query is drawn the same way.
    * Components are never 0, so every norm is non-zero. */
  private final case class Probe(vs: List[List[Double]], query: List[Double], k: Int,
                                 nLists: Int, nProbe: Int, floats: Boolean, intIds: Boolean)

  private val probeGen: Gen[Probe] = for {
    d <- Gen.chooseNum(2, 4)
    fresh = Gen.listOfN(d, Gen.chooseNum(-3, 3).map(_.toDouble + 0.25))
    pool <- Gen.listOfN(3, fresh)
    drawn = Gen.oneOf(Gen.oneOf(pool), fresh)
    n <- Gen.chooseNum(6, 20)
    vs <- Gen.listOfN(n, drawn)
    query <- drawn
    k <- Gen.chooseNum(1, 8)
    nLists <- Gen.chooseNum(2, 3)
    nProbe <- Gen.chooseNum(1, nLists)
    floats <- Gen.oneOf(true, false)
    intIds <- Gen.oneOf(true, false)
  } yield Probe(vs, query, k, nLists, nProbe, floats, intIds)

  property("ivfTopK's driver answer == bruteForceTopK over the probed lists of the cached index") =
    Prop.forAll(probeGen) { c =>
      val df: DataFrame = (c.floats, c.intIds) match {
        case (true, true) => c.vs.zipWithIndex.map { case (v, i) => (i, v.map(_.toFloat)) }.toDF("id", "vec")
        case (true, false) => c.vs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }.toDF("id", "vec")
        case (false, true) => c.vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "vec")
        case (false, false) => c.vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
      }
      val fit = Similarity.ivfFit(df, "vec", c.nLists, seed = 42L, refit = false, idCol = "id")
      val probes = Similarity.nearestCentroids(
        fit.centers.zipWithIndex.map { case (ctr, i) => (i, ctr.toSeq) }.toSeq, c.query, c.nProbe)
      val ((schema, rows), jobs) = TestSpark.jobsLaunchedBy {
        val top = Similarity.ivfTopK(df, "id", "vec", c.query, c.k, c.nLists, c.nProbe)
        (top.schema, top.collect().toSeq)
      }
      val viaJob = Similarity.bruteForceTopK(fit.indexed.filter(col("ivf_cluster").isin(probes: _*)),
        "id", "vec", c.query, c.k)
      fit.lists.isDefined && jobs == 0 && schema == viaJob.schema && rows == viaJob.collect().toSeq
    }
}
