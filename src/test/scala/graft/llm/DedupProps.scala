package graft.llm

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.TestSpark

/** ScalaCheck properties for the similarity kernels added late in round 5:
  * Broder containment bounds and subset law, and the sum-vector diversity
  * identity against brute-force mean pairwise dot on arbitrary vector sets;
  * and the banded-LSH near-dup operators against exact scores on small
  * corpora with planted near-duplicates. */
object DedupProps extends Properties("graft.llm.dedup") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private val textGen: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  // the prefix law needs real trigrams on the contained side — under 3
  // tokens the kernel clamps to a single whole-text gram, which a longer
  // host text can never contain
  private val text3Gen: Gen[String] =
    Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  property("containment in [0,1]; full containment when A (>=3 tokens) is a prefix of B") =
    Prop.forAllNoShrink(text3Gen, textGen) { (a, extra) =>
      val b = s"$a $extra"
      val pairs = Seq((a, b)).toDF("ta", "tb")
      val (ab, ba) = pairs.select(
          Dedup.ngramContainment(col("ta"), col("tb")).as("ab"),
          Dedup.ngramContainment(col("tb"), col("ta")).as("ba"))
        .as[(Double, Double)].head()
      // every n-gram of a prefix is an n-gram of the longer text
      ab == 1.0 && ba >= 0.0 && ba <= 1.0
    }

  property("containment(a,a) == 1 and jaccard <= min(containments)") =
    Prop.forAll(textGen, textGen) { (a, b) =>
      val pairs = Seq((a, b)).toDF("ta", "tb")
      val (ab, ba, j, self) = pairs.select(
          Dedup.ngramContainment(col("ta"), col("tb")).as("ab"),
          Dedup.ngramContainment(col("tb"), col("ta")).as("ba"),
          Dedup.ngramJaccard(col("ta"), col("tb")).as("j"),
          Dedup.ngramContainment(col("ta"), col("ta")).as("self"))
        .as[(Double, Double, Double, Double)].head()
      // |A∩B|/|A∪B| <= |A∩B|/max(|A|,|B|) = min of the two containments;
      // rounding to 4dp can perturb by at most 1e-4 on each side
      self == 1.0 && j <= math.min(ab, ba) + 2e-4
    }

  /** Checks `p` on `n` samples, as one property evaluation: for properties
    * whose every sample runs several Spark jobs, without lowering the
    * sample count of the cheap properties of this object. */
  private def sampled(n: Int)(p: Prop): Prop = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(n), p)
    Prop.propBoolean(r.passed) :| r.status.toString
  }

  /** Base texts of 3-12 words over a small vocabulary, each planted with an
    * exact copy, a one-word edit, both or neither; ids are shuffled so id
    * order is not insertion order. */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.chooseNum(3, 6)
    bases <- Gen.listOfN(n, text3Gen)
    plants <- Gen.listOfN(n, Gen.chooseNum(0, 3))
    edits <- Gen.listOfN(n, word)
    texts = bases.zip(plants).zip(edits).flatMap { case ((t, pl), w) =>
      val ws = t.split(" ")
      Seq(t) ++ (if ((pl & 1) != 0) Seq(t) else Nil) ++
        (if ((pl & 2) != 0) Seq(ws.updated(ws.length / 2, w).mkString(" ")) else Nil)
    }
    ids <- Gen.pick(texts.size, 0L until 500L)
    order <- Gen.listOfN(texts.size, Gen.chooseNum(0, 1 << 20))
  } yield ids.zip(order).sortBy(_._2).map(_._1).toSeq.zip(texts)

  /** Vectors with a non-zero first component, each possibly followed by a
    * near-duplicate (one component nudged by 0.1). */
  private val vecSetGen: Gen[List[Seq[Double]]] = for {
    n <- Gen.chooseNum(3, 8)
    vs <- Gen.listOfN(n, for {
      h <- Gen.chooseNum(1, 5)
      t <- Gen.listOfN(5, Gen.chooseNum(-5, 5))
    } yield (h :: t).map(_.toDouble))
    dup <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield vs.zip(dup).flatMap { case (v, d) =>
    if (d) Seq(v, v.updated(1, v(1) + 0.1)) else Seq(v)
  }

  private def grams(t: String): Set[String] = t.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  property("MinHash pairs are ordered, unique and exactly verified; cosineNearDups ⊆ cosineAllPairs") =
    sampled(8)(Prop.forAllNoShrink(corpusGen, Gen.oneOf(0.3, 0.5, 0.8), vecSetGen) {
      (corpus, threshold, vecs) =>
        val docs = corpus.toDF("doc_id", "text")
        val text = corpus.toMap
        def exact(a: Long, b: Long): Double = {
          val (x, y) = (grams(text(a)), grams(text(b)))
          round4((x intersect y).size.toDouble / (x union y).size)
        }
        // an exact copy has identical signatures, so it shares every band
        val copies = corpus.groupBy(_._2).values.flatMap { g =>
          val ids = g.map(_._1).sorted
          for (i <- ids; j <- ids if i < j) yield (i, j)
        }.toSet
        val minhash = Seq(
          Dedup.minhashNearDups(docs, "doc_id", "text", threshold),
          Dedup.minhashNearDupsPortable(docs, "doc_id", "text", threshold)
        ).map(_.as[(Long, Long, Double)].collect().toSeq)
        spark.catalog.clearCache()
        val minhashOk = minhash.forall { pairs =>
          val ids = pairs.map(p => (p._1, p._2))
          pairs.forall { case (a, b, j) => a < b && j == exact(a, b) && j >= threshold } &&
            ids.distinct.size == ids.size && copies.subsetOf(ids.toSet)
        }
        val vdf = vecs.zipWithIndex.map { case (v, i) => (i * 7L % 101, v) }
          .toDF("vec_id", "embedding")
        val near = Similarity.cosineNearDups(vdf, "vec_id", "embedding", 0.9,
            bands = 8, planesPerBand = 2)
          .as[(Long, Long, Double)].collect().toSeq
        val all = Similarity.cosineAllPairs(vdf, "vec_id", "embedding", 0.9)
          .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
        (Prop.propBoolean(minhashOk) :| s"minhash pairs $minhash of $corpus") &&
          (Prop.propBoolean(near.forall { case (a, b, s) => all.get((a, b)).contains(s) }) :|
            s"cosine pairs $near not in $all")
    })

  private val vecsGen: Gen[List[List[Double]]] =
    Gen.chooseNum(2, 8).flatMap { n =>
      Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-4, 4).map(_.toDouble)))
    }

  property("sum-vector identity == brute-force mean pairwise dot") =
    Prop.forAll(vecsGen) { vecs =>
      // identical shape to q_embed_diversity, single label
      val df = vecs.zipWithIndex.map { case (v, i) => (0, i.toLong, v) }
        .toDF("label", "vec_id", "embedding")
      val terms = df.select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      val perDim = terms.groupBy("label", "d")
        .agg(sum(col("x").cast("decimal(28,12)")).as("sd"),
          sum((col("x") * col("x")).cast("decimal(28,12)")).as("sq"),
          count(lit(1)).as("nd"))
      val got = perDim.groupBy("label")
        .agg(sum(col("sd").cast("double") * col("sd").cast("double")).as("ssq"),
          sum(col("sq")).as("nsum"), max(col("nd")).as("n"))
        .select((col("ssq") - col("nsum").cast("double")) /
          (col("n") * (col("n") - lit(1.0))))
        .as[Double].head()
      val n = vecs.size
      var tot = 0.0
      for (i <- vecs.indices; j <- (i + 1) until n)
        tot += vecs(i).zip(vecs(j)).map { case (x, y) => x * y }.sum
      val brute = 2.0 * tot / (n.toDouble * (n - 1))
      math.abs(got - brute) < 1e-9
    }
}
