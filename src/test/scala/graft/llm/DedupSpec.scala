package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Dedup family (SURVEY.md §2.12 Y1/Y2): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard — semantics checked on planted near-duplicates. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private val nearDup = base.replace("warm", "cold") // 1-token edit
  private val distinct1 =
    "completely different text about spark distributed query engines and columnar storage formats"
  private val distinct2 =
    "yet another unrelated document discussing minhash signatures banding and jaccard similarity"

  private lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, distinct1), (3L, distinct2), (4L, base))
    .toDF("doc_id", "text")

  test("exact dedup keeps first by tiebreak; stats account total/kept/removed") {
    val out = Dedup.exact(docs, "text", Seq(col("doc_id")))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L)) // 4 dropped (== 0)
    val s = Dedup.exactStats(docs, "text").collect()(0)
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((5L, 4L, 1L)))
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exact(docs, "text", Seq(col("doc_id")))
    val twice = Dedup.exact(once, "text", Seq(col("doc_id")))
    assert(once.orderBy("doc_id").collect().toSeq == twice.orderBy("doc_id").collect().toSeq)
  }

  test("shingles: distinct k-gram hashes, count == tokens - k + 1 before dedup") {
    val n = docs.filter($"doc_id" === 2)
      .select(size(Dedup.shingles(col("text"), 3))).as[Int].head()
    // distinct1 has 12 tokens → 10 trigrams, all unique
    assert(n == 10)
  }

  test("minhash LSH finds the planted near-dup pair and the exact-dup pair") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"near-dup pair missing from $pairs") // 1-word edit
    assert(pairs.contains((0L, 4L)), s"exact-dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated doc never pairs
  }

  test("minhash jaccard estimate: exact duplicate scores 1.0") {
    val j = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3)
      .filter($"id_a" === 0 && $"id_b" === 4)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical text → identical signature; near-dup within hamming 16") {
    val sigs = docs.select($"doc_id", Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(4L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) > 16) // unrelated far apart
  }

  test("simhashNearDups: pigeonhole blocking finds close pairs, filters far ones") {
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 16)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((0L, 4L)))
    assert(out.find(t => t._1 == 0L && t._2 == 4L).get._3 == 0) // exact dup → distance 0
    assert(!pairs.contains((2L, 3L)))
  }

  test("dropNearDups removes every greater end of a near-dup edge, keeps the rest") {
    val cleaned = Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    // pairs found at 0.3: (0,1), (0,4) → drop {1, 4}
    assert(cleaned == Set(0L, 2L, 3L))
    // idempotent: nothing similar remains
    val again = Dedup.dropNearDups(
      Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.3),
      "doc_id", "text", threshold = 0.3).select("doc_id").as[Long].collect().toSet
    assert(again == cleaned)
  }

  test("SignatureUnion aggregator: group signature == signature of concatenated text") {
    // min commutes with union: aggregating per-doc signatures must equal the
    // signature of the union of shingle sets. Two docs with disjoint halves
    // of a vocabulary, grouped together, vs the concatenated text.
    val parts = Seq((1L, "g", base), (2L, "g", distinct1)).toDF("id", "grp", "text")
    val agg = parts
      .select(col("grp"), Dedup.minhashSignature(Dedup.shingles(col("text")), 32).as("sig"))
      .groupBy("grp").agg(Dedup.signatureUnion(col("sig"), 32).as("usig"))
      .select("usig").as[Seq[Long]].head()
    // Union of shingle SETS — not the signature of naive string concat (that
    // would add bridge shingles across the boundary). Compute expected by
    // unioning the two shingle arrays.
    val expected = parts
      .select(Dedup.shingles(col("text")).as("sh"))
      .agg(collect_list(col("sh")).as("all"))
      .select(Dedup.minhashSignature(flatten(col("all")), 32).as("sig"))
      .as[Seq[Long]].head()
    assert(agg == expected)
  }

  test("signatureJaccard estimates 1.0 for identical groups, < 1 otherwise") {
    val df = Seq((base, base), (base, distinct1)).toDF("ta", "tb")
    val js = df.select(Dedup.signatureJaccard(
        Dedup.minhashSignature(Dedup.shingles(col("ta")), 64),
        Dedup.minhashSignature(Dedup.shingles(col("tb")), 64)).as("j"))
      .as[Double].collect().toSeq
    assert(js(0) == 1.0)
    assert(js(1) < 0.3)
  }

  test("ngramJaccard: hand-computed value on a known pair") {
    // a: tokens t1 t2 t3 t4 → trigrams {t1 t2 t3, t2 t3 t4}
    // b: tokens t1 t2 t3 t5 → trigrams {t1 t2 t3, t2 t3 t5}
    // intersection 1, union 3 → 1/3
    val pairs = Seq(("w1 w2 w3 w4", "w1 w2 w3 w5")).toDF("ta", "tb")
    val j = pairs.select(Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("j"))
      .as[Double].head()
    assert(j == 0.3333)
  }

  test("ngramJaccard: identical → 1.0, disjoint → 0.0") {
    val pairs = Seq((base, base), (base, distinct1)).toDF("ta", "tb")
    val js = pairs.select(Dedup.ngramJaccard(col("ta"), col("tb")).as("j"))
      .as[Double].collect().toSeq
    assert(js == Seq(1.0, 0.0))
  }

  test("ngramContainment: a quoted subset scores 1.0 where Jaccard dilutes") {
    // a is quoted verbatim inside the larger b: every trigram of a appears
    // in b → containment(a in b) = 1.0, while Jaccard = |A|/|B| is small
    // and the reverse containment matches it.
    val quoted = "alpha beta gamma delta"
    val host = s"intro words then $quoted and a long tail of unrelated filler tokens here"
    val pairs = Seq((quoted, host)).toDF("ta", "tb")
    val r = pairs.select(
        Dedup.ngramContainment(col("ta"), col("tb")).as("ab"),
        Dedup.ngramContainment(col("tb"), col("ta")).as("ba"),
        Dedup.ngramJaccard(col("ta"), col("tb")).as("j"))
      .as[(Double, Double, Double)].head()
    assert(r._1 == 1.0, s"contained side should be 1.0: $r")
    assert(r._2 < 0.25 && r._3 < 0.25, s"host side / jaccard should dilute: $r")
  }

  test("connectedComponents labels every node with its min reachable id") {
    // two components: a 3-chain {1,2,3} and a pair {5,6}
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val comps = Dedup.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { round =>
      val edges = Seq.fill(12)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        // BOTH execution paths against the same reference: the driver
        // union-find cutover (default threshold) and the distributed
        // pointer-jumping loop (threshold 0 forces it).
        val got = Dedup.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
          .as[(Long, Long)].collect().toMap
        val gotDist = Dedup.connectedComponents(edges.toDF("src", "dst"), "src", "dst",
            driverThreshold = 0L)
          .as[(Long, Long)].collect().toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .groupBy(find).flatMap { case (_, ns) => ns.map(_ -> ns.min) }.toMap
        assert(got == expected, s"round $round (driver path): edges=$edges")
        assert(gotDist == expected, s"round $round (distributed path): edges=$edges")
      }
    }
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // path 0-1-2-…-40: diameter 40 ≫ maxIter, so plain one-hop propagation
    // would NOT converge — pointer jumping must.
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val comps = Dedup.connectedComponents(edges, "src", "dst", maxIter = 10,
        driverThreshold = 0L) // force the distributed path — it's under test
      .as[(Long, Long)].collect()
    assert(comps.length == 41 && comps.forall(_._2 == 0L),
      s"unconverged labels: ${comps.filter(_._2 != 0L).take(5).toSeq}")
  }
}
