package graftbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** The LLM-corpus curation inputs and operations: MinHash near-dup passes
  * over a document corpus with planted near-duplicate pairs. Each pass
  * takes a fresh slice of the corpus. */
final class DedupCorpus(ctx: Ctx) {
  import ctx.spark
  import DedupCorpus._

  val docsPerSlice: Int = if (ctx.tiny) 400 else 1000
  private val nSlices = if (ctx.tiny) 8 else 24
  private var planted: Map[Int, Set[(Long, Long)]] = Map.empty
  private var nextSlice = 0
  var textMb = 0.0

  private lazy val docs = spark.read.parquet(ctx.path("docs.parquet"))

  /** Random token streams over a 30k-word vocabulary; about a ninth of the
    * docs are second halves of planted pairs, copies of another doc of the
    * slice with ~4% of its tokens replaced (word-3-shingle Jaccard >= 0.7,
    * checked here). Ids are shuffled within the slice. */
  def generate(): Unit = {
    import spark.implicits._
    val r = Gen.rng(ctx.seed, 7)
    val words = Gen.vocabulary(r, 30000)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
    val pairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    for (s <- 0 until nSlices) {
      val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
      val planting = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      while (texts.size < docsPerSlice) {
        val a = Array.fill(60 + r.nextInt(90))(words(r.nextInt(words.length)))
        texts += a
        if (texts.size < docsPerSlice && r.nextInt(9) == 0) {
          var b = a
          do {
            b = a.clone()
            for (_ <- 0 to a.length / 25) b(r.nextInt(b.length)) = words(r.nextInt(words.length))
          } while (jaccard3(a, b) < 0.7)
          planting += ((texts.size - 1, texts.size))
          texts += b
        }
      }
      val ids = Gen.shuffle(r, (0 until docsPerSlice).map(i => s.toLong * docsPerSlice + i))
      texts.indices.foreach(i => rows += ((ids(i), s, texts(i).mkString(" "))))
      pairs(s) = planting.map { case (x, y) => (ids(x) min ids(y), ids(x) max ids(y)) }.toSet
    }
    planted = pairs.toMap
    textMb = rows.map(_._3.length.toLong).sum / 1e6
    rows.toSeq.toDF("doc_id", "slice", "text").repartition(ctx.cpus, col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(ctx.path("docs.parquet"))
  }

  private def jaccard3(a: Array[String], b: Array[String]): Double = {
    def sh(t: Array[String]) = t.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  private def slice(s: Int): DataFrame =
    docs.filter(col("slice") === s).select("doc_id", "text")

  /** One near-dup pass over the next slice (slices are reused only after
    * all have been used). The shingle cache the pass leaves behind is
    * cleared afterwards, as `minhashNearDups` documents. A traced pass is
    * followed by a separate materialization of the MinHash signatures of
    * the same slice, which times the native kernels alone. */
  def op(tr: Tracer, p: Phase): Unit = {
    val s = nextSlice % nSlices
    nextSlice += 1
    val t0 = System.nanoTime()
    val found = p.attempt(s"dedup slice $s") {
      tr.op("dedup") {
        tr.span("dedup.near_dups") {
          Dedup.minhashNearDups(slice(s), "doc_id", "text", threshold = Threshold).collect()
        }
      }
    }
    val ns = System.nanoTime() - t0
    spark.catalog.clearCache()
    for (rows <- found) {
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = planted(s)
      val recall = (pairs intersect expected).size.toDouble / expected.size
      if (p.check(s"dedup slice $s: ${pairs.size} pairs, ${expected.size} planted, recall $recall") {
          pairs.subsetOf(expected) && recall >= MinRecall
        }) {
        p.record("dedup", ns / 1e6)
        p.record("dedup_rows", docsPerSlice.toDouble)
        p.record("pairs_found_per_planted", pairs.size.toDouble / expected.size)
      }
    }
    if (tr ne Untraced) tr.op("signature") {
      tr.span("functions.signature") {
        slice(s).select(Dedup.minhashSignature(Dedup.shingles(col("text"))))
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  def detail(p: Phase): Map[String, Any] = Map(
    "dedup_docs_per_s" -> p.ms("dedup").size * docsPerSlice / (p.ms("dedup").sum / 1000),
    "dedup_ops" -> p.ms("dedup").size, "docs_per_slice" -> docsPerSlice,
    "dedup_recall" -> Stats.mean(p.ms("pairs_found_per_planted")), "corpus_text_mb" -> textMb)

  def layers(p: Phase, t: TraceReport): Map[String, Double] = Map(
    "dedup.near_dups_ms" -> t.medianMs("dedup.near_dups"),
    "dedup.pairs_found_per_planted" -> Stats.mean(p.ms("pairs_found_per_planted")),
    "functions.signature_ms" -> t.medianMs("functions.signature"))
}

object DedupCorpus {
  val Threshold = 0.5
  /** A pass fails its check below this share of planted pairs found. */
  val MinRecall = 0.98
}

/** A clustered 64-d vector corpus behind an IVF index: fitted once per
  * phase with `Similarity.ivfFitted`, then probed by `Similarity.ivfTopK`
  * top-10 queries drawn from the same clusters. */
final class VectorIndex(ctx: Ctx) {
  import ctx.spark
  import VectorIndex._

  val nVectors: Int = if (ctx.tiny) 4000 else 10000
  val nQueries = 250
  private var queries: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var truth: IndexedSeq[Set[Long]] = IndexedSeq.empty
  private val crossChecked = new AtomicInteger

  private lazy val vectors = spark.read.parquet(ctx.path("vectors.parquet"))
  def mb: Double = nVectors.toDouble * Dim * 8 / 1e6

  /** Gaussian clusters around random unit centres; queries are fresh draws
    * from the same clusters. The exact top-10 of every query is computed
    * here, by the rule of `Similarity.bruteForceTopK`. */
  def generate(): Unit = {
    val r = Gen.rng(ctx.seed, 8)
    val centres = Array.fill(Clusters) {
      val c = Array.fill(Dim)(r.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    def draw(): Array[Double] = centres(r.nextInt(Clusters)).map(x => x + r.nextGaussian() * Noise)
    val vecs = Array.fill(nVectors)(draw())
    queries = IndexedSeq.fill(nQueries)(draw())
    truth = queries.map(q => exactTopK(vecs, q))
    spark.createDataFrame(vecs.indices.map(i => (i.toLong, vecs(i).toSeq)))
      .toDF("vec_id", "vec").repartition(ctx.cpus)
      .write.mode("overwrite").parquet(ctx.path("vectors.parquet"))
  }

  /** Exact top-K ids by cosine rounded to 4 places, ties to the lower id.
    * Rounding never reorders distinct raw values, so the winners are among
    * the vectors whose raw cosine is within 1e-4 of the K-th best. */
  private def exactTopK(vecs: Array[Array[Double]], q: Array[Double]): Set[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val cos = vecs.map { v =>
      var d, n = 0.0
      var j = 0
      while (j < Dim) { d += v(j) * q(j); n += v(j) * v(j); j += 1 }
      d / (math.sqrt(n) * qn)
    }
    val kth = cos.sorted(Ordering[Double].reverse)(K - 1)
    cos.indices.filter(i => cos(i) >= kth - 1e-4)
      .map(i => (BigDecimal(cos(i)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, i.toLong))
      .sortBy { case (sim, id) => (-sim, id) }.take(K).map(_._2).toSet
  }

  /** Fit the index (refitting any earlier one) and materialize its cached
    * frame, which the first probe would otherwise pay for. */
  def build(tr: Tracer, p: Phase): Unit = {
    val t0 = System.nanoTime()
    tr.op("build") {
      tr.span("similarity.fit") {
        Similarity.ivfFitted(vectors, "vec", NLists, refit = true)._1
          .write.format("noop").mode("overwrite").save()
      }
    }
    p.record("build", (System.nanoTime() - t0) / 1e6)
    crossChecked.set(0)
  }

  /** Probe query `i` (inside the caller's op span); returns the rows
    * returned and the check. The first `CrossChecked` queries after each
    * build also fetch `Similarity.bruteForceTopK` and require it to agree
    * with the generator's exact answer. */
  def query(i: Int, tr: Tracer, p: Phase): (Long, () => Boolean) = {
    val q = queries(i).toSeq
    val (got, df) = tr.span("similarity.probe") {
      val df = Similarity.ivfTopK(vectors, "vec_id", "vec", q, K, NLists, NProbe)
      (df.collect(), df)
    }
    (got.length.toLong, () => {
      if (tr ne Untraced) p.record("rows_scanned", PlanRows.scanned(df).toDouble)
      val ids = got.map(_.getLong(0))
      val sims = got.map(_.getDouble(1))
      val recall = (ids.toSet intersect truth(i)).size.toDouble / K
      p.record("recall_at_10", recall)
      (crossChecked.getAndIncrement() >= CrossChecked ||
        Similarity.bruteForceTopK(vectors, "vec_id", "vec", q, K).collect().map(_.getLong(0)).toSet == truth(i)) &&
        ids.length == K && ids.distinct.length == K &&
        sims.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)) && recall >= MinRecall
    })
  }

  def detail(p: Phase): Map[String, Any] = Map(
    "ann_recall_at_10" -> Stats.mean(p.ms("recall_at_10")),
    "vectors" -> nVectors, "vectors_mb" -> mb)

  def layers(p: Phase, t: TraceReport): Map[String, Double] = Map(
    "similarity.fit_ms" -> t.medianMs("similarity.fit"),
    "similarity.probe_ms" -> t.medianMs("similarity.probe"),
    "similarity.rows_scanned_per_query" -> Stats.mean(p.ms("rows_scanned")),
    "similarity.recall_at_10" -> Stats.mean(p.ms("recall_at_10")))
}

object VectorIndex {
  val K = 10
  val Dim = 64
  val Clusters = 32
  val Noise = 0.05
  val NLists = 16
  val NProbe = 4
  /** Probes per build whose exact answer is also fetched from
    * `Similarity.bruteForceTopK` and compared with the generator's. */
  val CrossChecked = 5
  /** A probe fails its check below this recall@10. */
  val MinRecall = 0.7
}
