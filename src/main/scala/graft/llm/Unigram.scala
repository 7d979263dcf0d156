package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.UnigramViterbi

/** Unigram-LM tokenizer training (the EM half of SentencePiece, Kudo 2018):
  * the complement of [[Bpe]] — where BPE grows a vocabulary bottom-up by
  * merging, the unigram model starts from an over-complete substring
  * vocabulary and lets EM reweight it, with Viterbi segmentation as the
  * E-step. Shaped for Spark's execution model, the [[Bpe]] economics:
  *
  *   - The CORPUS is read exactly once, collapsing to the word-frequency
  *     vocabulary; seeding and every EM iteration run over that distinct-
  *     word frame, so 100 TB of text costs one word count.
  *   - The MODEL travels as plan-embedded constants inside the
  *     [[UnigramViterbi]] codegen kernel (pieces + log-probs as expression
  *     state) — each E-step is one stateless scan of the vocab frame, no
  *     model join, no shuffle beyond the piece-count partial aggregate.
  *   - Only model-sized data is ever collected (piece counts per
  *     iteration), the k-means/logreg collect discipline.
  *
  * Hard-EM (Viterbi counts, not forward–backward expectations) keeps every
  * step exactly mirrorable by the spec; the smoothing rule is explicit:
  * a piece survives an iteration iff its Viterbi count is positive, except
  * single characters, which are pinned at weight 0.5 when unused so the
  * model never loses closure over the alphabet.
  */
object Unigram {

  /** One trained piece: final Viterbi count and log-probability. */
  final case class Piece(piece: String, cnt: Long, logp: Double)

  /** The declared-query training configuration — one definition shared
    * with the DuckDB oracle builder (graft.UnigramOracles) so the unrolled
    * CTE chain's depth, substring cap, and vocab cut can never drift from
    * what [[trained]] actually runs. */
  val DefaultIters = 3
  val DefaultMaxLen = 4
  val DefaultVocabSize = 200

  /** Log-probabilities live on a 6-decimal grid (the kmeansLloyd round-9
    * discipline, applied to ln): Math.log and another engine's ln can
    * differ at the last ulp, and a raw-logp Viterbi comparison at that ulp
    * would fork the whole EM trajectory — snapping pins it, which is what
    * lets the training chain carry a DuckDB oracle. HALF_UP == away-from-
    * zero for the negative logps, matching SQL round(). */
  def snapLogp(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Word-frequency vocabulary: the single corpus-sized pass. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** Seed vocabulary: every substring of length 1..maxLen of every word,
    * weighted by word frequency; ALL single characters survive (alphabet
    * closure) plus the top `vocabSize` multi-character substrings by
    * (weight desc, piece). */
  def seed(vocab: DataFrame, maxLen: Int, vocabSize: Int): DataFrame = {
    val subs = vocab.select(col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  filter(transform(sequence(1, $maxLen), l ->
           |    CASE WHEN i + l - 1 <= length(word)
           |         THEN substring(word, i, l) ELSE NULL END),
           |  x -> x IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("f").as("w"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multis = subs.filter(length(col("piece")) > 1)
      .orderBy(col("w").desc, col("piece")).limit(vocabSize)
    chars.unionAll(multis)
  }

  /** EM-train `iters` hard-EM rounds; returns the final model table sorted
    * by (cnt desc, piece). Deterministic end to end: seeding, tie-breaks,
    * and the Viterbi longest-piece-on-ties rule are all total orders. */
  def train(vocab: DataFrame, iters: Int, maxLen: Int,
            vocabSize: Int): Seq[Piece] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val seeded = seed(vocab, maxLen, vocabSize)
      .as[(String, Long)].collect().sortBy(_._1)
    // init: probabilities proportional to seed substring weights
    var model: Seq[(String, Double)] = {
      val tot = seeded.map(_._2).sum.toDouble
      seeded.map { case (p, w) => (p, snapLogp(math.log(w / tot))) }
    }
    var lastCounts = Map.empty[String, Long]
    for (_ <- 1 to iters) {
      val pieces = model.map(_._1).toArray
      val lps = model.map(_._2).toArray
      // E-step: one scan of the vocab frame through the codegen kernel
      val counts = vocab.select(col("f"),
          explode(UnigramViterbi(col("word"), pieces, lps)).as("piece"))
        .groupBy("piece").agg(sum("f").as("cnt"))
        .as[(String, Long)].collect().toMap
      lastCounts = counts
      // M-step: renormalize; unused multi-char pieces die, unused single
      // chars are pinned at weight 0.5 so the alphabet stays covered
      val kept = model.map(_._1).flatMap { p =>
        val c = counts.getOrElse(p, 0L)
        if (c > 0) Some((p, c.toDouble))
        else if (p.length == 1) Some((p, 0.5))
        else None
      }
      val tot = kept.map(_._2).sum
      model = kept.map { case (p, w) => (p, snapLogp(math.log(w / tot))) }
        .sortBy(_._1)
    }
    model.map { case (p, lp) =>
      Piece(p, lastCounts.getOrElse(p, 0L), lp)
    }.sortBy(x => (-x.cnt, x.piece))
  }

  // ------------------------------------------------------------ memo
  // Two declared queries (the model table and the segmentation audit)
  // train the same tokenizer; pay the EM loop once per (session,
  // canonicalized vocab plan, params).
  private val memo = new SessionMemo[Seq[Piece]](_ => ())

  /** Memoized trainer over a documents frame. */
  def trained(docs: DataFrame, textCol: String, iters: Int = DefaultIters,
              maxLen: Int = DefaultMaxLen,
              vocabSize: Int = DefaultVocabSize): Seq[Piece] = {
    val v = wordFreq(docs, textCol)
    memo.getOrBuild(v, iters, maxLen, vocabSize)(train(v, iters, maxLen, vocabSize))
  }

  /** The trained kernel as a column function (for the segmentation query). */
  def segmenter(model: Seq[Piece]): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val byPiece = model.sortBy(_.piece)
    val pieces = byPiece.map(_.piece).toArray
    val lps = byPiece.map(_.logp).toArray
    c => UnigramViterbi(c, pieces, lps)
  }

  /** Scorer mirror of [[segmenter]] (total Viterbi log-prob per word),
    * driver-side — used by the declared segmentation query to attach the
    * score to a bounded word panel. */
  def scorer(model: Seq[Piece]): String => Double = {
    val byPiece = model.sortBy(_.piece)
    val kernel = UnigramViterbi(
      org.apache.spark.sql.GraftSqlBridge.expression(lit("x")),
      byPiece.map(_.piece).toArray, byPiece.map(_.logp).toArray)
    w => kernel.score(org.apache.spark.unsafe.types.UTF8String.fromString(w))
  }
}
