package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the tokenizer-training
  * step of an LLM data pipeline, shaped for Spark's execution model:
  *
  *   - The CORPUS is read exactly once, collapsing to the word-frequency
  *     vocabulary — the only corpus-wide shuffle (the q_bpe_pairs economics:
  *     pair statistics are frequency-weighted aggregates over DISTINCT
  *     words, so 100 TB of text costs one word count, not one scan per
  *     merge).
  *   - Each merge iteration shuffles only the vocabulary frame (adjacent-
  *     symbol pair counts weighted by word frequency), and only the single
  *     argmax row is ever collected — control flow on the driver, data on
  *     the cluster, the PageRank loop shape.
  *   - Merge application is a codegen'd higher-order fold over each word's
  *     symbol array; every iteration localCheckpoints its vocab to cut
  *     lineage (without the barrier, CollapseProject re-inlines the chained
  *     array expressions and the per-iteration cost compounds — the
  *     winnowing lesson) and unpersists its predecessor, so the loop holds
  *     exactly one materialized vocab at a time.
  *
  * Merge semantics: greedy left fold — scanning a word left to right, pair
  * (a, b) merges whenever the last emitted symbol is `a` and the incoming
  * one is `b`. This coincides with the textbook non-overlapping scan
  * whenever a merged symbol differs from its left constituent (always true
  * here: the fold's merged symbol is strictly longer than either side).
  * The reference trainer's `</w>` end-of-word sentinel is kept, so merges
  * distinguish word-final from word-internal contexts.
  */
object Bpe {

  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Initial vocabulary: one row per distinct word — frequency plus the
    * symbol array (characters, then the `</w>` sentinel). */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .withColumn("syms", concat(
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        array(lit("</w>"))))

  /** One learned merge: left symbol, right symbol, frequency-weighted pair
    * count at the time it was chosen (ties broken lexicographically). */
  final case class Merge(left: String, right: String, score: Long)

  /** Learn up to `n` merges from `v0` (a `vocab(...)` frame). Returns the
    * merge table in rank order plus the final segmented vocabulary
    * (word, f, syms) with all merges applied. The vocab frame is
    * localCheckpoint'ed; through [[trained]] it follows the
    * [[SessionMemo]] validity contract. */
  def learnMerges(v0: DataFrame, n: Int): (Seq[Merge], DataFrame) = {
    var v = v0.select(col("word"), col("f"), col("syms")).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (merges.size < n && !exhausted) {
      val top = v.filter(size(col("syms")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Row(a: String, b: String, cnt: Long) = top(0)
        val ab = sqlLit(a + b)
        val nv = v.withColumn("syms", expr(
          s"aggregate(syms, CAST(array() AS array<string>), (acc, x) -> " +
            s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${sqlLit(a)}' " +
            s"AND x = '${sqlLit(b)}' " +
            s"THEN concat(slice(acc, 1, size(acc) - 1), array('$ab')) " +
            s"ELSE concat(acc, array(x)) END)")).localCheckpoint()
        graft.tools.CacheHygiene.releaseLocalCheckpoint(v)
        v = nv
        merges += Merge(a, b, cnt)
      }
    }
    (merges.toSeq, v)
  }

  // ------------------------------------------------------------ memo
  // Two declared queries (the merge table and the segmentation fertility
  // audit) train the same tokenizer; pay the iteration loop once per
  // (session, corpus plan, n).
  private val memo = new SessionMemo[(Seq[Merge], DataFrame)](
    t => graft.tools.CacheHygiene.releaseLocalCheckpoint(t._2))

  /** Memoized trainer keyed by (session, canonicalized vocab-input plan, n). */
  def trained(docs: DataFrame, textCol: String, n: Int): (Seq[Merge], DataFrame) = {
    val v0 = vocab(docs, textCol)
    memo.getOrBuild(v0, n)(learnMerges(v0, n))
  }
}
