package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (SURVEY.md §2.12 Y4 and the
  * north-star mandate): token counting, quality scoring, language ID,
  * document fingerprinting. All are built from codegen'd / higher-order
  * column functions — no UDFs — so they stay inside whole-stage codegen and
  * scale linearly with no shuffle until the final aggregation.
  */
object TextStats {

  /** Whitespace tokens. Word-soup corpora are single-space separated; the
    * regex split also swallows runs of whitespace. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: splits on word boundaries AND digit/letter
    * transitions, the first-order approximation of byte-pair tokenizers
    * (real tokenizer models aren't available offline). */
  def subwordCount(text: Column): Column =
    size(split(text, "(?<=\\d)(?=\\p{L})|(?<=\\p{L})(?=\\d)|\\s+|(?=\\p{Punct})"))

  /** POSITIONAL k-token grams in document order (duplicates kept) — the
    * sequence winnowing and other order-sensitive kernels are defined
    * over; a document shorter than k tokens contributes its whole text as
    * one gram. [[wordGrams]] is the distinct (set) view of the same rule,
    * so the two can never drift apart. */
  def wordGramsPositional(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
  }

  /** Distinct k-token grams as strings (space-joined); a document shorter
    * than k tokens contributes its whole text as one gram — the same clamp
    * the shingle-hash kernel applies, so gram sets and hashed shingles
    * describe the same units. */
  def wordGrams(text: Column, k: Int): Column =
    array_distinct(wordGramsPositional(text, k))

  /** Hashed `width`-token shingle rows: each carry column plus `h`, one row
    * per token window — the decontamination kernel's shared construction
    * (batch q_contamination, streaming [[graft.streaming.StreamingContamination]];
    * the spec keeps an INDEPENDENT copy as its reference). A pure per-row
    * projection (works on batch and streaming frames); the index explodes
    * BEFORE the hash so the token array materializes once per row, never
    * per window (the CollapseProject trap). md5 keeps hashes
    * engine-portable for the DuckDB oracle; xxhash64 halves the key width
    * at corpus scale. Single-space split mirrors the oracle SQL. */
  def md5ShingleHashes(df: org.apache.spark.sql.DataFrame, textCol: String,
                       width: Int, carry: String*): org.apache.spark.sql.DataFrame = {
    // Codegen rolling digest (functions.Md5WindowHashes): hex-identical to
    // md5(array_join(slice(split(text, " "), i, width), ' ')) — the joined
    // window IS a byte range of the original text — but one byte scan per
    // document instead of a generate that copies the token array into every
    // exploded row (O(tokens²) bytes/doc) plus a slice+join+md5 allocation
    // per window. Docs with fewer than `width` tokens yield an empty array,
    // which explode drops — the old size(w) >= width filter in data form.
    val cc = carry.map(col)
    df.select(cc :+ explode(
      graft.functions.DigestKernels.md5WindowHashes(col(textCol), width)).as("h"): _*)
  }

  /** Default stopword list used by quality scoring / language profiles. */
  val EnglishStops: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Fraction of tokens that are stopwords — one signal of natural-language
    * quality (boilerplate/code have low ratios). Native hash-set kernel. */
  def stopwordCount(text: Column, stops: Seq[String] = EnglishStops): Column =
    graft.functions.ArrayKernels.wordSetHits(tokens(text), stops)

  /** Canonical text normalization for dedup pipelines: lowercase, strip
    * punctuation, collapse whitespace runs, trim. Normalizing BEFORE hashing
    * is what makes "same text modulo case/punctuation" an exact duplicate —
    * run it ahead of [[graft.llm.Dedup.digest]]/minhash for robust dedup. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "\\p{Punct}", ""), "\\s+", " "))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\p{Punct}", ""))

  /** Punctuation chars / total chars (zero-guarded) — shared by
    * [[qualityScore]] and [[qualityVerdict]] so the two can't drift. */
  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0))

  /** Stopword tokens / total tokens (zero-guarded). */
  def stopRatio(text: Column): Column =
    stopwordCount(text).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))

  /** Composite quality score in [0,1]: length signal × stopword signal ×
    * (1 - punctuation excess). Deterministic, tunable weights. */
  def qualityScore(text: Column): Column = {
    val nTok  = tokenCount(text).cast("double")
    val lenOk = least(nTok / lit(50.0), lit(1.0))          // saturates at 50 tokens
    round(lenOk * least(stopRatio(text) * lit(5.0), lit(1.0)) *
      (lit(1.0) - least(punctRatio(text) * lit(4.0), lit(1.0))), 4)
  }

  /** Language-ID via stopword-profile scoring: per language, count profile
    * hits in the token stream; argmax wins, 'und' when nothing matches.
    * The classic trigram approach needs model tables; stopword profiles are
    * the self-contained deterministic variant and stay fully codegen'd. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "ist", "des"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "这", "他", "就"))

  /** Deterministic argmax over the profiles (score ties → lexicographically
    * greatest language code; zero hits → "und"). Native single-pass kernel —
    * the declarative version scored each profile with its own interpreted
    * `filter(toks, array_contains(...))` pass. */
  def langId(text: Column): Column =
    graft.functions.ArrayKernels.langId(tokens(text), LangProfiles.toSeq)

  /** Winnowing-style document fingerprint: rolling hash over k-token grams,
    * then the minimum hash in each sliding window of w grams (Schleimer et
    * al., SIGMOD'03 "winnowing"). Output: sorted distinct fingerprint array —
    * compact, deterministic, join-able for near-dup detection. */
  def fingerprint(text: Column, k: Int = 3, w: Int = 4): Column = {
    val toks = tokens(text)
    // Positional gram hashes (winnowing needs document order, so no distinct)
    // via the native codegen kernel — values identical to the declarative
    // transform+xxhash64 formulation.
    val grams = graft.functions.ArrayKernels.shingleHashes(toks, k, distinct = false)
    graft.functions.ArrayKernels.winnowMins(grams, w)
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021) as
    * one per-row struct: token count, immediate token repeats
    * (tok[i] == tok[i−1]), and for 2-/3-token grams the count of gram
    * POSITIONS whose gram repeats within the doc (total − singleton runs
    * in the SORTED gram array — any total order groups equals adjacently,
    * so engine collation differences cannot move the counts). Every array
    * is built once per row and read in one pass (`zip_with`, `aggregate`):
    * a lambda that indexed into an array recomputed it per element. */
  def repetitionSignals(text: Column): Column = {
    val toks = tokens(text)
    // The n shifted token slices zipped into grams: no lambda reads `toks`,
    // so each row splits its text a fixed number of times.
    def grams(n: Int) = when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise((1 until n).foldLeft(slice(toks, lit(1), size(toks) - n + 1)) { (g, k) =>
        zip_with(g, slice(toks, lit(k + 1), size(toks) - n + 1), (a, b) => concat_ws(" ", a, b))
      })
    // One pass over the sorted grams, carrying the previous gram, the length
    // of its run and the positions in finished runs longer than one.
    def dupPos(g: Column) = {
      def closed(acc: Column) = acc("dups") + when(acc("run") > 1, acc("run")).otherwise(0)
      aggregate(array_sort(g),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("dups")),
        (acc, x) => when(acc("run") > 0 && acc("prev") === x,
            struct(acc("prev").as("prev"), (acc("run") + 1).as("run"), acc("dups").as("dups")))
          .otherwise(struct(x.as("prev"), lit(1).as("run"), closed(acc).as("dups"))),
        closed)
    }
    val rep = aggregate(toks, struct(lit(null).cast("string").as("prev"), lit(0).as("n")),
      (acc, x) => struct(x.as("prev"), (acc("n") + when(acc("prev") === x, 1).otherwise(0)).as("n")),
      _("n"))
    struct(
      size(toks).cast("bigint").as("n_tok"),
      rep.cast("bigint").as("n_rep"),
      dupPos(grams(2)).cast("bigint").as("dup2"),
      size(grams(2)).cast("bigint").as("n2"),
      dupPos(grams(3)).cast("bigint").as("dup3"),
      size(grams(3)).cast("bigint").as("n3"))
  }

  /** TF-IDF over whitespace tokens: per (doc, token) term frequency joined
    * with corpus document frequency, scored `tf * ln(N / df)`. Fully
    * declarative — explode, two hash aggregations, one equi-join on `token`
    * (vocabulary-sized, Catalyst/AQE pick the strategy; at 100 TB the
    * vocabulary side is orders of magnitude smaller than the posting list,
    * so it broadcasts). The corpus size N rides along as a broadcast one-row
    * cross join, never a driver-side collect. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val posts = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf    = posts.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n     = df.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("__n").cast("double") / col("df")), 4))
      .drop("__n")
  }

  /** Rule-based quality filter verdict (Gopher-style): first failing rule
    * names the drop reason, "keep" otherwise. Thresholds are tunable; the
    * point is the SHAPE — a cheap, explainable, single-pass filter that
    * runs before any expensive dedup/embedding stage and whose reasons can
    * be aggregated for corpus accounting. */
  def qualityVerdict(text: Column, minTokens: Int = 10,
                     maxPunctRatio: Double = 0.2,
                     minStopRatio: Double = 0.02): Column =
    when(tokenCount(text).cast("double") < minTokens, "too_short")
      .when(punctRatio(text) > maxPunctRatio, "too_punct")
      .when(stopRatio(text) < minStopRatio, "low_stopwords")
      .otherwise("keep")

  /** Feature-hashed bag-of-words: a dense `dims`-component Array[Double] of
    * token counts, each token routed to dim = md5-prefix(token) mod dims —
    * the fasttext/Vowpal "hashing trick" that turns raw text into a fixed-
    * width vector with NO vocabulary table (nothing to broadcast, nothing
    * to go stale; collisions are the accepted trade). This is the
    * featurizer that lets [[Classify.logregWeights]] train directly on
    * text. md5 rather than murmur because every engine computes the same
    * md5, so a DuckDB oracle reproduces the exact vector (the portable-hash
    * idiom of the mix/split queries). Pure per-row map, embarrassingly
    * parallel — a codegen kernel ([[graft.functions.HashedTf]]): the
    * declarative per-dim-filter formulation is O(dims × tokens) interpreted
    * lambda evals per row, measured at 34 s for 3 GD epochs over sf0.1
    * (HashedTfKernelSpec pins value-parity with that formulation). */
  def hashedTf(text: Column, dims: Int): Column =
    graft.functions.ArrayKernels.hashedTf(text, dims)

  /** Per-group corpus statistics: docs, chars, average length, token totals. */
  def corpusStats(df: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("docs"),
        sum(length(col(textCol))).as("chars"),
        round(avg(length(col(textCol))), 2).as("avg_len"),
        sum(tokenCount(col(textCol))).as("tokens"))
      .orderBy(groupCols.map(col): _*)
}
