package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY §2 Group I,
  * I5): language ID, quality scoring, token counting, fingerprinting. All
  * pure column expressions (whole-stage-codegen'd, no UDFs) so they run at
  * scan speed over 100 TB of documents.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " +"))

  /** BPE-ish token count: letter runs, digit runs, single punctuation —
    * a deterministic proxy for subword tokenizers. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Mean word length (0.0 for empty docs, null for null docs — the
    * composite `when` would otherwise default null text to the empty-doc
    * 0.0 and hide missing data); integer-exact numerator and
    * denominator, one deterministic double division. */
  def meanWordLength(text: Column): Column = {
    val words = split(text, " +")
    val totalLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    when(text.isNull, lit(null).cast("double"))
      .when(size(words) > 0, totalLen.cast("double") / size(words).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Punctuation character ratio (null text → null, same rationale as
    * [[meanWordLength]]). */
  def punctRatio(text: Column): Column =
    when(text.isNull, lit(null).cast("double"))
      .when(length(text) > 0,
        (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
          .cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))

  /** Per-language stopword hit count — single-pass token-set kernel
    * ([[graft.functions.StopwordCountExpr]]): O(len) vs the regex
    * alternation's O(len × words) backtracking, semantically identical
    * for single-word stopwords (a `\bw\b` match IS a whole word-char
    * token equal to `w`). */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    graft.functions.TextExprs.stopwordCount(text, stopwords)

  /** Tiny deterministic stopword tables for the heuristic language ID. */
  val stopwordTable: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "mit", "von", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "une"),
    "es" -> Seq("el", "la", "de", "que", "los", "es", "en", "una"))

  /** Heuristic language ID: the language with the most stopword hits;
    * `und` (undetermined) when no list scores above zero. Ties break to the
    * alphabetically-first language code (chained CASE priority), mirrored
    * exactly by the CASE WHEN in the oracle SQL. One single-pass kernel
    * ([[graft.functions.LangIdExpr]]) — the column-CASE formulation
    * re-evaluated every language's full regex set per CASE branch
    * (conditionals disable common-subexpression elimination). */
  def langId(text: Column): Column =
    graft.functions.TextExprs.langId(text, stopwordTable.toSeq.sortBy(_._1))

  /** Composite quality score in [0,1]: penalizes very short docs, high
    * punctuation density, and missing stopwords. Integer-ratio based —
    * deterministic across engines. Null text → null: without the guard,
    * `least(null, 1.0)` SKIPS nulls, so a null doc would score its
    * length component as perfect. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(
      stopwordHits(text, stopwordTable.values.flatten.toSeq).cast("double") / 10.0,
      lit(1.0))
    when(text.isNull, lit(null).cast("double"))
      .otherwise((lenScore + punctPenalty + stopScore) / 3.0)
  }

  /** Duplicate-token fraction: 1 − |distinct tokens| / |tokens| — the
    * boilerplate/spam signal repetition filters cut on. Integer counts,
    * one double division (engine-exact, like [[meanWordLength]]). */
  def dupTokenRatio(text: Column): Column = {
    val ws = split(text, " +")
    (size(ws) - size(array_distinct(ws))).cast("double") /
      size(ws).cast("double")
  }

  /** Share of the single most frequent token — high values flag keyword
    * stuffing / degenerate generations. The per-distinct-token count is a
    * nested higher-order filter (O(distinct × tokens) per row, bounded by
    * document length), mirrored exactly by the oracle's list_transform /
    * list_filter. */
  def topTokenShare(text: Column): Column = {
    val ws = split(text, " +")
    array_max(transform(array_distinct(ws), w => size(filter(ws, x => x === w))))
      .cast("double") / size(ws).cast("double")
  }

  /** Document fingerprint: polynomial rolling hash over character codes,
    * `h = (h*31 + code) mod (2^31-1)` — the order-sensitive fold the
    * reference-style content addressing needs, expressible in both Spark
    * (`aggregate`) and the DuckDB oracle (`list_reduce`). */
  def fingerprint(text: Column): Column =
    when(length(text) === 0, lit(0L)) // empty text ⇒ 0 on both engines
      .otherwise(aggregate(
        transform(split(text, ""), ch => ascii(ch).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31 + x) % 2147483647L))

  /** 64-bit SimHash over whitespace tokens: per-bit ±1 votes from
    * xxhash64(word), sign-aggregated, packed to a long. One fused kernel
    * per row ([[graft.functions.SimHash64Expr]]) — the lambda formulation
    * cost ~64 interpreted dispatches per token. */
  def simHash(text: Column): Column =
    graft.functions.HashExprs.simHash64(split(text, " +"))

  /** Hamming distance between two packed 64-bit SimHashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ───── corpus-level statistics (DataFrame → DataFrame) ─────

  /** Vocabulary frequency-of-frequencies (the Zipf/hapax histogram corpus
    * audits cut on): token → corpus count, then count → #distinct-tokens.
    * Two hash aggregates, both with map-side partials; the second input is
    * vocabulary-sized, so at 100 TB the heavy shuffle is the first (and it
    * moves (token, partial-count) pairs, not text). */
  def vocabStats(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(corpusTokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt").as("freq")).agg(count(lit(1)).as("n_types"))

  /** Corpus tokenization for the DataFrame-level stats: trim first so
    * leading/trailing whitespace never yields a phantom "" token (split on
    * " +" keeps boundary empties; "" would pollute the vocabulary and win
    * the salient-term alphabetical tie-break). Empty/all-space text still
    * produces [""], which callers filter — such docs contribute nothing. */
  private def corpusTokens(text: Column): Column = split(trim(text), " +")

  /** Salient term per document — the integer-safe TF-IDF analogue: rank a
    * document's tokens by (tf DESC, corpus df ASC, token ASC) and keep the
    * winner. The exact same total order as tf·log(N/df) argmax whenever tf
    * ties break by rarity, but with no libm in the checked output. The
    * document-frequency side is vocabulary-sized → broadcast; swap for a
    * shuffle join only if the vocabulary outgrows executor memory. */
  def salientTerms(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(corpusTokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
    val tf = toks.groupBy(col("doc"), col("word")).agg(count(lit(1)).as("tf"))
    // document frequency = row count over tf ((doc, word) is unique there),
    // NOT a countDistinct over a second corpus explode — the corpus is
    // scanned and exploded ONCE, and the df aggregate reuses tf's shuffle
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("tf").desc, col("df").asc, col("word").asc)
    tf.join(broadcast(dfreq), "word")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc"), col("word").as("salient"), col("tf"), col("df"))
  }

  /** THE bigram substrate for `bigramCounts` / `lmScore` / `heavyBigrams`:
    * zip the split array against its own shift (one split per row) and
    * explode to (w1, w2) pairs, carrying `keep` id columns through. */
  private def bigramPairs(df: DataFrame, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val ks = keep.map(col)
    df.select(ks :+ corpusTokens(col(textCol)).as("ws"): _*)
      .select(ks ++ Seq(
        slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))).as("w1s"),
        slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))).as("w2s")): _*)
      .select(ks :+ explode(arrays_zip(col("w1s"), col("w2s"))).as("z"): _*)
      .select(ks ++ Seq(col("z.w1s").as("w1"), col("z.w2s").as("w2")): _*)
  }

  /** Global bigram language-model counts, top-k by count (count DESC, then
    * the bigram itself — a unique total order, so `limit` is deterministic).
    * Top-k runs as TakeOrderedAndProject, never a full result sort. */
  def bigramCounts(df: DataFrame, textCol: String, topK: Int = 50): DataFrame =
    bigramPairs(df, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topK)

  /** Inverted-index (postings) build: term → document frequency, corpus
    * frequency, and the `headK` smallest posting doc ids. The classic IR
    * index shuffle, done scale-safe: the corpus is exploded ONCE into a
    * (term, doc) tf aggregate; df/cf reduce from tf (never a second corpus
    * scan), and the posting heads come from a row_number window over the
    * SAME term partitioning — a stopword's full posting list (every doc in
    * the corpus) is never collected, only its first `headK` rows survive
    * the window filter into the bounded collect_list. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      headK: Int = 5): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc"), explode(corpusTokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("term")).orderBy(col("doc"))
    tf.withColumn("rn", row_number().over(w))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(
          transform(
            sort_array(collect_list(when(col("rn") <= headK, col("doc")))),
            x => x.cast("string")),
          ",").as("head_postings"))
  }

  /** EXACT frequent bigrams above a rational frequency threshold num/den,
    * without ever shuffling the full bigram universe: a bounded-memory
    * Misra–Gries candidate sweep (≤k counters per partition, tree-reduced)
    * followed by an exact recount of the ≤k candidates — see
    * [[graft.operators.HeavyHitters]]. On an open vocabulary at 100 TB the
    * plain `groupBy(bigram).count()` shuffle is input-sized; this shuffles
    * only rows matching ≤k candidate keys. */
  def heavyBigrams(df: DataFrame, textCol: String, k: Int,
      num: Long, den: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tokens = bigramPairs(df, textCol)
      .select(concat_ws(" ", col("w1"), col("w2")).as("g")).as[String]
    graft.operators.HeavyHitters.exact(tokens, k, num, den)
      .select(col("token").as("bigram"), col("cnt"))
  }

  /** Per-document bigram LM score against the corpus LM, as integer
    * sufficient statistics plus ONE IEEE division: with Laplace smoothing
    * P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V), the per-doc aggregate ratio is
    *   score = Σ(c(w1,w2)+1) / (Σc(w1·) + n·V).
    * Summing per-bigram log-probs would put libm `ln` (and float summation
    * order) in the checked output; the aggregate ratio keeps every
    * intermediate an exact BIGINT, and a single division of exact longs is
    * correctly rounded — bit-identical across engines. The unigram count
    * side is vocabulary-sized → broadcast; the bigram table grows with
    * the corpus's bigram-TYPE count (toward O(V²)), so its join is left
    * to size-based planning rather than force-broadcast. The corpus is
    * never collected. Documents with <2 tokens survive with NULL stats
    * (left join).
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      corpusTokens(col(textCol)).as("ws"))
    // both columns get internal names so a text column literally named
    // "doc" (or an idCol equal to textCol) can never become ambiguous
    val db = bigramPairs(
      df.select(col(idCol).as("doc"), col(textCol).as("graft_text")),
      "graft_text", Seq("doc"))
    val bi = db.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = db.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val perDoc = db
      .join(bi, Seq("w1", "w2"))
      .join(broadcast(uni), Seq("w1"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c2") + 1).as("hits"),
        sum(col("c1")).as("ctx_raw"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc").as(idCol),
        col("n_bigrams"), col("hits"),
        (col("ctx_raw") + col("n_bigrams") * col("v")).as("ctx"),
        (col("hits").cast("double") /
          (col("ctx_raw") + col("n_bigrams") * col("v")).cast("double"))
          .as("score"))
  }
}
