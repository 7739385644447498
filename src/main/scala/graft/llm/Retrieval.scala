package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** Sparse (lexical) top-k retrieval — the BM25 complement to the dense ANN
  * surface in [[Similarity]]: a curation pipeline uses it to pull
  * benchmark-adjacent or topic-matched documents out of a corpus by term
  * query. EXT row I3 (no reference-repo counterpart).
  *
  * Scoring is the BM25 term-frequency saturation (k1 = 1.2, b = 0.75)
  * weighted by the Robertson–Spärck Jones odds `(N − df + ½)/(df + ½)` —
  * the quantity whose log is the textbook IDF — used UN-logged so the
  * whole score stays a ratio of exact integers (libm log is not
  * cross-engine reproducible; see the Relational.scala header rule).
  * Clearing denominators, each matched term contributes exactly
  *
  *   22·tf·T·(2N−2df+1) · 10⁶  div  (10·T·tf + 3T + 9·dl·N)·(2df+1)
  *
  * with T = total corpus tokens, dl = document length: one truncating
  * integer division per (doc, term), summed exactly per (query, doc) —
  * bit-identical in any engine. Arithmetic runs in DECIMAL(38,0)
  * (HUGEINT in the DuckDB oracle) because 10·T·tf overflows a BIGINT
  * once T reaches real-corpus token counts.
  *
  * Scale design: the postings table (the only corpus-sized intermediate)
  * is pruned by a broadcast join against the query term list BEFORE any
  * scoring — everything downstream is O(Σ df(query terms)). Per-term df
  * is a count-over-window on those pruned postings (no second postings
  * pass in the plan), corpus stats ride in as a broadcast 1-row join, and
  * the final top-k is a per-query window over the matched docs only.
  */
object Retrieval {

  /** Top-`k` documents per query by the exact-integer BM25 score.
    * `queries` = (query_id, terms). Output: query_id, doc_id, score
    * (1e-6 units), rank. Docs sharing no term with a query are absent —
    * standard postings-driven retrieval. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")

    // pinned: the per-term tf aggregate and the corpus stats aggregate
    // both read the tokenized frame — unpinned, each branch re-scanned
    // and re-split the corpus (round-14 plan audit)
    val tokenized = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), " +").as("ws"))
      .transform(Checkpoints.pin)
    val words = tokenized
      .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val stats = tokenized.agg(count(lit(1)).as("n_docs"),
      sum(size(col("ws"))).as("t_tokens"))

    import org.apache.spark.sql.expressions.Window
    val pruned = tf.join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
    // df as a count-over-window on the pruned postings: one pass, no
    // second postings subtree in the plan (a separate groupBy branch would
    // recompute the corpus-sized tf aggregation)
    val scored = pruned
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("score_u", expr(
        """(CAST(22 AS DECIMAL(38,0)) * tf * t_tokens
          |   * (2 * n_docs - 2 * df + 1) * 1000000)
          | div
          |((CAST(10 AS DECIMAL(38,0)) * t_tokens * tf
          |   + CAST(3 AS DECIMAL(38,0)) * t_tokens
          |   + CAST(9 AS DECIMAL(38,0)) * dl * n_docs)
          |  * (2 * df + 1))""".stripMargin))
    val agg = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_u")).as("score"))
    agg.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }
}
