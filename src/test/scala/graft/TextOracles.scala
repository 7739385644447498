package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis

/** Test-only parity oracles: the column formulations that
  * [[TextAnalysis.stopwordHits]] and [[TextAnalysis.langId]] replaced, kept
  * to pin the single-pass kernels row for row. On no query path. */
object TextOracles {

  /** The regex formulation of `stopwordHits`; also documents the shape of
    * the oracle SQL's stopword counts. */
  def regexStopwordHits(text: Column, stopwords: Seq[String]): Column = {
    val pattern = stopwords.map(w => s"\\b$w\\b").mkString("|")
    size(regexp_extract_all(lower(text), lit(pattern), lit(0)))
  }

  /** The column-CASE formulation of `langId`: argmax of the per-language
    * regex hits, alphabetical tie-break, `und` when nothing hits. */
  def langIdRegex(text: Column): Column = {
    val langs = TextAnalysis.stopwordTable.toSeq.sortBy(_._1)
    val hits = langs.map { case (code, ws) => code -> regexStopwordHits(text, ws) }
    val anyHit = hits.map(_._2).reduce(_ + _) > 0
    // chained first-match: lang i wins when its hits are >= every later
    // lang's hits — equivalent to argmax with alphabetical tie-break
    val winner = hits.zipWithIndex.foldRight(lit("und")) {
      case (((code, h), i), elseCol) =>
        val laterCols = hits.drop(i + 1).map(_._2)
        val isMax = laterCols.foldLeft(lit(true))((acc, other) => acc && h >= other)
        when(isMax, lit(code)).otherwise(elseCol)
    }
    when(anyHit, winner).otherwise(lit("und"))
  }
}
