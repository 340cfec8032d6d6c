package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over
  * `documents(doc_id, text, lang, source, n_chars)`: a BPE-ish token
  * estimate (a pure column expression, oracle-portable) and a
  * per-partition compiled language-ID scorer.
  */
object TextAnalysis {

  /** BPE-ish token estimate over the `text` column: whitespace tokens +
    * long-word splits (a word of length L contributes ceil(L/4) subtokens).
    */
  def bpeTokenEstimate: Column =
    expr("aggregate(split(text, ' '), 0L, " +
      "(acc, w) -> acc + greatest(cast(ceil(length(w) / 4.0D) as bigint), 1L))")

  /** Language-ID by character-n-gram profile voting. Fixed evaluation
    * order — ties go to the earlier language, and the SQL oracle
    * (SparkEntry.langIdOracleSql) mirrors the same order.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "he ", "ing", " an", "nd "),
    "de" -> Seq("der", "ein", "sch", " un", "cht"),
    "es" -> Seq(" de", "que", " la", "ión", "os "),
    "fr" -> Seq(" le", "les", " de", "ent", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  def languageId(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].mapPartitions { it =>
      val compiled = langProfiles.map { case (l, ps) => (l, ps.toArray) }
      it.map { case (id, text) =>
        var best = "und"; var bestScore = 0
        compiled.foreach { case (l, ps) =>
          var s = 0
          ps.foreach { p => if (text.contains(p)) s += 1 }
          if (s > bestScore) { best = l; bestScore = s }
        }
        (id, best, bestScore)
      }
    }.toDF("doc_id", "lang_pred", "lang_votes")
  }
}
