package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data curation over a `documents` table — the
  * composite job a 100 TB corpus pipeline runs nightly:
  *
  *   exact dedup → near-dup drop (MinHash-LSH) → quality gate →
  *   language keep-list → deterministic token-budget sample.
  *
  * Every stage is a narrow transformation or a bounded-candidate join;
  * nothing is quadratic in the corpus. The sample is deterministic
  * (hash-ordered), so reruns and resumes pick identical rows.
  */
object CurationPipeline {

  final case class Config(
      minQuality: Double = 0.2,
      minTokens: Int = 5, // length floor — degenerate docs fool ratio heuristics
      keepLangs: Seq[String] = Nil, // empty = all
      nearDupJaccard: Double = 0.85,
      tokenBudget: Long = Long.MaxValue
  )

  def run(docs: DataFrame, cfg: Config = Config())(
      implicit spark: SparkSession): DataFrame = {
    // 1. exact dedup: keep min doc_id per content hash.
    // localCheckpoint (eager), not persist: the survivor set feeds the
    // minhash signature scan AND the near-dup anti-join AND the quality
    // gates — without materialization the window re-executes once per
    // consumer. Unlike a persist() the caller would have to own and
    // unpersist, checkpoint blocks are dropped by the ContextCleaner as
    // soon as the plan is garbage-collected, so repeated run() calls in a
    // long-lived session don't accumulate session-lifetime caches.
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    val exact = docs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .localCheckpoint(true)

    // 2. near-dup drop: of each LSH-verified pair keep the smaller id
    val losers = Dedup.minhashPairs(exact, threshold = cfg.nearDupJaccard)
      .select(col("b").as("doc_id")).distinct()
    val nearDeduped = exact.join(losers, Seq("doc_id"), "left_anti")

    // 3. quality + language gates (pure column predicates — pushed down)
    val gated = nearDeduped
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(TextAnalysis.tokenCount(col("text")) >= cfg.minTokens)
      .where(col("quality") >= cfg.minQuality)
      .where(if (cfg.keepLangs.isEmpty) lit(true)
             else col("lang").isin(cfg.keepLangs: _*))

    // 4. token budget: deterministic hash-threshold sample. A global
    // running-sum window would be a single-partition sort; instead keep
    // rows whose content hash falls under the budget fraction — fully
    // parallel, rerun-stable, budget hit in expectation (±sampling error).
    val tokens = TextAnalysis.tokenCount(col("text"))
    val withTok = gated.withColumn("tokens", tokens)
    budgetSample(withTok, cfg.tokenBudget)
  }

  /** Stage 4 shared by [[run]] and [[runExact]]: deterministic
    * hash-threshold token-budget sample. The threshold arithmetic
    * (`trunc(budget/total · 10^6)` on doubles) is mirrored verbatim by
    * the DuckDB oracle — integer bucket vs integer threshold, so no
    * float-boundary flakiness.
    */
  private def budgetSample(withTok: DataFrame, budget: Long): DataFrame = {
    if (budget == Long.MaxValue) withTok
    else {
      val total = withTok.agg(sum("tokens")).collect()(0).getLong(0)
      if (total <= budget) withTok
      else {
        val frac = budget.toDouble / total
        val m = 1000000L
        withTok.where(hashBucket(col("text"), m) < (frac * m).toLong)
      }
    }
  }

  /** Portable-stage curation twin: the SAME five-stage composite as
    * [[run]] — exact dedup → near-dup drop → quality gate → language
    * keep-list → token budget — with the near-dup stage's pairs
    * generated by [[Dedup.portableMinhashPairs]] instead of the
    * avalanche-hash production minhash. Every stage (including the
    * near-dup drop that keeps [[run]] rows-only) is recomputable in
    * plain SQL, so the DuckDB oracle hash-proves the ENTIRE composite
    * including candidate generation. `minMatch = 14` ≈ the production
    * 0.85 Jaccard threshold on a 16-slot signature.
    */
  def runPortable(docs: DataFrame, cfg: Config = Config(), minMatch: Int = 14)(
      implicit spark: SparkSession): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    val exact = docs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .localCheckpoint(true)
    val losers = Dedup.portableMinhashPairs(exact, minMatch = minMatch)
      .select(col("b").as("doc_id")).distinct()
    val nearDeduped = exact.join(losers, Seq("doc_id"), "left_anti")
    val gated = nearDeduped
      .withColumn("tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(col("tokens") >= cfg.minTokens)
      .where(col("quality") >= cfg.minQuality)
      .where(if (cfg.keepLangs.isEmpty) lit(true)
             else col("lang").isin(cfg.keepLangs: _*))
    budgetSample(gated, cfg.tokenBudget)
  }

  /** Exact-stage curation twin: exact dedup → quality gate → language
    * keep-list → token budget, WITHOUT the MinHash near-dup stage — every
    * stage is plain SQL, so the driver's DuckDB oracle hash-proves the
    * stage wiring end-to-end ([[run]] stays the full rows-only variant).
    *
    * The quality gate compares the ROUNDED score (qualityScore rounds to
    * 6 digits) so the oracle's boundary behavior is decided on the same
    * discrete grid on both engines.
    */
  def runExact(docs: DataFrame, cfg: Config = Config())(
      implicit spark: SparkSession): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    val exact = docs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
    val gated = exact
      .withColumn("tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(col("tokens") >= cfg.minTokens)
      .where(col("quality") >= cfg.minQuality)
      .where(if (cfg.keepLangs.isEmpty) lit(true)
             else col("lang").isin(cfg.keepLangs: _*))
    budgetSample(gated, cfg.tokenBudget)
  }
}
