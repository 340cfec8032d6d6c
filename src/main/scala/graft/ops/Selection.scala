package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-selection operators for assembling a training corpus: a
  * fastText-style Naive-Bayes quality classifier (the GPT-3/LLaMA
  * "quality filter" family — score every document by how much its
  * vocabulary looks like a curated positive set) and DSIR-style
  * hashed-n-gram importance reweighting (Xie et al.: rank documents by
  * the log-likelihood ratio of a TARGET distribution vs the RAW corpus
  * distribution over a FIXED-SIZE hashed gram profile).
  *
  * Cross-engine determinism: no transcendental ever reaches a value.
  * Every log2 is the integer floor-log2 (unpadded `bin`) plus a
  * linear-interpolation milli fraction on the EXACT integer rational
  * ([[logRatioMilli]]), so scores are exact int64 milli units,
  * bit-identical on any engine replaying the formula.
  *
  * Scale shape: both operators are one explode to the token/gram
  * occurrence stream, a partial-agg count table (vocabulary-bounded for
  * NB, FIXED at `buckets` rows for DSIR — DSIR's whole point is that
  * the profile never grows with the corpus), a join back on the
  * word/bucket key (sort-merge for NB's vocab key, broadcast for
  * DSIR's bucket table), and a per-doc partial-agg sum. Driver scalars
  * are four class totals. Int64 stays exact while per-class token
  * totals are below ~9·10^15 (the 1000·num interpolation product) — a
  * classifier/profile at 100 TB is fit on a bounded sample anyway
  * (fastText trains on a slice, DSIR's paper uses hashed profiles
  * precisely to cap state), which also keeps the totals bounded.
  */
object Selection {

  /** Interpolated milli-log2 of the rational num/den as a SQL fragment,
    * REQUIRING num >= den >= 1: floor-log2 via unpadded bin length,
    * plus the (1000·num) div (den·2^bits) − 1000 linear fraction.
    * Identical text-for-text to the DuckDB oracle's arithmetic.
    */
  private def logRatioMilli(num: String, den: String): String = {
    val bits = s"(length(bin(($num) div ($den))) - 1)"
    s"($bits * 1000L + (1000L * ($num)) div " +
      s"(($den) * shiftleft(1L, cast($bits as int))) - 1000L)"
  }

  /** Driver-side twin of [[logRatioMilli]] (num >= den >= 1). */
  private def logRatioMilliLong(num: Long, den: Long): Long = {
    val bits = 63 - java.lang.Long.numberOfLeadingZeros(num / den)
    bits * 1000L + (1000L * num) / (den << bits) - 1000L
  }

  /** Signed milli-log2((a)/(b)) for a, b >= 1 (driver side). */
  private def signedLogMilli(a: Long, b: Long): Long =
    if (a >= b) logRatioMilliLong(a, b) else -logRatioMilliLong(b, a)

  /** Naive-Bayes quality score: fit add-one-smoothed per-class word
    * likelihoods on a deterministic md5-content training slice (the
    * [[graft.ops.hashBucket]] recipe every split/twin here
    * uses), label = document source ∈ `positiveSources`, then score
    * EVERY document by the summed per-token milli log-likelihood ratio
    * plus the class-prior term. `nb_milli` > 0 reads "looks like the
    * curated set" — the signal GPT-3's quality filter thresholds.
    *
    * Per-token score (exact int64 milli units):
    *   L(Tneg+V, cneg+1) − L(Tpos+V, cpos+1)
    * where L is the interpolated milli-log2 of a rational >= 1 — i.e.
    * log2((cpos+1)/(Tpos+V)) − log2((cneg+1)/(Tneg+V)) with both
    * fractions <= 1 rewritten to keep every L argument-pair ordered.
    * OOV tokens score the constant ratio of the two smoothing floors.
    *
    * Output: (doc_id, n_tokens, nb_milli, predicted 0/1).
    */
  def nbQualityScore(docs: DataFrame, positiveSources: Seq[String],
                     trainPermille: Int = 500): DataFrame = {
    val base = docs.select(col("doc_id"),
      col("source").isin(positiveSources: _*).cast("long").as("label"),
      (hashBucket(col("text"), 1000L) < trainPermille)
        .cast("int").as("is_train"),
      split(col("text"), " ").as("words"))
    // occurrence stream feeds the model table, the scalar totals AND
    // the scoring join: LAZY localCheckpoint so the explode runs once
    // and every consumer's analyzer walk starts from a truncated plan
    val occ = base.select(col("doc_id"), col("label"), col("is_train"),
        explode(col("words")).as("w"))
      .localCheckpoint(false)
    val train = occ.where(col("is_train") === 1)
    val wc = train.groupBy("w").agg(
      sum(col("label")).as("cpos"),
      sum(lit(1L) - col("label")).as("cneg"))
    val r = train.agg(
      coalesce(sum(col("label")), lit(0L)),
      coalesce(sum(lit(1L) - col("label")), lit(0L)),
      count_distinct(col("w"))).head
    val (tpos, tneg, v) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(v > 0, "nbQualityScore: empty training slice — nothing to fit")
    val dr = base.where(col("is_train") === 1).agg(
      coalesce(sum(when(col("label") === 1L, 1L).otherwise(0L)), lit(0L)),
      count(lit(1))).head
    val (dpos, dneg) = (dr.getLong(0), dr.getLong(1) - dr.getLong(0))
    val priorMilli = signedLogMilli(dpos + 1, dneg + 1)
    occ.join(wc, Seq("w"), "left")
      .select(col("doc_id"),
        coalesce(col("cpos"), lit(0L)).as("cpos"),
        coalesce(col("cneg"), lit(0L)).as("cneg"))
      .withColumn("s_milli",
        expr(logRatioMilli(s"${tneg + v}L", "cneg + 1L")) -
          expr(logRatioMilli(s"${tpos + v}L", "cpos + 1L")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("s_milli").as("ssum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("ssum") + lit(priorMilli)).as("nb_milli"),
        (col("ssum") + lit(priorMilli) >= 0L).cast("int").as("predicted"))
  }

  /** DSIR-style importance weights over a FIXED hashed bigram profile:
    * per-document summed milli log-likelihood ratio of the target-set
    * gram distribution vs the raw-corpus gram distribution, where grams
    * are folded into `buckets` md5 buckets so the profile is `buckets`
    * rows REGARDLESS of corpus size — the hashed-sufficient-statistics
    * move that makes importance reweighting feasible at 100 TB (the
    * profile broadcasts; the corpus never shuffles on a gram key).
    *
    * Per-gram-occurrence score, exact int64 milli units:
    *   L(Traw+B, craw+1) − L(Ttgt+B, ctgt+1)
    * = log2((ctgt+1)/(Ttgt+B)) − log2((craw+1)/(Traw+B)),
    * add-one smoothed over the B buckets; the target set is chosen by
    * `targetSources` and is a subset of raw (DSIR's raw = the source
    * distribution being resampled). Docs with < 2 words have no gram
    * and drop out (unweighable).
    *
    * Output: (doc_id, n_grams, dsir_milli) — feed to
    * [[dsirSelect]] for the top-k selection arm.
    */
  def dsirWeights(docs: DataFrame, targetSources: Seq[String],
                  buckets: Long = 1024L): DataFrame = {
    val grams = docs.select(col("doc_id"),
        col("source").isin(targetSources: _*).cast("long").as("is_target"),
        split(col("text"), " ").as("words"))
      .where(size(col("words")) >= 2)
      .select(col("doc_id"), col("is_target"),
        explode(expr("transform(sequence(1, size(words) - 1), " +
          "i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))"))
          .as("g"))
      .select(col("doc_id"), col("is_target"),
        hashBucket(col("g"), buckets).as("b"))
      .localCheckpoint(false)
    val prof = grams.groupBy("b").agg(
      sum(col("is_target")).as("ct"), count(lit(1)).as("cr"))
    val r = grams.agg(
      coalesce(sum(col("is_target")), lit(0L)), count(lit(1))).head
    val (tt, tr) = (r.getLong(0), r.getLong(1))
    require(tt > 0, "dsirWeights: target slice has no grams — nothing to weight toward")
    grams.join(broadcast(prof), Seq("b"))
      .withColumn("s_milli",
        expr(logRatioMilli(s"${tr + buckets}L", "cr + 1L")) -
          expr(logRatioMilli(s"${tt + buckets}L", "ct + 1L")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("s_milli").as("dsir_milli"))
  }

  /** Selection arm of [[dsirWeights]]: keep the `k` documents whose
    * hashed-profile importance weight is highest (ties broken by
    * doc_id — deterministic), as a semi-join against the weight
    * table's TakeOrdered top-k. The paper samples proportionally;
    * top-k is the deterministic variant a reproducible pipeline wants.
    */
  def dsirSelect(docs: DataFrame, targetSources: Seq[String], k: Int,
                 buckets: Long = 1024L): DataFrame =
    docs.join(
      dsirWeights(docs, targetSources, buckets)
        .orderBy(desc("dsir_milli"), asc("doc_id")).limit(k)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Deterministic stratified sampling with EXACT per-stratum counts:
    * every source keeps ⌈n·permille/1000⌉ documents — the equal-rate
    * allocation a mixture audit needs, where a hash-threshold sampler
    * only hits its rate in expectation. The within-stratum order is
    * (md5-bucket of doc_id, doc_id) — the portable hashBucket recipe —
    * so the kept set is content-blind, reproducible, and replayable by
    * any engine with md5.
    *
    * Scale shape: one shuffle on source, a per-stratum window count +
    * row_number (each stratum streams through one task's sorter —
    * strata are sources, bounded in cardinality; a skewed giant
    * stratum is exactly what AQE skew-split handles). No global sort,
    * no collect.
    */
  def stratifiedSample(docs: DataFrame, permille: Int = 200): DataFrame = {
    val byHash = Window.partitionBy("source")
      .orderBy("h", "doc_id")
    val all = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs
      .select(col("doc_id"), col("source"),
        hashBucket(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(byHash))
      .withColumn("n", count(lit(1)).over(all))
      .where(col("rk") <= expr(s"(n * $permille + 999) div 1000"))
      .select(col("doc_id"), col("source"))
  }

  /** Greedy facility-location (max-coverage) data selection — the
    * submodular-selection family (Nemhauser's (1−1/e) greedy; the
    * coreset/diverse-subset recipe of the data-selection literature):
    * pick `k` documents one at a time, each round taking the document
    * whose distinct word-`n`-grams add the MOST grams not yet covered
    * by the picks so far. The output is the pick sequence with each
    * pick's exact marginal gain — by submodularity a non-increasing
    * column, which the spec asserts.
    *
    * Fully deterministic and engine-portable: grams are plain strings,
    * gains are exact integer counts, argmax ties break by ascending
    * doc_id, and the oracle unrolls all `k` greedy rounds as chained
    * CTEs. Stops early when no remaining document adds coverage.
    *
    * Scale shape: per round one anti-join of the (doc, gram) stream
    * against the covered-gram set (broadcast — it holds at most the
    * grams of the ≤k picked docs, so it lives as a driver set and
    * ships as a one-block broadcast relation, never corpus-sized), a
    * partial-agg count per doc, and a TakeOrderedAndProject argmax;
    * the per-round collects are the bounded scalar-fetch class (the
    * Lloyd fit precedent: one argmax row + one picked doc's grams).
    * Work per round is O(corpus grams), k rounds — the same k-passes
    * shape the distributed greedy literature (SieveStreaming etc.)
    * starts from; those single-pass variants trade exactness away,
    * this keeps the canonical greedy exact.
    */
  def greedyCoverageSelect(docs: DataFrame, k: Int = 8, n: Int = 3)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val grams = docs.select(col("doc_id"), explode(expr(
      s"array_distinct(transform(sequence(0, greatest(size(split(text, ' ')) - $n, 0)), " +
        s"i -> array_join(slice(split(text, ' '), i + 1, $n), ' ')))")).as("gram"))
      .localCheckpoint(false)
    val picks = Seq.newBuilder[(Long, Long, Long)]
    var chosen = Set.empty[Long]
    // driver-held covered-gram set: bounded by the picks' grams, and
    // keeping it local avoids a distinct-shuffle + checkpoint job per
    // round (measured 22.5 s → the broadcast-relation rebuild is free)
    var covered = Set.empty[String]
    var round = 1L
    var done = false
    while (round <= k && !done) {
      val top = grams
        .where(not(col("doc_id").isInCollection(chosen + -1L)))
        .join(broadcast(covered.toSeq.toDF("gram")), Seq("gram"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), asc("doc_id")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val doc = top(0).getLong(0)
        picks += ((round, doc, top(0).getLong(1)))
        chosen += doc
        covered ++= grams.where(col("doc_id") === doc)
          .select("gram").collect().map(_.getString(0))
        round += 1
      }
    }
    picks.result().toDF("round", "doc_id", "marginal_gain")
  }
}
