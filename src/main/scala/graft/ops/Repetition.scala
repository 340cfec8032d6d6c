package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Repetition / boilerplate signals for training-data curation over
  * `documents(doc_id, text, ...)` — the Gopher-style intra-document
  * repetition filters and the CCNet-style corpus-level segment dedup.
  *
  * Everything here is exact and engine-portable (plain word/segment
  * strings, integer counts, one rounded division per ratio), so the
  * driver's DuckDB gate value-checks both operators end to end. At
  * 100 TB the segment key would be a 128-bit digest of the segment
  * rather than the string itself (same plan shape, smaller shuffle);
  * the string key is kept here for bit-exact oracle parity.
  */
object Repetition {

  private def words(text: Column): Column = split(text, " ")

  /** Overlapping word-n-grams as strings; `slice` truncates at the end
    * of the array exactly like the oracle's list slicing, and the
    * `greatest(..., 0)` lower bound keeps `sequence` ascending on
    * short documents (same contract as [[Dedup.gramSets]]).
    */
  private def gramArray(ws: Column, n: Int): Column =
    expr(s"transform(sequence(0, greatest(size(words) - $n, 0)), " +
      s"i -> array_join(slice(words, i + 1, $n), ' '))")

  /** Gopher-style repetition stats, one row per document:
    *
    *   - `n_words`        total word occurrences
    *   - `dup_word_frac`  (n_words − distinct words) / n_words
    *   - `top_2gram`      the most frequent word-2-gram (ties broken by
    *                      the lexicographically greatest gram, so the
    *                      argmax is deterministic on both engines)
    *   - `top2gram_frac`  characters covered by that 2-gram's
    *                      occurrences / document characters
    *   - `dup_5gram_frac` 5-gram occurrences whose gram appears ≥ 2
    *                      times / total 5-gram occurrences
    *
    * Scale shape: two explode → partial-agg count paths keyed on
    * (doc_id, gram) — map-side combine collapses within-document
    * repeats before the shuffle, and the per-doc reduce is a bounded
    * max/sum. No corpus-sized state anywhere.
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    repetitionStatsRaw(docs).select(col("doc_id"), col("n_words"),
      round(col("dup_word_frac"), 6).as("dup_word_frac"),
      col("top_2gram"),
      round(col("top2gram_frac"), 6).as("top2gram_frac"),
      round(col("dup_5gram_frac"), 6).as("dup_5gram_frac"))

  /** Unrounded twin of [[repetitionStats]] — OracleMarginSpec audits
    * these raw ratios against the cross-engine round-6 boundary.
    */
  private[graft] def repetitionStatsRaw(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), length(col("text")).as("n_chars"),
      words(col("text")).as("words"))
    val wordStats = base.select(col("doc_id"), col("n_chars"),
      size(col("words")).as("n_words"),
      size(array_distinct(col("words"))).as("n_distinct"))

    val g2 = base.select(col("doc_id"), col("n_chars"),
        explode(gramArray(col("words"), 2)).as("g"))
      .groupBy("doc_id", "n_chars", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "n_chars")
      .agg(max(struct(col("cnt"), col("g"))).as("top"))
      .select(col("doc_id"), col("top.g").as("top_2gram"),
        (col("top.cnt") * length(col("top.g")) / col("n_chars"))
          .as("top2gram_frac"))

    val g5 = base.select(col("doc_id"), explode(gramArray(col("words"), 5)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_occ"),
        sum(col("cnt")).as("tot_occ"))
      .select(col("doc_id"), (col("dup_occ") / col("tot_occ"))
        .as("dup_5gram_frac"))

    wordStats
      .select(col("doc_id"), col("n_words"),
        ((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
          .as("dup_word_frac"))
      .join(g2.drop("n_chars"), Seq("doc_id"))
      .join(g5, Seq("doc_id"))
  }

  /** CCNet-style corpus-level segment dedup: documents are cut into
    * consecutive `segWords`-word segments and a segment occurrence is a
    * DUPLICATE iff an identical segment appeared earlier in the corpus
    * (ordered by (doc_id, position) — first occurrence is the keeper).
    * Returns one row per document: segment count, duplicate count, and
    * the duplicate fraction.
    *
    * Scale shape: posexplode (map-only) → one shuffle partitioned by
    * the segment key for the first-occurrence rank → per-doc partial
    * agg. Exactly the plan a 100 TB paragraph-dedup job runs, with the
    * segment digest as the shuffle key; hot boilerplate segments skew
    * that key, which AQE's skew-join/agg split absorbs (the per-key
    * state is a single running rank, never a buffered group).
    */
  /** Consecutive `segWords`-word tiles of a `words` array column, as
    * strings; the trailing tile truncates (`slice` stops at the array
    * end, same as the oracle's inclusive list slice).
    */
  private def tileExpr(segWords: Int): String =
    s"transform(sequence(0, cast(ceil(size(words) / ${segWords}.0D) as int) - 1), " +
      s"i -> array_join(slice(words, i * $segWords + 1, $segWords), ' '))"

  def segmentDedup(docs: DataFrame, segWords: Int = 10): DataFrame = {
    val segs = docs
      .select(col("doc_id"), words(col("text")).as("words"))
      .select(col("doc_id"), posexplode(expr(tileExpr(segWords))))
      .toDF("doc_id", "pos", "seg")
    val ranked = segs.withColumn("occ",
      row_number().over(Window.partitionBy("seg").orderBy("doc_id", "pos")))
    ranked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        round(col("n_dup_segments") / col("n_segments"), 6).as("dup_frac"))
  }

  /** Unrounded dup_frac twin for the OracleMarginSpec boundary audit. */
  private[graft] def segmentDedupRaw(docs: DataFrame, segWords: Int = 10): DataFrame =
    segmentDedup(docs, segWords).select(col("doc_id"),
      (col("n_dup_segments") / col("n_segments")).as("dup_frac"))

  /** Cross-source duplicate-overlap matrix: for every pair of sources,
    * how many distinct `segWords`-word segments they SHARE, with each
    * side's distinct-segment count and the integer-permille Jaccard —
    * the contamination/provenance audit a curation team runs before
    * mixing sources (a crawl snapshot that is 30% segment-identical to
    * another is a dedup problem, not a new source).
    *
    * All integer arithmetic (counts + one truncating `div`) — bit-exact
    * cross-engine. Scale shape: explode → distinct (source, segment)
    * (partial-agg collapses repeats map-side) → one segment-keyed
    * equi-join whose per-key fanout is bounded by |sources|² (sources
    * are a dimension, never the corpus), then a (src_a, src_b)
    * partial-agg count. Hot boilerplate segments skew the segment key;
    * AQE's skew split absorbs it. At 100 TB the join key would be the
    * segment digest (same shape, smaller shuffle).
    */
  def sourceOverlap(docs: DataFrame, segWords: Int = 10): DataFrame = {
    val segs = docs
      .select(col("source"), words(col("text")).as("words"))
      .select(col("source"), explode(expr(tileExpr(segWords))).as("seg"))
      .distinct()
      // self-joined below: truncate the plan so the distinct runs once,
      // not once per join side (CLAUDE.md self-join rule)
      .localCheckpoint(true)
    val sizes = segs.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = segs.toDF("src_a", "seg")
      .join(segs.toDF("src_b", "seg2"), col("seg") === col("seg2"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.toDF("src_a", "n_a")), "src_a")
      .join(broadcast(sizes.toDF("src_b", "n_b")), "src_b")
      .withColumn("jaccard_permille",
        expr("n_shared * 1000L div (n_a + n_b - n_shared)"))
      .select("src_a", "src_b", "n_shared", "n_a", "n_b", "jaccard_permille")
      .orderBy("src_a", "src_b")
  }

  /** Dedup growth curve: cut the corpus into `bucketDocs`-document
    * batches in doc_id order and report, at each batch boundary, the
    * cumulative segment count, the cumulative count of FIRST-occurrence
    * segments (first by (doc_id, position), [[segmentDedup]]'s keeper
    * rule), and the duplicate rate in integer permille — the
    * diminishing-returns curve that tells a corpus team how much NEW
    * content each additional crawl batch actually contributes.
    *
    * Integer outputs only — bit-exact cross-engine. Scale shape: the
    * same segment-keyed first-occurrence rank as [[segmentDedup]], a
    * bucket partial-agg (one row per batch survives), then a running
    * sum over the bounded bucket table — the two-phase prefix-sum
    * argument: the SinglePartition exchange carries one row per BATCH,
    * never the corpus.
    */
  def dedupGrowth(docs: DataFrame, segWords: Int = 10,
                  bucketDocs: Long = 50): DataFrame = {
    val segs = docs
      .select(col("doc_id"), words(col("text")).as("words"))
      .select(col("doc_id"), posexplode(expr(tileExpr(segWords))))
      .toDF("doc_id", "pos", "seg")
    val ranked = segs.withColumn("occ",
      row_number().over(Window.partitionBy("seg").orderBy("doc_id", "pos")))
    val perBucket = ranked
      .groupBy(expr(s"doc_id div ${bucketDocs}L").as("bucket"))
      .agg(count(lit(1)).as("ns"),
        sum(when(col("occ") === 1, 1L).otherwise(0L)).as("nf"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("segs_cum", sum("ns").over(cum))
      .withColumn("uniq_cum", sum("nf").over(cum))
      .select(col("bucket"), col("segs_cum"), col("uniq_cum"),
        expr("(segs_cum - uniq_cum) * 1000L div segs_cum").as("dup_permille"))
      .orderBy("bucket")
  }
}
