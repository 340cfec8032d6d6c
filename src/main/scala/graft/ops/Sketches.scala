package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable counting sketches — the approximate-query family a 100 TB
  * engine needs where the exact answer is shuffle-bound: HyperLogLog
  * distinct counting (a `count(distinct x)` whose state is 64 bytes, so
  * shards combine by elementwise max instead of re-shuffling the corpus)
  * and Count-Min frequency estimation (point lookups of any key's count
  * from a d×w counter grid that merges by elementwise sum).
  *
  * Both ride the portable md5 recipe (see `CurationPipeline.hashBucket`):
  * every hash, register index, and rho is derived from md5 hex digits
  * with integer arithmetic only, so the DuckDB oracle replays the sketch
  * construction AND the estimator arithmetic bit for bit — the same
  * cross-engine determinism contract as the rest of the surface.
  *
  * Scale shape: one corpus pass each. HLL partial-aggregates onto a
  * 64-key space (map-side max), CMS onto ≤ d·w = 2048 keys (map-side
  * sum) — the reduce state is constant-size regardless of input rows,
  * which is the entire point of a sketch at 100 TB.
  */
object Sketches {

  /** Register count m = 64 (p = 6): standard error 1.04/√64 ≈ 13%. */
  val HllM = 64

  /** floor(1000 · α₆₄ · 64²) with α₆₄ = 0.7213/(1 + 1.079/64) — the
    * classic HLL bias constant, pre-scaled to milli so the estimator is
    * one integer multiply + truncating divide on both engines.
    */
  val AlphaM2Milli = 2905452L

  /** Estimator numerator α₆₄·m²·1000 · 2^30 — precomputed in Scala so
    * neither engine's SQL multiplies two large literals (Spark's int
    * literals would overflow under ANSI before promotion).
    */
  val HllEstNumer: Long = AlphaM2Milli << 30

  /** Per-element (register, rho): register = first md5 hex byte mod m;
    * rho = 1 + the number of leading zero BITS of the remaining 120
    * hash bits. No 128-bit integer math: 4 bits per leading '0' hex
    * char, plus the zeros inside the first nonzero hex digit read off
    * ASCII order (hex digits sort '1' < … < '9' < 'a' < … < 'f', so
    * c ≥ '8' ⇔ top bit set, c ≥ '4' ⇔ value ≥ 4, …). An all-zero
    * 120-bit suffix (probability 2^-120) caps rho at 121.
    */
  private def regRho(key: Column, m: Int): (Column, Column) = {
    val h = md5(key)
    val reg = pmod(conv(substring(h, 1, 2), 16, 10).cast("long"), lit(m.toLong))
    val t = ltrim(substring(h, 3, 30), "0")
    val c = substring(t, 1, 1)
    val lz = when(c >= "8", 0).when(c >= "4", 1).when(c >= "2", 2).otherwise(3)
    val rho = when(length(t) === 0, lit(121))
      .otherwise(lit(4) * (lit(30) - length(t)) + lz + lit(1))
    (reg, rho.cast("long"))
  }

  /** The HLL sketch itself: (register, max_rho), ≤ m rows. This is the
    * mergeable state — the sketch of a union of shards is the
    * elementwise max of the shards' register tables (pinned by
    * SketchSpec). Registers never hit by any element are absent (their
    * implicit max_rho is 0; [[hllDistinct]] accounts for them).
    */
  def hllRegisters(df: DataFrame, key: Column, m: Int = HllM): DataFrame = {
    val (reg, rho) = regRho(key, m)
    df.select(reg.as("register"), rho.as("rho"))
      .groupBy("register").agg(max("rho").as("max_rho"))
  }

  /** Raw HLL estimate from the register table, entirely in int64:
    * denom = Σ 2^(30 − min(max_rho, 30)) over all m registers (absent
    * registers contribute 2^30), est = α·m²·1000·2^30 div (1000·denom).
    * The raw estimator (no small-range linear-counting correction —
    * that needs a log) is the gated value; it is the operative regime
    * whenever n ≳ 2.5·m, which a distinct count worth sketching is in.
    *
    * The final agg folds ≤ 64 rows — its single-partition exchange
    * carries one pre-aggregated row per partition, never the corpus
    * (allow-listed in PlanShapeSpec next to dedup_growth's prefix sum).
    */
  def hllDistinct(df: DataFrame, key: Column): DataFrame =
    hllRegisters(df, key, HllM)
      .agg(
        count(lit(1)).as("observed_regs"),
        sum(expr("shiftleft(cast(1 as bigint), cast(30 - least(max_rho, 30) as int))"))
          .as("dsum"))
      .select(col("observed_regs"),
        (col("dsum") + (lit(HllM.toLong) - col("observed_regs")) * lit(1L << 30))
          .as("denom"))
      .select(col("observed_regs"), col("denom"),
        expr(s"${HllEstNumer}L div (1000L * denom)").as("est_distinct"))

  /** Count-Min grid: d = 4 salted rows × w = 512 buckets. */
  val CmsDepth = 4
  val CmsWidth = 512L

  /** Row-i bucket of a key: portable md5 with salt `cms<i>_`. */
  def cmsBucket(word: Column, depth: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms${depth}_"), word)), 1, 8), 16, 10)
      .cast("long"), lit(CmsWidth))

  private def bucketCols(word: Column): Column =
    array((0 until CmsDepth).map(d => cmsBucket(word, d)): _*)

  /** The d×w counter table (the mergeable sketch — shards combine by
    * elementwise sum, pinned by SketchSpec). Token counts pre-aggregate
    * per word first (vocab-bounded) so the depth-explode fans out the
    * vocabulary, not the corpus.
    */
  def cmsCounters(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("n"), posexplode(bucketCols(col("word"))).as(Seq("depth", "bucket")))
      .groupBy("depth", "bucket").agg(sum("n").as("cnt"))

  /** Point-estimate every distinct word against the sketch:
    * est = min over the d rows of the word's bucket counter. est ≥ true
    * by construction (hash collisions only ever add); the overestimate
    * is the collision mass in the word's luckiest bucket. Probe side is
    * vocab-bounded, the counter side ≤ d·w rows → broadcast join.
    */
  def cmsEstimate(docs: DataFrame): DataFrame = {
    // the word-count table feeds BOTH the counter build and the probe —
    // materialize once or the corpus explode+agg lineage runs per side
    val wc = docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("true_n"))
      .localCheckpoint(true)
    val counters = wc
      .select(col("true_n").as("n"),
        posexplode(bucketCols(col("word"))).as(Seq("depth", "bucket")))
      .groupBy("depth", "bucket").agg(sum("n").as("cnt"))
    wc.select(col("word"), col("true_n"),
        posexplode(bucketCols(col("word"))).as(Seq("depth", "bucket")))
      .join(broadcast(counters), Seq("depth", "bucket"))
      .groupBy("word", "true_n").agg(min("cnt").as("est_n"))
  }

  /** Bloom filter: m = 8192 bits, k = 4 salted md5 positions. */
  private val BloomM = 8192L
  private val BloomK = 4

  /** Position-i bit of a key (salt `bloom<i>_`). */
  private def bloomPos(key: Column, i: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"bloom${i}_"), key)), 1, 8), 16, 10)
      .cast("long"), lit(BloomM))

  private def bloomPosCols(key: Column): Column =
    array((0 until BloomK).map(i => bloomPos(key, i)): _*)

  /** The filter as its set-bit positions (≤ m rows) — mergeable by
    * union-distinct, broadcastable at any corpus scale (8 KiB of
    * state stands in for the full key set a membership join would
    * otherwise ship to every executor).
    */
  def bloomBits(keys: DataFrame, key: Column): DataFrame =
    keys.select(explode(bloomPosCols(key)).as("bit")).distinct()

  /** Membership probe: a key tests positive iff ALL k of its bit
    * positions are set. No false negatives by construction (pinned by
    * SketchSpec); false positives are the (1-e^{-kn/m})^k tradeoff.
    * Probe side explodes k rows per key against the ≤ m-row broadcast
    * bit table, then folds back with a count-of-k match.
    */
  def bloomContains(df: DataFrame, key: Column, bits: DataFrame): DataFrame = {
    val marked = broadcast(bits.withColumn("hit", lit(1)))
    df.withColumn("__key", key)
      .select(col("*"), explode(bloomPosCols(col("__key"))).as("bit"))
      .join(marked, Seq("bit"), "left")
      .groupBy(df.columns.map(col) :+ col("__key"): _*)
      .agg((sum(coalesce(col("hit"), lit(0))) === BloomK).as("maybe_member"))
      .drop("__key")
  }

  /** Bottom-k content sample: the k smallest (md5-derived 32-bit hash,
    * doc_id) pairs — a deterministic, MERGEABLE uniform sample (the
    * bottom-k of a union is the bottom-k of the concatenated bottom-ks),
    * the eyeball-QA sample a 100 TB pipeline re-draws identically every
    * run. Plans as map-side partial top-k + TakeOrderedAndProject —
    * no shuffle of the corpus.
    */
  def bottomK(df: DataFrame, key: Column, k: Int): DataFrame =
    df.select(conv(substring(md5(key), 1, 8), 16, 10).cast("long").as("h"),
        col("doc_id"))
      .orderBy("h", "doc_id").limit(k)

  /** KMV distinct estimate from the k-th smallest DISTINCT hash:
    * est = (k−1) · 2^32 // h_k — the classic k-minimum-values
    * estimator, all int64 (requires ≥ k distinct keys; stderr
    * ~ 1/√(k−2)). The final fold is over exactly k rows.
    */
  def bottomKDistinct(df: DataFrame, key: Column, k: Int): DataFrame =
    df.select(conv(substring(md5(key), 1, 8), 16, 10).cast("long").as("h"))
      .distinct().orderBy("h").limit(k)
      .agg(max("h").as("kth_hash"))
      // greatest(·,1): an md5 starting 00000000 (p = 2^-32) would make
      // h_k zero and the ANSI div throw — the oracle carries the same
      // guard so the arithmetic stays identical
      .select(col("kth_hash"),
        expr(s"(${k - 1}L * 4294967296L) div greatest(kth_hash, 1L)")
          .as("est_distinct"))

  /** Mergeable fixed-bin histogram quantiles — the one-pass,
    * fixed-memory quantile sketch (the equi-width cousin of t-digest,
    * fully deterministic): per group, bucket `n_chars` into
    * `binWidth`-wide bins, partial-agg the counts (the sketch state —
    * one long per occupied bin, mergeable by addition), then each
    * requested percentile reads the smallest bin whose cumulative
    * count reaches ⌈p·n/100⌉. Reported value = the bin's LOWER edge —
    * integer, so the answer is exact sketch semantics on any engine,
    * no interpolation float.
    *
    * Scale shape: one (group, bin) partial agg — state is bins, not
    * rows — then a per-group cumulative window over the bounded bin
    * table. Nothing touches corpus-sized state after the first agg.
    */
  def histQuantiles(docs: DataFrame, binWidth: Long = 50L,
                    percents: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val counts = docs
      .select(col("lang"), expr(s"n_chars div ${binWidth}L").as("bin"))
      .groupBy("lang", "bin").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("lang").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(
        Window.partitionBy("lang")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // cum*100 >= p*n  ⇔  cum >= ceil(p*n/100), all int64
    val picks = percents.map(p =>
      min(when(col("cum") * 100 >= col("n") * p, col("bin") * binWidth))
        .as(s"p${p}_lo"))
    cum.groupBy("lang").agg(picks.head, picks.tail: _*)
  }
}
