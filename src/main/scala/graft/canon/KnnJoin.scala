package graft.canon

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** k-NN similarity edges per group (reference A26: per-inspection
  * KDTree, k=5, self-match skipped — similarity_pipeline.py:153-192).
  *
  * Two physical strategies:
  *  - [[exactTopK]]: group-scoped self-join + windowed top-k. Exact;
  *    quadratic in group size — right when groups are bounded (frames
  *    per inspection), wrong at web scale.
  *  - [[approxTopK]]: random-hyperplane LSH bucketing + within-bucket
  *    join + windowed top-k. Near-linear; the 100 TB path. Multiple
  *    hash tables raise recall; candidates are deduplicated before
  *    ranking.
  */
object KnnJoin {

  /** Squared L2 between two array<double> columns — native codegen'd
    * expression (graft.core.VectorExprs), not a boxed HOF lambda.
    */
  def sqDist(a: Column, b: Column): Column = graft.core.VectorExprs.sq_dist(a, b)

  def dist(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  /** (src, dst, distance) candidates → k nearest per src: bounded
    * top-k with per-dst min dedup and deterministic (distance, dst)
    * ties, as a typed two-phase reduction. Phase 1 prunes each task's
    * candidates to ≤ k survivors per src BEFORE the exchange (safe
    * because membership in the global top-k implies membership in the
    * top-k of every subset — the property that matters when hot LSH
    * buckets fan out at 100 TB); phase 2 repartitions the per-task
    * partial arrays by src and re-runs the same bounded insert.
    *
    * Optimization round 6: this replaces the typed-Aggregator
    * (ScalaAggregator) groupBy, whose per-candidate encoder round-trip
    * and Seq-buffer serialize/merge were 70 of ~87 task-s on the
    * pipeline's kNN probe. Same pruning/tie/dedup semantics, primitive
    * arrays end to end: ids are Long, and ties at equal distance go to
    * the numerically smaller dst.
    */
  private def topKByDistance(candidates: DataFrame, k: Int,
                             dropSelf: Boolean): DataFrame = {
    val ranked = candidates
      .select(col("src"), col("dst"), col("distance").cast("double").as("distance"))
      .as[CandL](org.apache.spark.sql.Encoders.product[CandL])
      .mapPartitions(it => partialTopKLong(it, k))(
        org.apache.spark.sql.Encoders.product[PartL])
      .repartition(col("src"))
      .mapPartitions(it => mergeLong(it, k))(
        org.apache.spark.sql.Encoders.product[CandL]).toDF()
    if (dropSelf) ranked.where(col("src") =!= col("dst")) else ranked
  }

  /** Phase-1 reduction for [[topKByDistance]]: per-task bounded top-k
    * over raw candidate rows, one partial array row per src.
    */
  private def partialTopKLong(it: Iterator[CandL], k: Int): Iterator[PartL] = {
    val acc = new java.util.HashMap[Long, KBufL]()
    while (it.hasNext) {
      val c = it.next()
      var b = acc.get(c.src)
      if (b == null) { b = new KBufL(k); acc.put(c.src, b) }
      b.insert(c.distance, c.dst)
    }
    import scala.jdk.CollectionConverters._
    acc.entrySet().iterator().asScala.map { kv =>
      val b = kv.getValue
      PartL(kv.getKey, java.util.Arrays.copyOf(b.ds, b.n),
        java.util.Arrays.copyOf(b.ids, b.n))
    }
  }

  /** feat: (id long, group long, vec array<double>).
    * Returns (src, dst, distance): k nearest neighbors of each id
    * within its group, deterministic ties by dst id.
    *
    * `selfRank = true` reproduces the reference's KDTree semantics
    * (similarity_pipeline.py:176-192): the query point is IN the tree,
    * so `query(v, k)` spends one of the k slots on the self-match, which
    * is then skipped — at most k−1 edges per node. With `false` (the
    * generic ANN-graph default) the self pair is excluded before ranking
    * and each node gets a full k neighbors.
    */
  def exactTopK(feat: DataFrame, k: Int, selfRank: Boolean = false): DataFrame = {
    // self-join: materialize once or the whole upstream lineage runs twice
    val f = feat.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = f.select(col("id").as("src"), col("group"), col("vec").as("va"))
    val b = f.select(col("id").as("dst"), col("group"), col("vec").as("vb"))
    val pairs = a.join(b, Seq("group"))
    val candidates = if (selfRank) pairs else pairs.where(col("src") =!= col("dst"))
    topKByDistance(
      candidates.select(col("src"), col("dst"), dist(col("va"), col("vb")).as("distance")),
      k, dropSelf = true)
  }

  /** LSH top-k: `tables` independent sign-random-projection signatures
    * of `bits` bits each; rows sharing (table, signature, group) become
    * candidates. Deterministic hyperplanes from a seeded hash of the
    * dimension index — no fitted model state to persist.
    *
    * Candidate generation is LINEAR in bucket size: a full within-bucket
    * self-join goes K² on a hot bucket (at 400k rows the telemetry space
    * produced 117M pairs, 29× the useful work; a 100 TB boilerplate
    * bucket would be quadratic). Instead, rows in a bucket are ordered
    * by one extra deterministic projection (near in L2 ⇒ near in any 1-d
    * projection, so true neighbors land at adjacent positions) and each
    * row pairs only with its ±`window` positional neighbors — exactly
    * 2·window·tables candidates per row. Buckets of ≤ window+1 rows are
    * still paired exhaustively, so fixture-scale recall is unchanged
    * (CanonSpec's 0.8 floor).
    *
    * Physical shape (optimization round 6, guide §2.3/§2.4): ONE
    * exchange. The bucket rows are co-located with `repartition(group,
    * t, sig)` + `sortWithinPartitions(..., p, id)` — the identical
    * order the previous row_number() window assigned — and a single
    * mapPartitions pass walks each sorted bucket with a `window`-sized
    * ring buffer, scoring the exact same Δpos ∈ [1, window] pairs the
    * old positional-block self-join produced, accumulating a bounded
    * per-src top-k in a task-local hash map (same (distance, dst) tie
    * rule and per-dst min dedup as [[topKByDistance]], so pruning is
    * safe by the same subset argument the partial aggregation relies
    * on). The previous plan shuffled the VECTORS four times (window
    * rank, localCheckpoint, both join sides) and fed ~2·window·tables
    * candidate rows per input row through the aggregator; this plan
    * shuffles them once and hands the final groupBy ≤ tables·k rows per
    * src. Candidate pair set, distances, and tie-breaks are unchanged —
    * results are identical (CanonSpec + the driver's knn oracle gates).
    */
  def approxTopK(feat: DataFrame, k: Int, tables: Int = 4, bits: Int = 8,
                 seed: Long = 42L, selfRank: Boolean = false,
                 window: Int = 8, portable: Boolean = false): DataFrame = {
    // final cross-task merge: repartition the per-task top-k PARTIALS
    // (≤ k entries per (src, task), one array row each) by src and run
    // the same bounded-insert merge in a typed mapPartitions. This
    // replaces the ScalaAggregator groupBy, whose per-row encoder
    // round-trip and Seq-buffer serialize/merge dominated the whole kNN
    // (70 of ~87 task-s on the 4-core probe); semantics are unchanged —
    // per-dst min dedup then k smallest by (distance, dst) — so results
    // are identical to the aggregator path exactTopK still uses.
    lshPartials(feat, k, tables, bits, seed, selfRank, window, portable)
      .repartition(col("src"))
      .mapPartitions(it => mergeLong(it, k))(
        org.apache.spark.sql.Encoders.product[CandL]).toDF()
      .where(col("src") =!= col("dst"))
  }

  /** Row-level candidate view of [[lshPartials]] (measurement harness
    * only — [[approxTopK]] merges the array partials directly).
    */
  private[graft] def lshCandidates(
                 feat: DataFrame, k: Int, tables: Int = 4, bits: Int = 8,
                 seed: Long = 42L, selfRank: Boolean = false,
                 window: Int = 8, portable: Boolean = false): DataFrame = {
    lshPartials(feat, k, tables, bits, seed, selfRank, window, portable)
      .select(col("src"), posexplode(col("ds")).as(Seq("i", "distance")), col("ids"))
      .select(col("src"), col("ids")(col("i")).as("dst"), col("distance"))
  }

  /** Per-task pre-aggregated top-k partials: one row per (src, task)
    * with parallel distance/id arrays (≤ k entries).
    */
  private def lshPartials(
                 feat: DataFrame, k: Int, tables: Int, bits: Int, seed: Long,
                 selfRank: Boolean, window: Int,
                 portable: Boolean): Dataset[PartL] = {
    require(bits > 0, s"LSH needs at least one signature bit, got bits=$bits")
    val dims = 64 // upper bound on vec length used for plane generation
    // signature per table: sum over bits of sign(dot(vec, plane)) << bit.
    // portable=true swaps the avalanche-mixed coefficients for the
    // md5-derived portable formula (key "<table>_<bit>_<dim>") so an
    // external SQL engine regenerates the identical hyperplanes — the
    // oracle gate for the positional-block machinery; seed is ignored.
    def planeCoef(t: Int, bit: Int, d: Int): Double =
      if (portable) portablePlaneCoef(s"${t}_${bit}_${d}")
      else {
        val h = graft.core.Rng.mix(seed + t * 1000003L, bit * 131L + d)
        (h >>> 11) * 1.1102230246251565e-16 * 2.0 - 1.0
      }
    def plane(t: Int, bit: Int): Column =
      lit((0 until dims).map(d => planeCoef(t, bit, d)).toArray)
    def signature(t: Int): Column = {
      val bitCols = (0 until bits).map { bit =>
        // Dot runs over min(|vec|, |planes|) — no slicing needed
        val dot = graft.core.VectorExprs.vec_dot(col("vec"), plane(t, bit))
        when(dot >= 0, lit(1L << bit)).otherwise(lit(0L))
      }
      bitCols.reduce(_ + _)
    }
    // ordering projection: one extra plane per table (index `bits`, never
    // used by the signature), so bucket order is independent of the bits
    def orderProj(t: Int): Column =
      graft.core.VectorExprs.vec_dot(col("vec"), plane(t, bits))
    val tagged = feat.select(
      col("id"), col("group"), col("vec"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), signature(t).as("sig"), orderProj(t).as("p"))): _*)).as("h"))
      .select(col("id"), col("group"), col("vec"),
        col("h.t").as("t"), col("h.sig").as("sig"), col("h.p").as("p"))

    // the ONE exchange: co-locate each (group, t, sig) bucket, order it
    // by (p, id) — exactly the row_number order of the previous plan.
    val bucketed = tagged
      .repartition(col("group"), col("t"), col("sig"))
      .sortWithinPartitions(col("group"), col("t"), col("sig"), col("p"), col("id"))

    // ids and groups are Long (the pipeline's packed frame ids); the
    // encoder widens Int and rejects non-numeric columns at analysis
    bucketed.select(col("id"), col("group").as("g"),
        col("t"), col("sig"), col("vec").cast("array<double>").as("vec"))
      .as[BRowL](org.apache.spark.sql.Encoders.product[BRowL])
      .mapPartitions(it => slideLong(it, k, window, selfRank))(
        org.apache.spark.sql.Encoders.product[PartL])
  }

  /** One md5-derived unit-cube coordinate for key `"<table>_<bit>_<dim>"`:
    * 8-hex parse, % 2001 − 1000, /1000 — the exact integer arithmetic a
    * SQL engine reproduces from its own md5.
    */
  private def portablePlaneCoef(key: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8")).map(x => f"$x%02x").mkString.take(8)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
  }

  // ---- sliding-window pairing + task-local bounded top-k ------------

  private[canon] final case class BRowL(id: Long, g: Long, t: Int, sig: Long,
                                        vec: Array[Double])
  private[canon] final case class CandL(src: Long, dst: Long, distance: Double)
  private[canon] final case class PartL(src: Long, ds: Array[Double], ids: Array[Long])

  /** Σ (a_i − b_i)² over min length — same accumulation order as
    * [[graft.core.VectorExprs.SqDist]] (bit-identical distances).
    */
  private def sqd(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Bounded top-k buffer, sorted by (distance, dst): per-dst min
    * dedup and pruning in primitive arrays (no per-candidate allocation).
    */
  private final class KBufL(k: Int) {
    val ds = new Array[Double](k); val ids = new Array[Long](k); var n = 0
    def insert(d: Double, dst: Long): Unit = {
      if (n == k) {
        val wd = ds(n - 1)
        // full-buffer fast reject: if dst were buffered with a LARGER
        // distance, that distance would be ≤ worst < d — contradiction,
        // so rejecting here never discards a min-dedup winner
        if (d > wd || (d == wd && dst >= ids(n - 1))) return
      }
      var di = -1; var i = 0
      while (i < n && di < 0) { if (ids(i) == dst) di = i; i += 1 }
      if (di >= 0) {
        if (ds(di) <= d) return // keep the min for this dst
        var j = di
        while (j < n - 1) { ds(j) = ds(j + 1); ids(j) = ids(j + 1); j += 1 }
        n -= 1
      }
      var pos = 0
      while (pos < n && (ds(pos) < d || (ds(pos) == d && ids(pos) < dst))) pos += 1
      if (n < k) n += 1
      var j = n - 1
      while (j > pos) { ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1 }
      ds(pos) = d; ids(pos) = dst
    }
  }

  /** Walk one task's sorted (group, t, sig, p, id) stream: a ring buffer
    * of the last `window` rows scores each new row against exactly the
    * Δpos ∈ [1, window] predecessors in its bucket (both directions),
    * accumulating per-src bounded top-k — the candidate pairs and tie
    * rules of the previous positional-block join, minus its shuffles.
    */
  private def slideLong(it: Iterator[BRowL], k: Int, window: Int,
                        selfRank: Boolean): Iterator[PartL] = {
    val w = math.max(window, 1)
    val acc = new java.util.HashMap[Long, KBufL]()
    def buf(src: Long): KBufL = {
      var b = acc.get(src)
      if (b == null) { b = new KBufL(k); acc.put(src, b) }
      b
    }
    val ringId = new Array[Long](w)
    val ringVec = new Array[Array[Double]](w)
    var started = false; var curG = 0L; var curT = 0; var curSig = 0L
    var ringN = 0; var ringPos = 0
    while (it.hasNext) {
      val r = it.next()
      if (!started || r.t != curT || r.sig != curSig || r.g != curG) {
        started = true; curG = r.g; curT = r.t; curSig = r.sig
        ringN = 0; ringPos = 0
      }
      if (selfRank) buf(r.id).insert(0.0, r.id)
      var i = 0
      while (i < ringN) {
        val idx = (ringPos - 1 - i + w + w) % w
        val d = math.sqrt(sqd(ringVec(idx), r.vec))
        buf(ringId(idx)).insert(d, r.id)
        buf(r.id).insert(d, ringId(idx))
        i += 1
      }
      ringId(ringPos) = r.id; ringVec(ringPos) = r.vec
      ringPos = (ringPos + 1) % w
      if (ringN < w) ringN += 1
    }
    // lazy emission straight off the accumulator (the input iterator is
    // fully consumed above, so mutation is done before emission starts)
    import scala.jdk.CollectionConverters._
    acc.entrySet().iterator().asScala.map { kv =>
      val b = kv.getValue
      PartL(kv.getKey, java.util.Arrays.copyOf(b.ds, b.n),
        java.util.Arrays.copyOf(b.ids, b.n))
    }
  }

  /** Cross-task partial merge (all partials of a src land in one task
    * after the repartition): the same bounded insert as the slide pass,
    * emitting the final ≤ k neighbors per src.
    */
  private def mergeLong(it: Iterator[PartL], k: Int): Iterator[CandL] = {
    val acc = new java.util.HashMap[Long, KBufL]()
    while (it.hasNext) {
      val p = it.next()
      var b = acc.get(p.src)
      if (b == null) { b = new KBufL(k); acc.put(p.src, b) }
      var i = 0
      while (i < p.ds.length) { b.insert(p.ds(i), p.ids(i)); i += 1 }
    }
    import scala.jdk.CollectionConverters._
    acc.entrySet().iterator().asScala.flatMap { kv =>
      val b = kv.getValue
      (0 until b.n).iterator.map(i => CandL(kv.getKey, b.ids(i), b.ds(i)))
    }
  }
}
