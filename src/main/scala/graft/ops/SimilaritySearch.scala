package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id long, embedding array<float>, label int)`).
  *
  * Baseline: brute-force cosine top-k — one scan, no shuffle besides
  * the final TakeOrdered. Scale path: IVF-style bucketing — assign each
  * vector to its nearest of C deterministic centroids (sign-projection
  * buckets), probe only matching buckets.
  */
object SimilaritySearch {

  def dot(a: Column, b: Column): Column = graft.core.VectorExprs.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(graft.core.VectorExprs.vec_dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k for one query vector: the exact baseline.
    * Whole plan = scan → project (codegen HOF) → TakeOrderedAndProject.
    */
  def bruteForceTopK(embeddings: DataFrame, query: Array[Double], k: Int): DataFrame = {
    val q = lit(query)
    val v = expr("transform(embedding, x -> cast(x as double))")
    embeddings.select(col("vec_id"), round(cosine(v, q), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** LSH-bucketed ANN: query probes only its own sign-projection
    * buckets across `tables` hash tables, then exact re-rank.
    */
  def lshTopK(embeddings: DataFrame, query: Array[Double], k: Int,
              tables: Int = 6, bits: Int = 6, window: Int = 8): DataFrame = {
    val feat = embeddings.select(col("vec_id").cast("string").as("id"),
      lit(1L).as("group"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
    // reuse the deterministic hyperplanes of KnnJoin via a one-row query df
    val qdf = feat.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("__query__", 1L, query)),
      feat.schema)
    val knn = graft.canon.KnnJoin.approxTopK(feat.unionByName(qdf), k, tables, bits,
      window = window)
    knn.where(col("src") === "__query__")
      .select(col("dst").cast("long").as("vec_id"), col("distance"))
  }

  /** Full-probe LSH: one table, zero signature bits (a single bucket) and
    * a pairing window covering the whole corpus — the bucketing machinery
    * runs end-to-end (tagging, positional blocking, pair join, top-k
    * ranker) but the candidate set is exhaustive, so the result reduces
    * to exact k-NN by L2 distance. This is the oracle gate for the LSH
    * path: the driver hash-checks it against brute-force SQL.
    * `n` must be ≥ the corpus size.
    */
  def lshTopKFull(embeddings: DataFrame, query: Array[Double], k: Int,
                  n: Int): DataFrame =
    lshTopK(embeddings, query, k, tables = 1, bits = 0, window = n)

  /** Argmin over a broadcast centroid table as a LINEAR fold: the
    * centroid table is one array<array<double>> literal and `aggregate`
    * threads the running (best distance, index) through a lambda
    * variable — a fixed-size expression regardless of C. (A naive
    * when(a<=b,a).otherwise(b) reduce duplicates the accumulated subtree
    * per step: 2^C nodes, megabyte task binaries, and a 585 s query at
    * sf0.1.)
    */
  private def nearestCentroid(vecCol: Column, cents: Array[Array[Double]]): Column = {
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    aggregate(
      sequence(lit(0), lit(cents.length - 1)),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("i")),
      (acc, i) => {
        val d = graft.core.VectorExprs.sq_dist(vecCol, element_at(centsLit, i + 1))
        when(d < acc("d"), struct(d.as("d"), i.as("i"))).otherwise(acc)
      }
    )("i")
  }

  /** Deterministic seed centroids: the C vectors with the smallest id
    * hash — a seeded sample of the data.
    */
  private def sampleCentroids(embeddings: DataFrame, c: Int): Array[Array[Double]] =
    embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"),
        xxhash64(col("vec_id")).as("h"))
      .orderBy("h").limit(c)
      .select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Lloyd-iteration centroid fit (the k-means|| shape: seed from a
    * deterministic sample, refine with `iters` assign/average rounds over
    * a bounded sample). Hash-sample seeds give no balance guarantee on
    * clustered real data — a couple of Lloyd rounds make the
    * nProbe/recall trade-off trustworthy (reference anchor: the exact
    * KDTree of similarity_pipeline.py:153-157 is what IVF approximates).
    *
    * Scale shape: the fit runs on a `sampleCap`-bounded deterministic
    * sample (fitting is a statistics pass, not a corpus pass); each round
    * is one map-side assignment + one (bucket, dim)-grouped average —
    * shuffle rows ≤ sample·dims, independent of corpus size. Empty
    * clusters keep their previous centroid.
    */
  def fitCentroids(embeddings: DataFrame, c: Int, iters: Int,
                   sampleCap: Int = 100000): Array[Array[Double]] = {
    val sample = embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"),
        xxhash64(col("vec_id")).as("h"))
      .orderBy("h").limit(sampleCap)
      .select("vec")
      .localCheckpoint(true) // re-read once per Lloyd round
    var cents = sampleCentroids(embeddings, c)
    for (_ <- 0 until iters) {
      val stats = sample
        .withColumn("bucket", nearestCentroid(col("vec"), cents))
        .select(col("bucket"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy("bucket", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val (b, d) = (r.getInt(0), r.getInt(1))
        next(b)(d) = r.getDouble(2) / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  /** IVF-flat ANN: C centroids (deterministic hash-sample seeds, or
    * `fitIters` Lloyd rounds over a sample when > 0), every vector
    * assigned to its nearest centroid (broadcast argmin, map-only), a
    * query probes the nProbe nearest centroid buckets and re-ranks
    * exactly. The inverted-list shape that scales: candidate set ≈
    * nProbe/C of the corpus instead of all of it.
    */
  def ivfTopK(embeddings: DataFrame, query: Array[Double], k: Int,
              centroids: Int = 16, nProbe: Int = 4,
              fitIters: Int = 0): DataFrame = {
    val v = expr("transform(embedding, x -> cast(x as double))")
    val cents =
      if (fitIters > 0) fitCentroids(embeddings, centroids, fitIters)
      else sampleCentroids(embeddings, centroids)

    val assigned = embeddings.select(col("vec_id"), v.as("vec"))
      .withColumn("bucket", nearestCentroid(col("vec"), cents))

    // buckets the query probes: nProbe nearest centroids (driver-side,
    // centroids are a dimension)
    val qDist = cents.zipWithIndex.map { case (c, i) =>
      val d = c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
      (d, i)
    }.sortBy(_._1).take(nProbe).map(_._2)

    assigned.where(col("bucket").isin(qDist: _*))
      .select(col("vec_id"), round(cosine(col("vec"), lit(query)), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** PORTABLE-arithmetic seed centroids: the C vectors with the
    * smallest (md5-bucket, vec_id) key — the same `hashBucket` recipe
    * the portable curation/dedup twins use — so an external engine can
    * recompute the exact centroid set (and therefore the exact inverted
    * lists) with plain SQL. Ordered collect ⇒ centroid index = rank.
    */
  private[graft] def portableSeedCentroids(embeddings: DataFrame, c: Int): Array[Array[Double]] =
    embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"),
        hashBucket(col("vec_id").cast("string")).as("h"))
      .orderBy("h", "vec_id").limit(c)
      .select("vec").collect().map(_.getSeq[Double](0).toArray)

  /** [[nearestCentroid]] on EUCLIDEAN (sqrt) distance: both engines then
    * compare the identical correctly-rounded sqrt doubles, so the argmin
    * (strict `<` ⇒ lowest index wins ties) is replayable by an external
    * engine ordering on its own Euclidean distance + index. (Comparing
    * raw squared distances against an oracle that sorts by sqrt values
    * has a corner where two unequal squares round to one sqrt.)
    */
  private def nearestCentroidL2(vecCol: Column, cents: Array[Array[Double]]): Column = {
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    aggregate(
      sequence(lit(0), lit(cents.length - 1)),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("i")),
      (acc, i) => {
        val d = sqrt(graft.core.VectorExprs.sq_dist(vecCol, element_at(centsLit, i + 1)))
        when(d < acc("d"), struct(d.as("d"), i.as("i"))).otherwise(acc)
      }
    )("i")
  }

  /** PORTABLE IVF twin of [[ivfTopK]] with REAL probing (nProbe < C —
    * unlike the full-probe gate, the candidate set is a strict subset):
    * centroids are the portable md5-ranked sample, assignment is the
    * Euclidean argmin above, and the probe set is the nProbe centroids
    * nearest the query (same left-to-right sqrt arithmetic, ties by
    * index). Every stage is recomputable in plain SQL, so the DuckDB
    * oracle replays centroid choice → inverted lists → probing → exact
    * re-rank and must reproduce the result bit-for-bit. Same plan shape
    * and scale behavior as the production variant (broadcast argmin,
    * map-only assignment, candidate set ≈ nProbe/C of the corpus).
    */
  def ivfTopKPortable(embeddings: DataFrame, query: Array[Double], k: Int,
                      centroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val v = expr("transform(embedding, x -> cast(x as double))")
    val cents = portableSeedCentroids(embeddings, centroids)
    val assigned = embeddings.select(col("vec_id"), v.as("vec"))
      .withColumn("bucket", nearestCentroidL2(col("vec"), cents))
    val probe = cents.zipWithIndex.map { case (c, i) =>
      (math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum), i)
    }.sorted.take(nProbe).map(_._2)
    assigned.where(col("bucket").isin(probe: _*))
      .select(col("vec_id"), round(cosine(col("vec"), lit(query)), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** PORTABLE random-hyperplane components: unit-cube coordinates
    * derived from the md5 of `"<bit>_<dim>"` — the same 8-hex-digit
    * parse the other portable twins use, so an external engine generates
    * the identical hyperplanes with plain SQL.
    */
  private[graft] def portablePlanes(bits: Int, dims: Int,
                                    prefix: String = ""): Array[Array[Double]] =
    Array.tabulate(bits, dims)((b, d) =>
      graft.canon.KnnJoin.portablePlaneCoef(s"$prefix${b}_${d}"))

  /** Product-quantization ANN — the memory-bounded scale path beyond
    * IVF: split each vector into `blocks` sub-vectors, quantize every
    * block to its nearest of `codes` codewords, and answer queries by
    * ADC (asymmetric distance computation) — a driver-computed
    * blocks×codes table of squared query-block-to-codeword distances,
    * so the per-vector work is `blocks` small argmins plus table
    * lookups and a vector is representable in `blocks` bytes. In
    * production the encode step materializes once; here it runs
    * inline, same plan shape (map-only scan → TakeOrdered).
    *
    * Fully portable, same discipline as [[ivfTopKPortable]]: the
    * codebook is the md5-ranked seed rows sliced per block, the
    * per-block encode argmin compares sqrt'd distances (strict `<`,
    * lowest code wins), and the approximate distance is
    * sqrt(Σ_b adc[b][code_b]) with BOTH levels of the sum evaluated
    * left-to-right on both engines (per-block dimension loop, then the
    * block fold) — summation order is part of the contract, since
    * float addition does not associate.
    */
  def pqTopK(embeddings: DataFrame, query: Array[Double], k: Int,
             blocks: Int = 8, codes: Int = 8): DataFrame =
    pqApproxRaw(embeddings, query, blocks, codes)
      .orderBy(asc("approx"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("approx"), 6).as("distance_approx"))

  /** Unrounded twin of [[pqTopK]] (every vector, raw approx distance) —
    * OracleMarginSpec audits these against the round-6 grid boundary.
    */
  private[graft] def pqApproxRaw(embeddings: DataFrame, query: Array[Double],
                                 blocks: Int = 8, codes: Int = 8): DataFrame =
    pqApproxOn(
      embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec")),
      portableSeedCentroids(embeddings, codes), query, blocks)

  /** The PQ scoring core over a (vec_id, vec) frame with an explicit
    * codebook: per-block encode argmin + ADC lookup + the block-order
    * left fold. Shared by [[pqTopK]] and [[ivfPqTopK]].
    */
  private def pqApproxOn(vecs: DataFrame, seeds: Array[Array[Double]],
                         query: Array[Double], blocks: Int): DataFrame = {
    val dims = query.length
    require(dims % blocks == 0, s"$dims dims not divisible into $blocks blocks")
    val blockLen = dims / blocks
    def blockOf(arr: Array[Double], b: Int): Array[Double] =
      arr.slice(b * blockLen, (b + 1) * blockLen)
    // adc(b)(c): left-to-right squared distance of the query's block b
    // to codeword c — the same fold order as VectorExprs.sq_dist
    val adc: Array[Array[Double]] = Array.tabulate(blocks, seeds.length) { (b, c) =>
      val (qb, cb) = (blockOf(query, b), blockOf(seeds(c), b))
      var s = 0.0; var d = 0
      while (d < blockLen) { val t = qb(d) - cb(d); s += t * t; d += 1 }
      s
    }
    def encodeB(b: Int): Column = nearestCentroidL2(
      expr(s"slice(vec, ${b * blockLen + 1}, $blockLen)"),
      seeds.map(blockOf(_, b)))
    val approxSq = (0 until blocks).map(b =>
      element_at(lit(adc(b)), encodeB(b) + 1)).reduce(_ + _)
    vecs.withColumn("approx", sqrt(approxSq))
      .select(col("vec_id"), col("approx"))
  }

  /** IVF-PQ — the composite the large-vector-index world defaults to:
    * probe the `nProbe` nearest inverted lists (portable md5-ranked
    * centroids, Euclidean argmin assignment), then PQ-score ONLY the
    * candidates with the same codebook. Both stages are the
    * hash-proven portable machineries of [[ivfTopKPortable]] and
    * [[pqTopK]]; the DuckDB oracle replays assignment → probe →
    * encode → ADC end to end. Cost per query: candidate fraction
    * ≈ nProbe/C of the corpus, each candidate `blocks` lookups.
    */
  def ivfPqTopK(embeddings: DataFrame, query: Array[Double], k: Int,
                centroids: Int = 8, nProbe: Int = 2,
                blocks: Int = 8): DataFrame = {
    val cents = portableSeedCentroids(embeddings, centroids)
    val probe = cents.zipWithIndex.map { case (c, i) =>
      (math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum), i)
    }.sorted.take(nProbe).map(_._2)
    val cands = embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("bucket", nearestCentroidL2(col("vec"), cents))
      .where(col("bucket").isin(probe: _*))
      .select(col("vec_id"), col("vec"))
    pqApproxOn(cands, cents, query, blocks)
      .orderBy(asc("approx"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("approx"), 6).as("distance_approx"))
  }

  /** Scalar int8 quantization ANN (maximum-inner-product top-k) — the
    * OTHER quantized-at-rest trade-off next to [[pqTopK]]: keep one
    * code per dimension (4× smaller than float32, no codebook) with a
    * per-vector scale. Everything decisive is exact: the scale is a
    * float MAX (order-free), the codes are
    * `floor(x·127/scale + 0.5)` (one fully specified float chain per
    * element), the code dot product accumulates in exact int64, and
    * only then does ONE fixed-order float product
    * `((dot · sq) · sv) / 16129` produce the score — so the DuckDB
    * oracle replays quantization and scoring bit-for-bit. Plan shape:
    * a single codegen'd map over the scan → TakeOrderedAndProject.
    */
  def sqTopK(embeddings: DataFrame, query: Array[Double], k: Int): DataFrame =
    sqApproxRaw(embeddings, query)
      .orderBy(desc("approx_dot"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("approx_dot"), 6).as("dot_approx"))

  /** Unrounded twin of [[sqTopK]] for the round-6 margin audit. */
  private[graft] def sqApproxRaw(embeddings: DataFrame, query: Array[Double]): DataFrame = {
    // zero-vector guard: an all-zero query/vector has max-abs scale 0 and
    // the unguarded division makes NaN codes (the ANSI bigint cast then
    // throws). Clamping the scale to 1 is exact: a zero scale implies
    // every component is 0, so the codes and the dot are 0 either way.
    // The oracle SQL applies the identical CASE clamp.
    val qScale = { val m = query.map(math.abs).max; if (m > 0) m else 1.0 }
    val qCodes: Array[Long] = query.map(x => math.floor(x * 127.0 / qScale + 0.5).toLong)
    embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("qc", lit(qCodes))
      .withColumn("vscale",
        expr("case when array_max(transform(vec, x -> abs(x))) > 0D " +
          "then array_max(transform(vec, x -> abs(x))) else 1.0D end"))
      .withColumn("idot", expr(
        "aggregate(sequence(1, size(vec)), 0L, (acc, i) -> acc + " +
          "element_at(qc, i) * cast(floor(element_at(vec, i) * 127.0D / vscale + 0.5D) as bigint))")
        .as("idot"))
      .withColumn("approx_dot",
        col("idot").cast("double") * lit(qScale) * col("vscale") / lit(16129.0))
      .select(col("vec_id"), col("approx_dot"))
  }

  /** PORTABLE sign-projection LSH twin of [[lshTopK]] with REAL
    * bucketing (2^bits buckets — the query probes only its own): the
    * hyperplanes are the md5-derived literals above and the bucket key
    * is the sign pattern of the dot products, so the DuckDB oracle
    * replays plane generation → bucketing → probe → exact re-rank. The
    * query's bucket is computed by the SAME Catalyst `bucketOf`
    * expression over the query literal — foldable, so it constant-folds
    * into the probe predicate (Catalyst eval, not hand-rolled driver
    * arithmetic) and the whole probe is a map-only filter: no join, no
    * shuffle before the bounded top-k.
    */
  def lshTopKPortable(embeddings: DataFrame, query: Array[Double], k: Int,
                      bits: Int = 4): DataFrame = {
    val planes = portablePlanes(bits, query.length)
    def bucketOf(v: Column): Column =
      concat(planes.map(p =>
        when(dot(v, lit(p)) >= 0, lit("1")).otherwise(lit("0"))).toIndexedSeq: _*)
    val qlit = lit(query)
    embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .where(bucketOf(col("vec")) === bucketOf(qlit))
      .withColumn("dist", sqrt(graft.core.VectorExprs.sq_dist(col("vec"), qlit)))
      .orderBy(asc("dist"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("dist"), 6).as("distance"))
  }

  /** MMR (maximal-marginal-relevance) diversified re-ranking: fetch the
    * `pool` exact-cosine-nearest candidates, then greedily pick k of
    * them, each step maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked — the standard serving-side answer to "the top-10
    * are 10 copies of the same document" (Carbonell & Goldstein '98;
    * reference anchor: the exact KDTree neighbor fetch of
    * similarity_pipeline.py:153-157 is the undiversified stage 1).
    *
    * Scale split: stage 1 (candidate fetch) is the distributed scan →
    * codegen cosine → TakeOrderedAndProject — the corpus-sized work.
    * Stage 2 is the k-step greedy over the `pool`-row buffer, which is
    * inherently sequential and O(k·pool) — it runs driver-side exactly
    * as a serving node would run it per query (same bounded-collect
    * discipline as the centroid/vocab fits).
    *
    * Cross-engine determinism: relevances and pairwise similarities are
    * round-6 cosines via the dot/(√·√) left-to-right fold (DuckDB's
    * `list_cosine_similarity` is bit-identical to that form — verified,
    * and OracleMarginSpec audits the round-6 grid margins); λ enters as
    * exact centi-integers so both engines score with the identical
    * doubles `0.7·rel − 0.3·maxsim`, and ties break by vec_id. The
    * DuckDB oracle replays the greedy step for step.
    */
  def mmrTopK(embeddings: DataFrame, query: Array[Double], k: Int = 10,
              pool: Int = 24, lambdaCenti: Int = 70): DataFrame = {
    val v = expr("transform(embedding, x -> cast(x as double))")
    val cands = embeddings
      .select(col("vec_id"), v.as("vec"))
      .withColumn("rel", round(cosine(col("vec"), lit(query)), 6))
      .orderBy(desc("rel"), asc("vec_id"))
      .limit(pool)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

    // driver-side arithmetic replays the engine's exactly: left-to-right
    // dot fold (VectorExprs order), dot/(sqrt·sqrt), BigDecimal HALF_UP
    // round-6 (Spark's round semantics)
    def dotLR(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos6(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(dotLR(a, b) / (math.sqrt(dotLR(a, a)) * math.sqrt(dotLR(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val lam = lambdaCenti / 100.0
    val omLam = (100 - lambdaCenti) / 100.0
    val vecOf = cands.map(c => c._1 -> c._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(cands.map(c => c._1 -> c): _*)
    while (selected.length < math.min(k, cands.length)) {
      val best = remaining.values.map { case (id, vec, rel) =>
        val score =
          if (selected.isEmpty) rel
          else lam * rel - omLam * selected.map(s0 => cos6(vec, vecOf(s0._1))).max
        (id, rel, score)
      }.minBy { case (id, _, score) => (-score, id) }
      selected += best
      remaining.remove(best._1)
    }

    val spark = embeddings.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toDF("mmr_rank", "vec_id", "relevance", "mmr_score")
  }

  /** Matryoshka / adaptive retrieval: coarse-rank on the PREFIX
    * dimensions of the embedding (an MRL-trained model front-loads
    * information, so the first `prefixDims` coordinates are a usable
    * low-cost proxy), keep a `pool`-sized candidate set, then re-rank
    * the pool with the FULL-dimension cosine — the two-tier serving
    * shape that reads 16/64ths of the vector bytes for the corpus-sized
    * stage. Plan: scan → prefix-cosine (codegen HOF over the sliced
    * array) → TakeOrdered(pool) → bounded full-dim re-rank →
    * TakeOrdered(k); no shuffle anywhere.
    *
    * Cross-engine contract: stage-1 ordering is on RAW doubles (the
    * slice is float-exact, the fold left-to-right both engines);
    * only the OUTPUT cosine is rounded (round-6, the audited grid).
    */
  def matryoshkaTopK(embeddings: DataFrame, query: Array[Double], k: Int,
                     prefixDims: Int = 16, pool: Int = 50): DataFrame = {
    require(prefixDims >= 1 && prefixDims < query.length,
      s"matryoshkaTopK: prefixDims must be in [1, dims), got $prefixDims")
    val v = expr("transform(embedding, x -> cast(x as double))")
    val pv = expr(
      s"transform(slice(embedding, 1, $prefixDims), x -> cast(x as double))")
    val cand = embeddings
      .select(col("vec_id"), v.as("vec"),
        cosine(pv, lit(query.take(prefixDims))).as("pcos"))
      .orderBy(desc("pcos"), asc("vec_id")).limit(pool)
    cand
      .select(col("vec_id"),
        round(cosine(col("vec"), lit(query)), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Binary sign quantization + Hamming ANN — the 1-bit rung of the
    * quantization ladder (below [[sqTopK]]'s int8 and [[pqTopK]]'s
    * codebook bytes): each vector collapses to `bits` sign bits of its
    * dot products against the PORTABLE md5-derived hyperplanes
    * ([[portablePlanes]], `bq_` namespace), and candidate ranking is
    * popcount(xor) of the int64 codes — at rest a 64-dim float vector
    * becomes ONE long (32× smaller), and at 100 TB the scored stream is
    * xor+popcount over longs instead of 64-term float dots (in
    * production the codes materialize once; the rerank stage then
    * fetches full vectors for the bounded candidate set, exactly as
    * AnnSpec demonstrates).
    *
    * Output is PURE INTEGER — (vec_id, hamming) by (hamming asc,
    * vec_id asc) — so the gate has no float-rounding surface at all:
    * the only cross-engine contact points are the plane coefficients
    * (exact md5 integer arithmetic) and the dot-product SIGN (the
    * left-to-right fold both engines share, the ann_lsh_portable
    * contract). Plan shape: map-only scan → codegen'd code+xor+popcount
    * → TakeOrderedAndProject; the query's code constant-folds.
    */
  def hammingTopK(embeddings: DataFrame, query: Array[Double], k: Int,
                  bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 63, s"hammingTopK: bits must be 1..63, got $bits")
    val planes = portablePlanes(bits, query.length, prefix = "bq_")
    // plain linear sum of `bits` independent terms — each references
    // its own literal plane, no accumulated-subtree duplication
    def codeOf(v: Column): Column =
      planes.zipWithIndex.map { case (p, b) =>
        when(dot(v, lit(p)) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    embeddings
      .select(col("vec_id"),
        codeOf(expr("transform(embedding, x -> cast(x as double))")).as("code"),
        codeOf(lit(query)).as("qcode"))
      .select(col("vec_id"),
        expr("cast(bit_count(code ^ qcode) as int)").as("hamming"))
      .orderBy(asc("hamming"), asc("vec_id"))
      .limit(k)
  }

  /** Johnson–Lindenstrauss random projection with PORTABLE planes: the
    * md5-derived unit-cube coordinates ([[portablePlanes]], `rp_`
    * namespace) define `dims` fixed projection directions, and every
    * vector maps to its `dims` inner products — the standard
    * dimensionality-reduction front-end for sketching/clustering when
    * PCA's data-dependent fit is unnecessary. Purely map-side (the
    * planes are literals baked into codegen): no fit pass, no shuffle,
    * embarrassingly parallel at any scale — and the oracle regenerates
    * the identical planes from its own md5, so the projection is
    * engine-replayable end to end.
    *
    * Output: (vec_id, dim, value) rows, pca_reduce's exploded shape.
    */
  def rpReduce(embeddings: DataFrame, dims: Int = 8): DataFrame = {
    val planes = portablePlanes(dims, 64, prefix = "rp_")
    embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .select(col("vec_id"),
        posexplode(array(planes.map(p => dot(col("vec"), lit(p))).toIndexedSeq: _*))
          .as(Seq("dim", "value")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("value"), 6).as("value"))
  }
}
