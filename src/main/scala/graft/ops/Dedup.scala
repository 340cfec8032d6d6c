package graft.ops

import graft.canon.MinHash.{minhashCandidates, minhashSignatures, portableBandKeys,
  portableMinhashSignatures}
import graft.core.Rng
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines,
  * over a `documents(doc_id long, text string, ...)` table.
  *
  * Exact dedup is a hash group-by; near-dup families follow the
  * standard shingle → signature → band → bucket-join shape so the
  * candidate set stays near-linear at 100 TB (never all-pairs).
  */
object Dedup {

  /** Exact dedup: canonical (min) doc id per content hash; map-side
    * partial agg, one shuffle on the 128-bit digest.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------- MinHash + LSH ----------

  /** Deterministic 64-bit hash of a string (FNV + splitmix avalanche). */
  private def h64(s: String, seed: Long): Long =
    Rng.mix(seed, Rng.hashString(s))

  /** Estimated Jaccard from signature agreement for candidate pairs. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8, numHashes: Int = 64,
                   bands: Int = 16, shingle: Int = 5)(
      implicit spark: SparkSession): DataFrame = {
    // sigs feed candidate banding + two score-joins: materialize once
    val sigs = minhashSignatures(docs, numHashes, shingle)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = minhashCandidates(sigs, bands)
    val sa = sigs.select(col("doc_id").as("a"), col("signature").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("b"), col("signature").as("sig_b"))
    cands.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("est_jaccard",
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / size(sig_a)"))
      .where(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")
  }

  // ---------- portable MinHash (cross-engine-verifiable) ----------

  /** Banded near-dup pairs over
    * [[graft.canon.MinHash.portableMinhashSignatures]]; band key
    * is the signature slice itself (joined as text) — no engine hash in
    * the bucket key either, so the whole pair stream is recomputable
    * outside Spark. Same hot-bucket cap as
    * [[graft.canon.MinHash.minhashCandidates]].
    * Output: (a, b, n_match) with n_match = agreeing signature slots.
    */
  def portableMinhashPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                           shingle: Int = 5, minMatch: Int = 13,
                           maxBucket: Int = 64)(
      implicit spark: SparkSession): DataFrame = {
    // localCheckpoint, NOT persist: a persist here leaks a CacheManager
    // entry per call for the session lifetime (run()'s scaladoc covers
    // the same trap); the lazy checkpoint materializes on first use and
    // is freed when the plan is GC'd.
    val sigs = portableMinhashSignatures(docs, numHashes, shingle)
      .localCheckpoint(false)
    val banded = portableBandKeys(sigs, bands, numHashes)
    val w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    val a = banded.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxBucket)
      .select(col("doc_id").as("a"), col("band"), col("bkey"))
    val b = banded.select(col("doc_id").as("b"), col("band"), col("bkey"))
    val cands = a.join(b, Seq("band", "bkey"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    val sa = sigs.select(col("doc_id").as("a"), col("signature").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("b"), col("signature").as("sig_b"))
    cands.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("n_match", expr(
        "cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) as bigint)"))
      .where(col("n_match") >= minMatch)
      .select("a", "b", "n_match")
  }

  /** Incremental (delta-vs-corpus) near-dup candidates: match a NEW
    * batch against an existing corpus without ever re-pairing the
    * corpus — the daily-crawl pattern at 100 TB, completing the dedup
    * family's third axis (batch [[portableMinhashPairs]], streaming
    * [[graft.streaming.StreamingIngest]], and now incremental). The
    * corpus side's band keys act as the persisted index: the delta
    * explodes to its band keys and EQUI-joins the corpus buckets, so
    * cost is |delta| × bucket fanout, never corpus², and in production
    * the corpus band table is written once and reused per batch. The
    * hot-bucket cap ranks CORPUS docs per bucket (rank ≤ `maxBucket`
    * by doc_id — the stable index-side anchor rule); every delta doc
    * probes, none is dropped. Portable arithmetic throughout, so the
    * oracle replays signatures → bands → capped probe → agreement
    * count stage for stage.
    *
    * Output: (delta_id, corpus_id, n_match ≥ `minMatch`).
    */
  def deltaPairs(corpus: DataFrame, delta: DataFrame, numHashes: Int = 16,
                 bands: Int = 4, shingle: Int = 5, minMatch: Int = 13,
                 maxBucket: Int = 64)(
      implicit spark: SparkSession): DataFrame = {
    val csigs = portableMinhashSignatures(corpus, numHashes, shingle)
      .localCheckpoint(false)
    val dsigs = portableMinhashSignatures(delta, numHashes, shingle)
      .localCheckpoint(false)
    val w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    val c = portableBandKeys(csigs, bands, numHashes)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxBucket)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
    val d = portableBandKeys(dsigs, bands, numHashes)
      .select(col("doc_id").as("delta_id"), col("band"), col("bkey"))
    val cands = d.join(c, Seq("band", "bkey"))
      .select("delta_id", "corpus_id").distinct()
    val sd = dsigs.select(col("doc_id").as("delta_id"), col("signature").as("sig_d"))
    val sc = csigs.select(col("doc_id").as("corpus_id"), col("signature").as("sig_c"))
    cands.join(sd, Seq("delta_id")).join(sc, Seq("corpus_id"))
      .withColumn("n_match", expr(
        "cast(size(filter(zip_with(sig_d, sig_c, (x, y) -> x = y), v -> v)) as bigint)"))
      .where(col("n_match") >= minMatch)
      .select("delta_id", "corpus_id", "n_match")
  }

  /** Incremental admission verdict per delta doc, from [[deltaPairs]]
    * plus one within-delta [[portableMinhashPairs]] pass:
    * `dup_corpus` if the doc near-dups anything already in the corpus,
    * else `dup_delta` if it near-dups an EARLIER delta doc
    * (first-occurrence-keeps), else `admit`. Docs shorter than the
    * shingle have no signature, match nothing, and admit. Both inputs
    * are broadcastable verdict sets (bounded by the dup rate, not the
    * corpus).
    */
  def deltaAdmit(corpus: DataFrame, delta: DataFrame, numHashes: Int = 16,
                 bands: Int = 4, shingle: Int = 5, minMatch: Int = 13,
                 maxBucket: Int = 64)(
      implicit spark: SparkSession): DataFrame = {
    val vsCorpus = deltaPairs(corpus, delta, numHashes, bands, shingle,
      minMatch, maxBucket).select(col("delta_id").as("doc_id")).distinct()
      .withColumn("dup_c", lit(true))
    val within = portableMinhashPairs(delta, numHashes, bands, shingle,
      minMatch, maxBucket).select(col("b").as("doc_id")).distinct()
      .withColumn("dup_d", lit(true))
    delta.select("doc_id")
      .join(vsCorpus, Seq("doc_id"), "left")
      .join(within, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_c"), "dup_corpus")
          .when(col("dup_d"), "dup_delta")
          .otherwise("admit").as("verdict"))
  }

  /** 16-bit SimHash twin in portable arithmetic: the per-token hash is
    * the first 16 bits of its md5 (md5 is md5 in every engine), the
    * signature is the usual bit-majority vote, banding is the 4 nibbles
    * with a Hamming ≤ `maxHamming` verify (pigeonhole: ≤ 3 bit errors
    * guarantee one clean 4-bit band). Same role as
    * [[portableMinhashPairs]]: an external engine can recompute token
    * hashes, majority votes, band buckets and Hamming distances exactly,
    * hash-proving the simhash MACHINERY; the production 64-bit variant
    * ([[simhashPairs]]) keeps the avalanche token hash for bucket
    * entropy. The bit-majority sums are 16 per-group aggregate columns
    * (one pass, codegen'd) — not a 16× row explosion.
    */
  def portableSimhashPairs(docs: DataFrame, maxHamming: Int = 3,
                           maxBucket: Int = 64): DataFrame = {
    val tv = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("v", conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long"))
    val aggs = (0 until 16).map(b =>
      sum(when(shiftright(col("v"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val sig = tv.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b => when(col(s"s$b") > 0, 1L << b).otherwise(0L))
          .reduce(_ + _).as("sig"))
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sig"), i * 4).bitwiseAND(lit(15L))): _*))
        .as(Seq("band", "bval")))
    val w = Window.partitionBy("band", "bval").orderBy("doc_id")
    val a = banded.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxBucket)
      .select(col("doc_id").as("a"), col("sig").as("ha"), col("band"), col("bval"))
    val b = banded.select(col("doc_id").as("b"), col("sig").as("hb"), col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .where(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").distinct()
  }

  // ---------- SimHash ----------

  /** 64-bit simhash over whitespace tokens + 16-bit-band candidate pairs
    * with exact Hamming verification.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 64)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sigs = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val acc = new Array[Int](64)
          text.split(' ').foreach { tok =>
            val h = h64(tok, 0x51a)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
              b += 1
            }
          }
          var sig = 0L
          var b = 0
          while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
          (id, sig)
        }
      }.toDF("doc_id", "simhash")
    // 4 bands of 16 bits: Hamming <= 3 guarantees one identical band
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val")))
    // hot-bucket cap: same linearization as minhashCandidates
    val w = Window.partitionBy("band", "band_val").orderBy("doc_id")
    val a = banded.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxBucket)
      .select(col("doc_id").as("a"), col("simhash").as("ha"), col("band"), col("band_val"))
    val b = banded.select(col("doc_id").as("b"), col("simhash").as("hb"), col("band"), col("band_val"))
    a.join(b, Seq("band", "band_val"))
      .where(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").distinct()
  }

  // ---------- n-gram Jaccard (exact, for candidate verification) ----------

  /** Distinct hashed word-n-grams per document, the gram builder of
    * [[ngramJaccard]]. Splits once per row (an inlined split(text)
    * would re-tokenize per gram); short docs yield their whole text as
    * one gram.
    */
  def gramSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        array_distinct(expr(
          s"transform(sequence(0, greatest(size(words) - $n, 0)), " +
            s"i -> hash(array_join(slice(words, i + 1, $n), ' ')))")).as("grams"))

  /** Exact word-n-gram Jaccard for given candidate pairs (a, b). */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3): DataFrame = {
    val grams = gramSets(docs, n)
    val ga = grams.select(col("doc_id").as("a"), col("grams").as("ga"))
    val gb = grams.select(col("doc_id").as("b"), col("grams").as("gb"))
    pairs.join(ga, Seq("a")).join(gb, Seq("b"))
      .withColumn("jaccard",
        expr("size(array_intersect(ga, gb)) / size(array_union(ga, gb))"))
      .select("a", "b", "jaccard")
  }

  /** Corpus-level near-dup canonicalization — the end step of dedup:
    * connected components over verified near-dup pairs, mapping every
    * document to the min doc_id of its duplicate cluster (itself when
    * unpaired). `is_keeper` marks the one document per cluster that
    * survives; pair-at-a-time dropping is NOT transitively consistent
    * (a~b, b~c can drop b and keep both a and c), CC is.
    *
    * Scale shape: rides [[graft.canon.ConnectedComponents.run]] —
    * hash-min + pointer jumping, O(log d) rounds, partial-agg min
    * messages — over a pair set that is linear in corpus size (banded
    * candidates, hot-bucket capped), then one left join back to docs.
    */
  def canonicalize(docs: DataFrame, pairs: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val comp = graft.canon.ConnectedComponents.run(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
      .withColumn("is_keeper", col("doc_id") === col("canonical_id"))
  }

  // ---------- embedding cosine near-dup ----------

  /** Near-duplicate pairs by embedding cosine ≥ threshold, candidates
    * from sign-random-projection buckets (no all-pairs).
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.95,
                       tables: Int = 6, bits: Int = 10): DataFrame = {
    val feat = embeddings.select(
      col("vec_id").cast("string").as("id"), lit(1L).as("group"),
      expr("transform(embedding, x -> cast(x as double))").as("vec"))
    val knn = graft.canon.KnnJoin.approxTopK(
      feat.withColumn("vec", expr(
        "transform(vec, x -> x / sqrt(aggregate(vec, 0D, (a, v) -> a + v * v)))")),
      k = 10, tables = tables, bits = bits)
    // unit vectors: cos = 1 - d^2/2
    knn.withColumn("cosine", lit(1.0) - col("distance") * col("distance") / 2)
      .where(col("cosine") >= threshold && col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"), col("cosine"))
  }

  // ---------- substring-level cross-document dedup ----------

  /** Variable-length duplicated-span detection — span-level dedup next
    * to whole-document (exact and minhash) dedup: find every MAXIMAL
    * word span of length ≥ `k` that some other document also contains
    * (the exact-substring semantics of suffix-array corpus dedup à la
    * deduplicate-text-datasets, here anchored on overlapping k-word
    * grams instead of a suffix array: any shared span of length L ≥ k
    * contains exactly L − k + 1 shared k-grams at stride 1, so merging
    * the gram hit positions per document reconstructs the maximal
    * duplicated spans exactly).
    *
    * Output: one row per (doc, maximal span) — (doc_id, span_start,
    * span_len, n_grams, other_doc) with 1-based word positions and
    * other_doc = the smallest OTHER document sharing at least one gram
    * of the span (the keep-first canonical pointer).
    *
    * Scale shape: explode to the stride-1 gram stream (~word count of
    * the corpus), a partial-agg min per gram, a join back on the gram
    * key, then a per-doc window to merge islands — shuffles on the gram
    * key and the doc key only, state per gram is one long. At 100 TB
    * the gram key would be a 64-bit digest; the string key is kept for
    * bit-exact oracle parity.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    // the gram stream feeds the owner table AND the hit join: checkpoint
    // so the explode runs once (portableMinhashPairs precedent)
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= k)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, size(ws) - ${k - 1})")).as("pos"), col("ws"))
      .select(col("doc_id"), col("pos"),
        expr(s"array_join(slice(ws, pos, $k), ' ')").as("gram"))
      .localCheckpoint(false)
    val own = grams.groupBy("gram").agg(min("doc_id").as("m1"))
    // m2 = second-smallest owner; non-empty iff >= 2 distinct docs share
    // the gram (a gram repeated only within one doc never joins here)
    val dup = grams.join(own, Seq("gram")).where(col("doc_id") > col("m1"))
      .groupBy("gram", "m1").agg(min("doc_id").as("m2"))
    val hits = grams.join(dup, Seq("gram"))
      .select(col("doc_id"), col("pos"),
        when(col("doc_id") === col("m1"), col("m2"))
          .otherwise(col("m1")).as("other_doc"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    // island merge: stride-1 hits at pos and prev merge when the k-word
    // intervals overlap or touch (pos − prev ≤ k); first row starts one
    val isl = hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wd) <= k, 0).otherwise(1))
      .withColumn("island",
        sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max("pos").as("e"),
        count(lit(1)).as("n_grams"), min("other_doc").as("other_doc"))
      .select(col("doc_id"), col("s").cast("long").as("span_start"),
        (col("e") + lit(k) - col("s")).cast("long").as("span_len"),
        col("n_grams"), col("other_doc"))
  }

  /** Keep-first span removal over [[duplicateSpans]] output: rewrite
    * each document with every duplicated span REMOVED unless this doc
    * is the span's canonical owner (other_doc > doc_id keeps it) —
    * deduplicate-text-datasets' removal arm. Map-side: the spans are
    * aggregated per doc and the filter runs as one HOF over the word
    * positions; docs without spans pass through unchanged.
    */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    val spans = duplicateSpans(docs, k)
      .where(col("other_doc") < col("doc_id"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("spans"))
    docs.select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(
          expr("array_join(transform(filter(sequence(1, size(split(text, ' '))), " +
            "p -> NOT exists(spans, s -> p >= s.span_start AND p < s.span_start + s.span_len)), " +
            "p -> element_at(split(text, ' '), p)), ' ')")).as("text"))
  }

  /** PORTABLE twin of [[embeddingNearDup]] — the same machinery shape
    * (random-hyperplane bucketing → capped bucket pairing → exact
    * cosine verify) with every stage recomputable by an external
    * engine: the hyperplanes are the md5-derived unit-cube coordinates
    * of [[SimilaritySearch.portablePlanes]] (the `'<bit>_<dim>'` 8-hex
    * recipe the portable ANN twins share), the bucket key is the sign
    * pattern of the plane dots, and the candidate pairs are the
    * hot-bucket-capped anchor join of [[portableMinhashPairs]] (the
    * lowest `maxBucket` ids per bucket pair with every later member —
    * linear in bucket size, never K²). Reference anchor: the
    * VISUALLY_SIMILAR_TO path, similarity_pipeline.py:176-192.
    *
    * Scale shape: one codegen'd map computes the `bits` plane dots per
    * vector (no join — the planes are literals), one shuffle on the
    * bucket key for the window + pair join, then a verify join that
    * touches only bounded candidates. The DuckDB oracle replays plane
    * generation → bucketing → anchor pairing → cosine bit-for-bit.
    */
  def embeddingNearDupPortable(embeddings: DataFrame, threshold: Double = 0.95,
                               bits: Int = 8, dims: Int = 64,
                               maxBucket: Int = 64): DataFrame = {
    import graft.ops.SimilaritySearch.{cosine, portablePlanes}
    val planes = portablePlanes(bits, dims)
    // localCheckpoint, not persist: self-joined lineage would otherwise
    // replay the scan+bucketing per side (portableMinhashPairs precedent)
    val bucketed = embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("bucket", concat(planes.map(p =>
        when(SimilaritySearch.dot(col("vec"), lit(p)) >= 0, lit("1"))
          .otherwise(lit("0"))).toIndexedSeq: _*))
      .localCheckpoint(false)
    val w = Window.partitionBy("bucket").orderBy("vec_id")
    val a = bucketed.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxBucket)
      .select(col("vec_id").as("a"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("b"), col("bucket"))
    val cands = a.join(b, Seq("bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    val va = bucketed.select(col("vec_id").as("a"), col("vec").as("va"))
    val vb = bucketed.select(col("vec_id").as("b"), col("vec").as("vb"))
    cands.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("cos_raw", cosine(col("va"), col("vb")))
      .where(col("cos_raw") >= threshold)
      .select(col("a"), col("b"), round(col("cos_raw"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space, then inside each cluster drop every vector
    * whose cosine to an EARLIER (smaller-id) cluster member clears
    * `tau` — one representative survives per semantic near-dup group
    * without ever comparing across clusters.
    *
    * Fully portable arithmetic so an external engine replays every
    * stage: centroids are [[SimilaritySearch.portableSeedCentroids]]
    * (md5-ranked sample rows), assignment is the Euclidean strict-<
    * argmin fold, and the within-cluster pairing is the rank ≤ `cap`
    * anchor join every near-dup family here uses (candidates linear in
    * cluster size, never all-pairs). Output: one row per DROPPED
    * vector — (vec_id, cluster, dup_of, cosine) with dup_of the
    * smallest qualifying anchor.
    *
    * Scale shape: broadcast-argmin assignment is map-only; the anchor
    * join shuffles once on cluster id; the per-vector argmin-anchor is
    * a window row_number — at 100 TB the cluster count (not 8) grows
    * with the corpus so per-cluster membership stays bounded, the
    * SemDeDup paper's own scaling lever.
    */
  def semanticDedup(embeddings: DataFrame, tau: Double = 0.97,
                    centroids: Int = 8, cap: Int = 64): DataFrame = {
    val cents = SimilaritySearch.portableSeedCentroids(embeddings, centroids)
    val assigned = embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("cluster",
        SimilaritySearch.nearestCentroidL2(col("vec"), cents).cast("long"))
      .localCheckpoint(false)
    val w = Window.partitionBy("cluster").orderBy("vec_id")
    val ranked = assigned.withColumn("rk", row_number().over(w))
    val anchors = ranked.where(col("rk") <= cap)
      .select(col("vec_id").as("anchor"), col("cluster"), col("vec").as("va"))
    val hits = anchors
      .join(ranked.select(col("vec_id"), col("cluster"), col("vec")), Seq("cluster"))
      .where(col("anchor") < col("vec_id"))
      .withColumn("cos_raw", SimilaritySearch.cosine(col("va"), col("vec")))
      .where(col("cos_raw") >= tau)
    val firstAnchor = Window.partitionBy("vec_id").orderBy("anchor")
    hits.withColumn("rn", row_number().over(firstAnchor))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("anchor").as("dup_of"),
        round(col("cos_raw"), 6).as("cosine"))
  }

  /** Multi-pass sorted-neighborhood near-dup candidates (Hernández &
    * Stolfo's SNM — the classic entity-resolution blocking family the
    * hash-based ones here don't cover): sort the corpus by a normalized
    * key, pair each document with its `win` successors in sort order,
    * and exact-verify each candidate with word-3-gram Jaccard. Two
    * passes with complementary keys — the normalized text PREFIX and
    * the REVERSED normalized suffix — so an edit at either end of a
    * document cannot hide it from both sort orders (the standard
    * multi-pass fix for SNM's single-key blind spot).
    *
    * No global sort: ranking is windowed per (pass, 8-char key block) —
    * documents in different blocks share no key prefix and cannot be
    * sort-adjacent anyway, so blocking loses nothing while keeping
    * every partition bounded. The successor pairing is the explode-
    * probe trick: each ranked row emits `win` (block, rank+i) probes
    * equi-joined back against the ranked table — pair construction is
    * strictly linear (win rows per document), never the K² a raw
    * range-condition join on the block key would stage. At 100 TB the
    * block length is the skew lever: longer blocks → more, smaller
    * sort groups.
    *
    * Fully portable: the key is pure string normalization, ranks are
    * deterministic (key, doc_id) row_numbers, and the verify emits
    * exact integer gram counts plus a truncating `1000·inter div union`
    * permille — no float anywhere.
    *
    * @return (pass, a, b, inter_grams, union_grams, jac_permille), one
    *         row per in-window candidate pair with `a < b`, deduped
    *         across passes by keeping the lowest pass that found it.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, win: Int = 2,
                              keyLen: Int = 16, blockLen: Int = 8,
                              n: Int = 3): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[^a-z0-9]", "")
    val keyed = docs.select(
        col("doc_id"),
        substring(norm, 1, keyLen).as("key1"),
        substring(reverse(norm), 1, keyLen).as("key2"))
      .select(col("doc_id"), explode(array(
        struct(lit(1L).as("pass"), col("key1").as("key")),
        struct(lit(2L).as("pass"), col("key2").as("key")))).as("pk"))
      .select(col("doc_id"), col("pk.pass").as("pass"), col("pk.key").as("key"),
        substring(col("pk.key"), 1, blockLen).as("block"))
    val w = Window.partitionBy("pass", "block").orderBy("key", "doc_id")
    // localCheckpoint: ranked is self-joined (probe + target side)
    val ranked = keyed.withColumn("rk", row_number().over(w).cast("long"))
      .localCheckpoint(false)
    val probes = ranked
      .withColumn("trk", explode(sequence(col("rk") + 1, col("rk") + win)))
      .select(col("pass"), col("block"), col("trk"), col("doc_id").as("da"))
    val pairs = probes
      .join(ranked.select(col("pass"), col("block"), col("rk").as("trk"),
        col("doc_id").as("db")), Seq("pass", "block", "trk"))
      .select(col("pass"), least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"))
    val firstPass = Window.partitionBy("a", "b").orderBy("pass")
    val uniq = pairs.withColumn("pn", row_number().over(firstPass))
      .where(col("pn") === 1).select("pass", "a", "b")
    val grams = docs.select(col("doc_id"),
      expr(s"array_distinct(transform(sequence(0, greatest(size(split(text, ' ')) - $n, 0)), " +
        s"i -> array_join(slice(split(text, ' '), i + 1, $n), ' ')))").as("g"))
    uniq
      .join(grams.select(col("doc_id").as("a"), col("g").as("ga")), Seq("a"))
      .join(grams.select(col("doc_id").as("b"), col("g").as("gb")), Seq("b"))
      .select(col("pass"), col("a"), col("b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("inter_grams"),
        size(array_union(col("ga"), col("gb"))).cast("long").as("union_grams"))
      // integer `div`, not float /: both operands positive, so Spark's
      // truncation == DuckDB's floor `//` (the oracle-parity rule)
      .withColumn("jac_permille", expr("(1000 * inter_grams) div union_grams"))
  }
}
