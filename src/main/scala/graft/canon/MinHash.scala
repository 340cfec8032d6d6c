package graft.canon

import graft.core.Rng
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MinHash signatures and LSH band keys over a
  * `(doc_id long, text string)` relation — the buckets the streaming
  * near-duplicate operators
  * ([[graft.streaming.StreamingIngest.neardupStream]] and its portable
  * twin) and their batch reference [[minhashCandidates]] share.
  * Shingle → signature → band → bucket, so the candidate set stays
  * near-linear (never all-pairs).
  */
object MinHash {

  /** Character shingles → minhash signature. Computed in a mapPartitions
    * pass (the per-partition-compiled analyzers pattern).
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 64, shingle: Int = 5)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val n = numHashes
    docs.select(col("doc_id"), col("text")).as[(Long, String)].mapPartitions { it =>
      val seeds = Array.tabulate(n)(i => Rng.mix(0x5eed, i))
      it.map { case (id, text) =>
        val sig = Array.fill(n)(Long.MaxValue)
        var i = 0
        val limit = math.max(text.length - shingle + 1, 1)
        while (i < limit) {
          val sh = text.substring(i, math.min(i + shingle, text.length))
          val base = Rng.hashString(sh)
          var j = 0
          while (j < n) {
            val h = Rng.mix(seeds(j), base)
            if (h < sig(j)) sig(j) = h
            j += 1
          }
          i += 1
        }
        (id, sig)
      }
    }.toDF("doc_id", "signature")
  }

  /** (doc_id, band, band_hash) bucket keys for banded LSH — shared by
    * the batch candidate join and the streaming keyed-state variant so
    * both see identical buckets.
    */
  def bandedBuckets(signatures: DataFrame, bands: Int): DataFrame =
    signatures.select(
      col("doc_id"),
      posexplode(expr(s"transform(sequence(0, $bands - 1), " +
        s"b -> hash(slice(signature, b * (size(signature) div $bands) + 1, size(signature) div $bands)))"))
        .as(Seq("band", "band_hash")))

  /** Near-duplicate candidate pairs via banding: rows sharing any
    * (band, band-hash) bucket. Pairs are oriented (a < b) and distinct.
    *
    * Hot-bucket cap: a (band, band_hash) bucket of K identical
    * boilerplate docs would otherwise emit K² pairs — quadratic at
    * 100 TB. Only the `maxBucket` smallest doc ids of a bucket join as
    * the left side, so pairs per bucket are ≤ cap·K (linear in K) while
    * every bucket member still pairs with the bucket's low anchors —
    * under transitive closure (dedup's consumer) recall of the duplicate
    * GROUPS is unchanged; only redundant within-group pairs are dropped.
    * Buckets smaller than the cap are emitted exhaustively (recall
    * identical — DedupSpec proves it on the fixture corpus).
    */
  def minhashCandidates(signatures: DataFrame, bands: Int = 16,
                        maxBucket: Int = 64): DataFrame = {
    val banded = bandedBuckets(signatures, bands)
    val w = Window.partitionBy("band", "band_hash").orderBy("doc_id")
    val a = banded.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxBucket)
      .select(col("doc_id").as("a"), col("band"), col("band_hash"))
    val b = banded.select(col("doc_id").as("b"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** MinHash signatures in PORTABLE integer arithmetic: polynomial
    * char-shingle hash and per-seed affine hashes, everything mod the
    * Mersenne prime 2³¹−1 with no 64-bit wraparound anywhere (products
    * stay < 2⁶²), so an external SQL engine can recompute signatures,
    * band keys, capped buckets and match counts bit-for-bit. The
    * production path ([[minhashSignatures]]) keeps the avalanche hash
    * for better bucket entropy; this twin exists to hash-prove the
    * MACHINERY — shingle → signature → band → bucket anchors —
    * against an independent engine, which the avalanche
    * variant cannot (its hash is engine-internal by construction).
    * Same mapPartitions single-pass shape, so the scale behavior it
    * proves is the production one.
    */
  def portableMinhashSignatures(docs: DataFrame, numHashes: Int = 16,
                                shingle: Int = 5)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val n = numHashes
    val sh = shingle
    docs.select(col("doc_id"), col("text"))
      .where(length(col("text")) >= sh)
      .as[(Long, String)].mapPartitions { it =>
        val P = 2147483647L // 2^31 - 1
        val as = Array.tabulate(n)(j => (7919L * (j + 1)) % P)
        val bs = Array.tabulate(n)(j => (104729L * (j + 1)) % P)
        it.map { case (id, text) =>
          val sig = Array.fill(n)(Long.MaxValue)
          var i = 0
          while (i <= text.length - sh) {
            var g = 0L
            var k = 0
            while (k < sh) { g = g * 131 + text.charAt(i + k); k += 1 }
            g %= P
            var j = 0
            while (j < n) {
              val h = (as(j) * g + bs(j)) % P
              if (h < sig(j)) sig(j) = h
              j += 1
            }
            i += 1
          }
          (id, sig)
        }
      }.toDF("doc_id", "signature")
  }

  /** (doc_id, band, bkey) portable band keys over
    * [[portableMinhashSignatures]] output: the band's signature slice
    * joined as text — no engine hash in the bucket key. Shared by the
    * streaming keyed-state twin and the specs so every consumer sees
    * identical buckets.
    */
  def portableBandKeys(signatures: DataFrame, bands: Int,
                       numHashes: Int): DataFrame = {
    val r = numHashes / bands
    signatures.select(col("doc_id"),
      posexplode(expr(s"transform(sequence(0, $bands - 1), " +
        s"b -> array_join(transform(slice(signature, b * $r + 1, $r), " +
        s"x -> cast(x as string)), ','))")).as(Seq("band", "bkey")))
  }
}
