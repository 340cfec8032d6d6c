package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval over the corpus: top-k documents for a bag of
  * query terms under a QUANTIZED-INTEGER BM25 — the ranking a
  * training-data engine needs for corpus exploration, targeted
  * decontamination probes and eval-set leakage hunts.
  *
  * Cross-engine determinism, same discipline as [[Selection]]:
  * no transcendental reaches a value. The Robertson idf
  * log2((N − df + 0.5)/(df + 0.5)) is computed on the EXACT rational
  * (2(N − df) + 1)/(2df + 1) as integer floor-log2 (unpadded `bin`)
  * plus a linear-interpolation milli fraction — monotone in df,
  * clamped at 0 once df > N/2 exactly where Lucene clamps. The tf
  * saturation tf·(k1+1)/(tf + k1·(1 − b + b·len/avg)) runs in milli
  * fixed point with truncating `div`s at documented points, k1/b as
  * centi parameters (defaults 1.2 / 0.75). Scores are exact int64
  * micro units: bit-identical on any engine that replays the formula.
  *
  * Scale shape: one map-side explode that CARRIES doc length (no
  * doc-length join), a term filter that prunes to query hits before
  * any shuffle, a (doc, term) partial-agg tf, a broadcast join against
  * the ≤|terms|-row df table, and TakeOrderedAndProject for the global
  * top-k. The only driver scalars are N and the average length.
  */
object Retrieval {

  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
               k1Centi: Long = 120, bCenti: Long = 75): DataFrame = {
    val (n, avgLenMilli) = {
      val r = docs.agg(count(lit(1)), sum(size(split(col("text"), " ")))).head
      // empty-corpus guard BEFORE touching the sum: count 0 means the
      // sum is null (NPE on getLong) and the average is 0/0 — fail with
      // the actual problem, not a division artifact (pcaDet precedent)
      require(r.getLong(0) > 0, "bm25TopK: empty corpus — nothing to rank")
      (r.getLong(0), 1000L * r.getLong(1) / r.getLong(0))
    }
    val hits = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("len"),
        explode(split(col("text"), " ")).as("w"))
      .where(col("w").isin(terms: _*))
    val tf = hits.groupBy("doc_id", "w")
      .agg(first("len").as("len"), count(lit(1)).as("tf"))
    val df = hits.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "w")
      .withColumn("aa", lit(2L) * (lit(n) - col("df")) + lit(1L))
      .withColumn("bb", lit(2L) * col("df") + lit(1L))
      .withColumn("bits",
        when(col("aa") >= col("bb"), (length(bin(expr("aa div bb"))) - 1).cast("long"))
          .otherwise(lit(-1L)))
      .withColumn("idf_milli", when(col("bits") < 0, lit(0L)).otherwise(
        col("bits") * 1000L +
          expr("(1000L * aa) div (bb * shiftleft(1L, cast(bits as int))) - 1000L")))
      .withColumn("l_milli", expr(s"(1000000L * len) div ${avgLenMilli}L"))
      .withColumn("bnorm_milli",
        lit(1000L - 10L * bCenti) + expr(s"(${bCenti}L * l_milli) div 100L"))
      .withColumn("contrib", col("idf_milli") *
        expr(s"(1000L * tf * (100L + ${k1Centi}L)) div " +
          s"(100L * tf + (${k1Centi}L * bnorm_milli) div 1000L)"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score_micro"))
      .orderBy(desc("score_micro"), asc("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of a sparse (BM25) and a dense (embedding
    * cosine) candidate list — the standard hybrid-retrieval combiner
    * (Cormack & Clarke '09): each leg contributes 1/(rrfK + rank) per
    * document, here as the exact integer `1000000 div (rrfK + rank)`
    * micro units, so the fused scores are int64 and engine-replayable.
    *
    * Cross-engine determinism: the BM25 leg is already integer
    * ([[bm25TopK]]); the dense leg ranks on the RAW double cosine
    * (identical left-to-right fold both engines — bit-equal doubles
    * order identically, no rounding boundary exists) with vec_id
    * tie-break. Output (doc_id, n_legs, rrf_micro) is pure integer.
    *
    * Scale shape: each leg is the corpus-sized work its operator
    * already does (BM25's term-filtered shuffle / the dense scan →
    * TakeOrdered); fusion itself touches only the two ≤`pool`-row
    * candidate lists — the rank windows run over bounded serving-side
    * tables (the MMR stage-2 class), then a ≤2·pool-row union +
    * group-by. `docs.doc_id` and `embeddings.vec_id` must share a key
    * space.
    */
  def rrfFusion(docs: DataFrame, embeddings: DataFrame,
                terms: Seq[String], query: Array[Double],
                k: Int = 20, pool: Int = 50, rrfK: Long = 60L): DataFrame = {
    val sparse = bm25TopK(docs, terms, k = pool)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score_micro"), asc("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val v = expr("transform(embedding, x -> cast(x as double))")
    val dense = embeddings
      .select(col("vec_id").as("doc_id"),
        SimilaritySearch.cosine(v, lit(query)).as("cos"))
      .orderBy(desc("cos"), asc("doc_id")).limit(pool)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("cos"), asc("doc_id"))))
      .select(col("doc_id"), col("rank"))
    sparse.unionAll(dense)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_legs"),
        sum(expr(s"1000000L div (${rrfK}L + rank)")).as("rrf_micro"))
      .orderBy(desc("rrf_micro"), asc("doc_id"))
      .limit(k)
  }

  /** Inverted-index build: one posting row per (term, doc_id) with the
    * term frequency, plus the term's document frequency — the batch
    * index-construction job behind [[bm25TopK]]-style serving (in
    * production the postings write out bucketed/sorted by term so a
    * query is one bucket-pruned read; here the rows are emitted flat
    * for the oracle gate).
    *
    * Everything is strings and int64 counts — bit-exact cross-engine,
    * no rounding boundary. Scale shape: map-side explode → (term,
    * doc_id) partial-agg tf (map-side combine collapses within-document
    * repeats before the shuffle) → ONE term-keyed window for df over
    * the already-aggregated postings. Stopword-grade hot terms skew the
    * term key; the window state is a single running count (no buffered
    * group) and AQE's skew split applies to the exchange.
    */
  def invertedIndex(docs: DataFrame): DataFrame = {
    val postings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .select(col("term"), col("doc_id"), col("tf"), col("df"))
  }

  /** Signed feature hashing (the hashing-trick vectorizer — Weinberger
    * et al. 2009; HashingTF with the collision-debiasing ± sign): every
    * token lands in `md5(token) % dims` with sign `md5("s_" + token) % 2`,
    * so each document becomes a fixed-`dims` SPARSE integer vector with
    * no vocabulary table — the model-free text vectorization a feature
    * pipeline applies before any learned embedding exists.
    *
    * Everything is int64 (signed counts, exact dot products) — no
    * rounding surface anywhere. Scale shape: map-side explode →
    * (doc, bucket) partial-agg sum; `dims` caps the per-doc row count,
    * the hashing trick's whole point.
    */
  def hashedTf(docs: DataFrame, dims: Int = 256): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"),
        hashBucket(col("token"), dims).as("bucket"),
        when(hashBucket(concat(lit("s_"), col("token")), 2) === 1,
          lit(1L)).otherwise(lit(-1L)).as("sgn"))
      .groupBy("doc_id", "bucket").agg(sum("sgn").as("v"))
      .where(col("v") =!= 0)

  /** Top-`k` documents most similar to `queryDoc` by EXACT integer dot
    * product of their hashed-TF vectors: the sparse-vector retrieval
    * leg that needs no embedding model and no float anywhere.
    *
    * Scale shape: the query vector is ≤ `dims` rows → broadcast; the
    * dot is a bucket-keyed map-side multiply + per-doc partial-agg sum;
    * the cut is TakeOrderedAndProject. Documents sharing no bucket with
    * the query never materialize a row (inner-join sparsity).
    */
  def hashedTfTopK(docs: DataFrame, queryDoc: Long = 0L, k: Int = 20,
                   dims: Int = 256): DataFrame = {
    val tf = hashedTf(docs, dims).localCheckpoint(false)
    val q = tf.where(col("doc_id") === queryDoc)
      .select(col("bucket"), col("v").as("qv"))
    tf.where(col("doc_id") =!= queryDoc)
      .join(broadcast(q), Seq("bucket"))
      .groupBy("doc_id").agg(sum(col("v") * col("qv")).as("dot"))
      .orderBy(desc("dot"), asc("doc_id")).limit(k)
  }
}
