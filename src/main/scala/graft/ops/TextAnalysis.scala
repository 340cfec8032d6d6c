package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation over
  * `documents(doc_id, text, lang, source, n_chars)`.
  * Everything is either a pure column expression (codegen'd, oracle-
  * portable) or a per-partition compiled scorer.
  */
object TextAnalysis {

  /** Whitespace token count as pure arithmetic (portable to the DuckDB
    * oracle): spaces + 1.
    */
  def tokenCount(text: Column): Column =
    when(length(text) === 0, 0)
      .otherwise(length(text) - length(regexp_replace(text, " ", "")) + 1)

  /** Simple quality heuristics: mean word length, stopword ratio,
    * uppercase/punct ratio analog. All arithmetic on counts.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text)
    val meanWordLen = (length(text) - toks + 1).cast("double") / toks
    val stopHits =
      (length(text) - length(regexp_replace(text, "the", ""))) / 3 +
        (length(text) - length(regexp_replace(text, " a ", ""))) / 3
    val stopRatio = stopHits.cast("double") / toks
    // score in [0, 1]: reward 3-8 char mean words and moderate stopword rate
    val lenScore = lit(1.0) - least(abs(meanWordLen - 5.5) / 5.5, lit(1.0))
    val stopScore = lit(1.0) - least(abs(stopRatio - 0.1) * 5.0, lit(1.0))
    round(lenScore * 0.6 + stopScore * 0.4, 6)
  }

  /** BPE-ish token estimate over the `text` column: whitespace tokens +
    * long-word splits (a word of length L contributes ceil(L/4) subtokens).
    */
  def bpeTokenEstimate: Column =
    expr("aggregate(split(text, ' '), 0L, " +
      "(acc, w) -> acc + greatest(cast(ceil(length(w) / 4.0D) as bigint), 1L))")

  /** Language-ID by character-n-gram profile voting — per-partition
    * compiled profiles (the heuristic path; real models would ride the
    * same mapPartitions shape).
    */
  /** Fixed evaluation order — ties go to the earlier language, and the
    * SQL oracle (SparkEntry.langIdOracleSql) mirrors the same order.
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

  /** Winnowing document fingerprint (rolling Karp–Rabin over k-grams,
    * window minimum): the classic near-dup sketch for code corpora.
    *
    * The k-gram hash is a plain base-31 polynomial over UTF-16 code
    * units (Σ c_j·31^(k−1−j), no modulus — fits a long for k ≤ 12),
    * computed with an O(1) rolling update per position. Chosen over a
    * mixed hash deliberately: the arithmetic is portable to the DuckDB
    * oracle, so the driver value-checks this operator end-to-end.
    */
  val FpBase = 31L

  def fingerprints(docs: DataFrame, k: Int = 8, window: Int = 4)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val topPow = Array.fill(k - 1)(FpBase).product // 31^(k-1)
    docs.select(col("doc_id"), col("text")).as[(Long, String)].mapPartitions { it =>
      it.map { case (id, text) =>
        val n = text.length
        val hashes = new Array[Long](math.max(n - k + 1, 0))
        if (n >= k) {
          var h = 0L
          var j = 0
          while (j < k) { h = h * FpBase + text.charAt(j); j += 1 }
          hashes(0) = h
          var i = 1
          while (i + k <= n) {
            h = (h - text.charAt(i - 1) * topPow) * FpBase + text.charAt(i + k - 1)
            hashes(i) = h
            i += 1
          }
        }
        val fps = scala.collection.mutable.LinkedHashSet[Long]()
        var w = 0
        while (w + window <= hashes.length) {
          var m = Long.MaxValue; var j = w
          while (j < w + window) { if (hashes(j) < m) m = hashes(j); j += 1 }
          fps += m
          w += 1
        }
        (id, fps.toArray.sorted)
      }
    }.toDF("doc_id", "fingerprints")
  }

  /** PII patterns kept to the regex subset that evaluates identically
    * under Java regex (Spark) and RE2 (common scrubber runtimes):
    * character classes, bounded repetition, no backrefs/lookaround.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\d{3}[- .]\\d{3}[- .]\\d{4}"

  /** PII scrubbing for training corpora: emails and NANP-style phone
    * numbers replaced by typed placeholder tokens, with per-doc
    * redaction counts for audit. Pure column expressions (codegen'd,
    * map-only — no shuffle at any scale). The phone count runs on the
    * email-scrubbed intermediate so a phone-shaped substring inside an
    * email is not double-counted — counts equal placeholders emitted.
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        (size(split(col("text"), emailRe, -1)) - 1).as("n_emails"),
        regexp_replace(col("text"), emailRe, "<EMAIL>").as("t1"))
      .select(col("doc_id"),
        regexp_replace(col("t1"), phoneRe, "<PHONE>").as("text_scrubbed"),
        col("n_emails"),
        (size(split(col("t1"), phoneRe, -1)) - 1).as("n_phones"))

  /** Tokenizer-vocabulary construction: the k most frequent whitespace
    * tokens with a deterministic tie-break (count desc, then token asc —
    * the boundary of the vocabulary is unambiguous even when the tail is
    * flat, which a count-only sort would leave engine-dependent).
    *
    * Scale shape: the word count is a map-side partial agg shuffled on
    * a vocabulary-bounded key (not corpus-bounded), and the `orderBy +
    * limit` compiles to TakeOrderedAndProject — a per-partition bounded
    * heap + driver merge of k rows, never a global sort of the vocab.
    */
  def vocabTopK(docs: DataFrame, k: Int = 1000): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)

  /** TextRank keyword extraction (Mihalcea & Tarau '04): PageRank over
    * the word co-occurrence graph — an edge links each ADJACENT token
    * pair, symmetrized and deduplicated, and [[GraphRank.pageRank]]'s
    * exact integer fixed point ranks the vocabulary; the top-k words
    * are the corpus keywords. A composition proof as much as an
    * operator: the graph-centrality machinery runs unchanged over
    * STRING vertex ids (the join key never does arithmetic).
    *
    * Scale shape: the pair explode is map-side; the distinct and the
    * per-iteration joins are keyed on WORDS — vocabulary-bounded, not
    * corpus-bounded (the vocab_topk argument) — and the top-k is
    * TakeOrderedAndProject. Determinism: pageRank's int64 contract plus
    * a (rank desc, word asc) total order; the oracle rebuilds the edge
    * set and unrolls every iteration.
    */
  def textRank(docs: DataFrame, iters: Int = 5, k: Int = 10): DataFrame = {
    val pairs = docs
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "transform(sequence(1, greatest(size(w) - 1, 1)), " +
          "i -> struct(element_at(w, i) as a, element_at(w, i + 1) as b))"))
        .as("p"))
      // 1-token docs emit (w, null) here and nothing in the oracle's
      // generate_series(1, 0) — the null filter reconciles the two
      .where(col("p.b").isNotNull && col("p.a") =!= col("p.b") &&
        length(col("p.a")) > 0 && length(col("p.b")) > 0)
      .select(least(col("p.a"), col("p.b")).as("x"),
        greatest(col("p.a"), col("p.b")).as("y"))
      .distinct()
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    graft.ops.GraphRank.pageRank(nodes, edges, iters)
      .orderBy(desc("rank_fp"), asc("id")).limit(k)
      .select(col("id").as("word"), col("rank_fp"))
  }

  /** Per-document unigram entropy — the low-entropy spam/boilerplate
    * filter (keyboard mash, repeated-token padding and template pages
    * all score near 0 bits/token; natural prose sits near log2 of its
    * effective vocabulary). H = Σ_w (c_w/T)·log2(T/c_w) over the
    * document's OWN word distribution, kept exact-integer via the
    * shared interpolated milli-log2: `h_milli_tokens` = Σ_w c_w ·
    * milliLog2(T/c_w) (an order-free int64 sum — T ≥ c_w ≥ 1 always,
    * so the log argument is an ordered rational) and `entropy_milli` =
    * its truncating division by T, i.e. milli-bits per token. Engines
    * replay both bit for bit; no float anywhere.
    *
    * Scale shape: explode → (doc, word) map-side partial-agg count →
    * doc-keyed window for the totals → doc-keyed final agg; Spark
    * reuses the window's hash partitioning for the final agg, so the
    * corpus shuffles ONCE (on the (doc, word) key) plus the doc-keyed
    * exchange.
    */
  def entropyScore(docs: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("t", sum("c").over(byDoc))
      .withColumn("nd", count(lit(1)).over(byDoc))
      .withColumn("bits_milli", expr(Selection.logRatioMilli("t", "c")))
      .groupBy("doc_id")
      .agg(first("t").as("n_tokens"),
        first("nd").as("n_distinct"),
        sum(expr("c * bits_milli")).as("h_milli_tokens"))
      .withColumn("entropy_milli", expr("h_milli_tokens div n_tokens"))
  }

  /** Overlapping word-window chunking — the context-window prep step
    * (RAG passages / fixed-length training windows): one chunk per
    * stride start, the last chunk truncated at the document end.
    * Pure map-side transform + explode — no shuffle, no state; output
    * (doc_id, chunk_id, n_tokens, chunk) with chunk_id the 0-based
    * start index in strides.
    */
  def chunk(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && window >= 1)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), size(col("words")).as("n"), explode(expr(
        s"transform(sequence(0, greatest(size(words) - 1, 0) div $stride), " +
          s"i -> struct(i as cid, slice(words, i * $stride + 1, $window) as w))"))
        .as("c"))
      .where(expr(s"c.cid * $stride") < col("n"))
      .select(col("doc_id"), col("c.cid").cast("long").as("chunk_id"),
        size(col("c.w")).cast("long").as("n_tokens"),
        array_join(col("c.w"), " ").as("chunk"))
  }

  /** Pointwise-mutual-information co-occurrence pairs: the top-k word
    * pairs (within the df-ranked top-`vocabSize` vocabulary) whose
    * document co-occurrence beats independence — the collocation /
    * topic-coherence signal (word2vec's SGNS factorizes exactly a
    * shifted version of this matrix).
    *
    * Presence-based counts: c_x = df(x), c_xy = |docs containing both|,
    * PMI = log2(c_xy·N / (c_x·c_y)) kept only when ≥ 0 and emitted in
    * exact int64 milli units via the interpolated floor-log2 recipe
    * ([[Selection.logRatioMilli]]) — no transcendental, bit-identical
    * on any engine.
    *
    * Scale shape: the quadratic blowup is bounded BY CONSTRUCTION to
    * the broadcast vocabulary (≤ vocabSize distinct words per doc ⇒
    * ≤ vocabSize²/2 pair keys total in the agg); the per-doc pair
    * enumeration is one self-equi-join on doc_id over vocab-filtered
    * rows. df table ≤ |vocab| rows broadcasts; the final top-k is a
    * TakeOrderedAndProject, no global sort.
    */
  def pmiPairs(docs: DataFrame, vocabSize: Int = 100, k: Int = 50): DataFrame = {
    val dw = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .distinct()
      .localCheckpoint(false)
    val vocab = dw.groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("w")).limit(vocabSize)
    val dv = dw.join(broadcast(vocab), Seq("w"))
    val pairs = dv.as("a")
      .join(dv.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("n_co"),
        // df is constant per word; min (not first) keeps the agg
        // order-independent by construction
        min(col("a.df")).as("c1"), min(col("b.df")).as("c2"))
    val n = docs.count()
    pairs
      .where(col("n_co") * n >= col("c1") * col("c2"))
      .withColumn("pmi_milli",
        expr(Selection.logRatioMilli(s"n_co * ${n}L", "c1 * c2")))
      .select(col("w1"), col("w2"), col("n_co"), col("pmi_milli"))
      .orderBy(desc("pmi_milli"), asc("w1"), asc("w2"))
      .limit(k)
  }
}
