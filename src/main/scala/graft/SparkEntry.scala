package graft

import graft.core.{CorpusRow, Ontology}
import graft.extract.MentionExtractor
import graft.link.{EntityLinker, ShipCatalog}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one entry per implemented operator (SURVEY.md §2),
  * runnable on the driver's parquet tables; `oracleSql` gives the
  * DuckDB-equivalent for every SQL-expressible operator. Column names
  * and value arithmetic are mirrored exactly (integer-cent sums instead
  * of float accumulation, floor-based binning instead of round) so the
  * driver's sorted-column value hash matches bit-for-bit.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- documents-as-corpus: the KG pipeline over the driver's table ----

  /** label → mention term from the documents vocabulary (no term is a
    * substring of any other vocab word — verified against the corpus).
    */
  val docDict: Seq[(String, String)] = Seq(
    "anode" -> "scan", "bilge_keel" -> "merge", "sea_chest_grating" -> "hash",
    "defect" -> "slow", "corrosion" -> "dup", "marine_growth" -> "data",
    "over_board_valve" -> "filter", "paint_peel" -> "batch",
    "propeller" -> "join", "ship_hull" -> "the")

  val docLabels: Seq[String] = docDict.map(_._1)

  def docsCorpus(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[CorpusRow] = {
    import s.implicits._
    t(s, dir, "documents").select(
      col("source").as("repo"),
      col("doc_id").cast("string").as("path"),
      md5(col("text")).as("commit"),
      col("lang"),
      col("text").as("content")
    ).as[CorpusRow]
  }

  def docFrames(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val corpus = docsCorpus(s, dir)
    MentionExtractor.frames(
      MentionExtractor.extract(corpus, docDict), docLabels, ShipCatalog.dim(corpus))
  }

  /** Flagship: DEPICTS triples of the KG pipeline over sf0.001 docs. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val sp: SparkSession = spark
    EntityLinker.depicts(docFrames(spark, "/root/testdata/sf0.001"), docLabels)
  }

  /** embeddings → the (id long, group long, vec array<double>) frame
    * the kNN, DBSCAN and PCA operators take.
    */
  private def knnFeatures(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").cast("long").as("id"),
      col("label").cast("long").as("group"),
      expr("transform(embedding, x -> cast(x as double))").as("vec"))

  /** Deterministic sampling bucket in [0, 10^6): first 8 hex digits of the
    * md5 of the key. Engine-portable (md5 is md5 everywhere), so sampled
    * subsets are reproducible across Spark, DuckDB, and reruns.
    */
  private def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"), lit(1000000L))

  // ---- SQL fragments shared by the generated oracles ----

  /** Non-overlapping substring count of `term` in documents.text. */
  private def cntSql(term: String): String =
    s"(length(text) - length(replace(text, '$term', ''))) / ${term.length}"

  private def scoreSql(term: String): String = {
    val c = cntSql(term)
    s"(CASE WHEN $c / 8.0 > 0.5 THEN 1 ELSE 0 END + " +
      s"CASE WHEN $c * ${term.length} / length(text) > 0.01 THEN 1 ELSE 0 END)"
  }

  private val tokSql =
    "CASE WHEN length(text) = 0 THEN 0 ELSE length(text) - length(replace(text, ' ', '')) + 1 END"

  val tableDefectLabels = Seq("marine_growth", "corrosion", "paint_peel", "defect")

  /** Root ancestor in the HAS tree (transitive closure of the 25-row
    * ontology dimension, resolved at plan time — B11's path semantics).
    */
  def ontologyRoot(vis: String): String = {
    val parent = Ontology.entries.map(e => e.visCode -> Option(e.parentVisCode)).toMap
    @scala.annotation.tailrec
    def go(v: String): String = parent.get(v).flatten match {
      case Some(p) => go(p)
      case None => v
    }
    go(vis)
  }

  // =======================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // --- scans / filters / aggregation (B14-style conditional sums) ---

    "q01_pricing_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1995-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long")).as("revenue_cents"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_region_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).as("acct_cents"))
        .orderBy("r_name", "n_name")
    }),

    "q03_topk_orders" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10)),

    "q04_priority_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "rn")
        .orderBy("o_orderpriority", "rn")
    }),

    "q05_cust_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")), lit(0L))
            .as("spend_cents"))
        .orderBy("c_custkey")
    }),

    "q06_cond_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_hi_disc"),
          sum(when(col("l_tax") > 0.04, 1).otherwise(0)).as("n_hi_tax"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // --- binning histogram (B13 heading-bin arithmetic) ---

    "q07_value_bins" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(pmod(floor(col("value") / 30) * 30, lit(360)).cast("int").as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bin")),

    // --- per-group argmax (B15 key-frame) ---

    "q08_user_argmax" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_type", "value")
        .orderBy("user_id")
    }),

    // --- semi / anti joins (B8-style id-set membership) ---

    "q09_semijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q10_antijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q11_union_distinct" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_type").as("v"))
        .unionByName(t(s, dir, "orders").select(col("o_orderpriority").as("v")))
        .distinct().orderBy("v")),

    // --- sessionization (A12 window shape) ---

    "q12_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      val b = e.withColumn("brk",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) > 1800000000L, 1).otherwise(0))
      val sess = b.withColumn("session",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy("user_id", "session").agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("cnt").as("n_events"),
          max("cnt").as("max_session"))
        .orderBy("user_id")
    }),

    // --- running window (A4 cumulative shape) ---

    "q13_running" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events").where(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("running_cents", sum("cents").over(w))
        .select("user_id", "event_id", "running_cents")
        .orderBy("user_id", "event_id")
    }),

    "q14_lang_stats" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang")),

    "q15_exact_moments" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"),
          sum(col("c") * col("c")).as("sumsq_cents"))
        .orderBy("event_type")),

    // --- distinct counts and rollups ---

    "q16_distinct_count" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    "q17_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))
        .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))),

    // --- the KG pipeline over documents (extract → link → aggregate) ---

    "kg_scores" -> ((s, dir) => {
      val f = docFrames(s, dir)
      f.select(Seq(col("framenumber").as("doc_id")) ++
        docLabels.map(l => col(l)): _*).orderBy("doc_id")
    }),

    "kg_depicts" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      EntityLinker.mentions(docFrames(s, dir), docLabels)
        .join(broadcast(EntityLinker.linkDictDf(s)), Seq("label"))
        .select(
          split(col("frame_id"), "\\.").getItem(1).cast("long").as("doc_id"),
          col("visCode").as("vis_code"),
          col("classification"), col("segmentation"))
        .orderBy("doc_id", "vis_code")
    }),

    "kg_ship_table" -> ((s, dir) => {
      val aggs = tableDefectLabels.map(l =>
        sum(when(col(l) >= 1, 1).otherwise(0)).as(s"${l}_docs")) :+
        count(lit(1)).as("n_docs")
      docFrames(s, dir).groupBy(col("repo").as("source"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("source")
    }),

    "kg_part_rollup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val rootMap = Ontology.linkDict.keys.toSeq.sorted
        .map(l => l -> ontologyRoot(Ontology.linkDict(l))).toDF("label", "root_vis")
      EntityLinker.mentions(docFrames(s, dir), docLabels)
        .join(broadcast(rootMap), Seq("label"))
        .groupBy("root_vis").agg(count(lit(1)).as("n_mentions"))
        .orderBy("root_vis")
    }),

    "kg_topk_quality" -> ((s, dir) =>
      docFrames(s, dir)
        .select(col("framenumber").as("doc_id"), round(col("uciqe"), 6).as("uciqe"))
        .orderBy(desc("uciqe"), asc("doc_id")).limit(100)),

    // corpus-distribution monitoring: EXACT type-7 quantiles of doc
    // length per language. Quantile points are quarter-multiples so the
    // interpolation weight (frac of p*(n-1)) is a power-of-2 fraction —
    // exact in binary on both engines. The 100 TB path swaps in
    // percentile_approx (t-digest) with identical plan shape.
    "q28_length_quantiles" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(n_chars, 0.25D)"), 6).as("p25"),
          round(expr("percentile(n_chars, 0.5D)"), 6).as("p50"),
          round(expr("percentile(n_chars, 0.75D)"), 6).as("p75"))
        .orderBy("lang")),
    // all-pairs cosine above a threshold chosen 550x the engines'
    // arithmetic noise away from the nearest pair (0.45; closest pair
    // at 0.4494)
    "q27_cosine_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      val a = emb.select(col("vec_id").as("a"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("b"), col("v").as("vb"))
      a.join(b, col("a") < col("b"))
        .withColumn("cos", graft.core.VectorExprs.cosine(col("va"), col("vb")))
        .where(col("cos") >= 0.45)
        .select(col("a"), col("b"), round(col("cos"), 4).as("cosine"))
        .orderBy("a", "b")
    }),

    "knn_graph" -> ((s, dir) =>
      graft.canon.KnnJoin.exactTopK(knnFeatures(t(s, dir, "embeddings")), 5)
        .select(col("src"), col("dst"), round(col("distance"), 6).as("distance"))
        .orderBy("src", "distance", "dst")),

    // the POSITIONAL-BLOCK linearized-LSH kNN — the engine's web-scale
    // candidate plan (tag → bucket → order-projection → ±window pairing →
    // bounded top-k aggregator) — with PORTABLE md5-derived hyperplanes,
    // so the DuckDB oracle replays every stage (signature bits, bucket
    // order, window pairing, (distance, dst) tie rule) and the
    // whole machinery is hash-proven with REAL bucketing (16 sign
    // buckets per group, candidates a strict subset). knn_graph stays
    // the exact-path gate; CanonSpec pins the production variant's recall.
    "knn_portable" -> ((s, dir) => {
      graft.canon.KnnJoin.approxTopK(knnFeatures(t(s, dir, "embeddings")), 5,
          tables = 1, bits = 4, window = 8, portable = true)
        .select(col("src"), col("dst"), round(col("distance"), 6).as("distance"))
        .orderBy("src", "dst")
    }),

    // --- B3/B13 heading-bin arithmetic with the reference's +180 offset ---

    "q18_heading_bins" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(graft.query.GraphQueries.headingBin(col("value"), lit(77.0))
          .as("heading_bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("heading_bin")),

    // --- exact n-gram Jaccard over a SQL-expressible candidate set ---

    "q23_jaccard_adj" -> ((s, dir) => {
      val grams = t(s, dir, "documents").select(col("doc_id"),
        array_distinct(expr(
          "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), " +
            "i -> array_join(slice(split(text, ' '), i, 3), ' '))")).as("grams"))
      val ga = grams.select(col("doc_id").as("a"), col("grams").as("ga"))
      val gb = grams.select((col("doc_id") - 1).as("a"), col("doc_id").as("b"),
        col("grams").as("gb"))
      ga.join(gb, Seq("a"))
        .select(col("a"), col("b"),
          (size(array_intersect(col("ga"), col("gb"))) /
            size(array_union(col("ga"), col("gb")))).as("jaccard"))
        .orderBy("a")
    }),

    // --- deterministic hash-threshold sampling (audit-reproducible) ---

    "q24_det_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(hashBucket(col("text")) < 300000L)
        .select("doc_id", "lang").orderBy("doc_id")),

    // A12-A14 mosaic sessionization against a window-SQL oracle: frames
    // synthesized from `events` with SQL-visible arithmetic (the pipeline's
    // own telemetry comes from the Scala Rng, which DuckDB cannot replay),
    // then the REAL operator (Mosaics.withSessions + gate + unionCoverage)
    "q25_mosaic_sessions" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_type"), col("value"))
      val frames = t(s, dir, "events").select(
        col("user_id").as("inspection_id"),
        row_number().over(w).as("framenumber"),
        pmod(col("value") * 7.3, lit(360.0)).as("Heading"),
        (pmod(col("value"), lit(25.0)) / 10.0).as("Depth"),
        (pmod(col("value"), lit(1.0)) * 0.9).as("cov"))
      graft.materialize.Mosaics.withSessions(frames)
        .groupBy(col("inspection_id"), col("session"))
        .agg(count("*").as("n_frames"),
          (lit(1.0) + max("Depth") - min("Depth")).as("size_raw"),
          round(graft.materialize.Mosaics.unionCoverage(col("cov")), 6)
            .as("union_cov"))
        .where(col("n_frames") >= graft.materialize.Mosaics.minFrames ||
          col("size_raw") >= graft.materialize.Mosaics.sizeIncreaseKeep)
        .select(col("inspection_id"), col("session").cast("long").as("session"),
          col("n_frames"), round(col("size_raw"), 6).as("size_increase"),
          col("union_cov"))
        .orderBy("inspection_id", "session")
    }),

    // A25 exact DBSCAN against a DuckDB oracle that replays the full
    // semantics (eps-ball core test, connected components over core-core
    // edges via recursive closure, border attach to min core component,
    // dense per-group numbering, noise = -1) on SQL-visible vectors
    "q26_dbscan" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.canon.Dbscan.cluster(knnFeatures(t(s, dir, "embeddings")),
        eps = 1.25, minPts = 4).orderBy("id")
    }),

    // --- connected components against a window-SQL oracle ---

    "cc_sizes" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("src"), col("lang").as("src_lang"))
      val b = d.select(col("doc_id").as("dst"), col("lang").as("dst_lang"))
      // chain edges between adjacent doc ids of the same language: the
      // resulting components are language runs — oracle-expressible
      val edges = a.join(b,
          col("src") + 1 === col("dst") && col("src_lang") === col("dst_lang"))
        .select("src", "dst")
      graft.canon.ConnectedComponents.run(edges)
        .select(col("id"), col("component")).orderBy("id")
    }),

    // --- A4 interpolate/resample vs a DuckDB window-SQL oracle ---

    "telemetry_interp" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // resample event values per user onto a 64-point uniform grid
      val samples = t(s, dir, "events").select(
        col("user_id").as("inspection_id"),
        unix_micros(col("ts").cast("timestamp")).cast("double").as("ts"),
        col("event_type").as("channel"), col("value"))
      graft.extract.TelemetryInterpolation.interpolate(samples, 64)
        .orderBy("inspection_id", "channel", "frame_index")
    }),

    // --- operator keys added after the first wave; the four with no
    // SQL-expressible oracle (kg_similar_edges, kg_clusters, kg_mosaics,
    // kg_clusters_grid) get the rows-only check, every key that also
    // appears in oracleSql is hash-gated ---

    "fuzzy_link" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // mentions = misspelled component names planted deterministically
      // (doc_id < 200, not limit(200): the oracle must select the same rows)
      val entities = graft.core.Ontology.entries
        .map(e => (e.visCode, e.name)).toDF("entity_id", "name")
      val mentions = t(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select(col("doc_id").as("mention_id"),
          lit("propeler arangement").as("text"))
      graft.link.FuzzyLinker.link(mentions, entities)
        .select(col("mention_id").cast("long").as("mention_id"), col("entity_id"),
          round(col("score"), 6).as("score"), col("method"))
        .orderBy("mention_id")
    }),
    "kg_similar_edges" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.canon.SimilarityPipeline.similarTriples(
        docFrames(s, dir), docLabels, exact = false)
    }),
    "kg_clusters" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // exact eps-join path: small per-repo groups (grid cells need
      // dense populations); web-scale grid variant runs in the bench
      graft.canon.SimilarityPipeline.clusterTriples(
        docFrames(s, dir), exact = true)._1
    }),
    "kg_mosaics" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // homography stringified: array columns crash the driver comparer
      graft.materialize.Mosaics.build(docFrames(s, dir), docLabels)._1
        .select(col("subj"), col("pred"), col("obj"),
          array_join(transform(col("homography"), _.cast("string")), ",")
            .as("homography"))
    }),
    "cc_components" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val edges = graft.canon.KnnJoin.exactTopK(knnFeatures(t(s, dir, "embeddings")), 3)
        .select("src", "dst")
      graft.canon.ConnectedComponents.run(edges)
    }),

    "streaming_sessions" -> ((s, dir) => {
      // Structured Streaming surface, driven synchronously: session_window
      // over the event stream, complete mode, memory sink
      import org.apache.spark.sql.streaming.Trigger
      val batch = t(s, dir, "events")
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_q").toFile
      // the memory sink holds the result rows, so the source files are
      // deleted once the query stops
      try {
        batch.write.mode("overwrite").parquet(tmp.toString)
        val stream = s.readStream.schema(batch.schema).parquet(tmp.toString)
        val q = graft.streaming.StreamingIngest.sessionCounts(stream)
          .writeStream.outputMode("complete").format("memory")
          .queryName("graft_sessions_q").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      s.sql("SELECT user_id, count(*) AS n_sessions FROM graft_sessions_q " +
        "GROUP BY 1 ORDER BY 1")
    }),
    // the web-scale grid-DBSCAN path (ε-cell bucketing + contracted CC
    // over the CELL graph) timed in the sweep next to the exact entries
    // (kg_clusters, q26_dbscan), so the plan that runs at 100× is the
    // one being benched per round. Emits the full assignment (noise
    // included) — rows-only by design: grid semantics approximate the
    // exact ε-join, whose full semantics q26_dbscan hash-proves
    "kg_clusters_grid" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.canon.Dbscan.clusterApprox(
        graft.canon.SimilarityPipeline.standardize(
          graft.canon.SimilarityPipeline.telemetryFeatures(docFrames(s, dir)),
          graft.canon.SimilarityPipeline.TeleDims),
        eps = 2.0, minPts = 5)
        .orderBy("id")
    }),
    "pca_reduce" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // deterministic PCA (sign-canonicalized, integer-sum fit) —
      // (id, dim, value) rows, hash-checkable against the DuckDB mirror
      // of the same arithmetic (which keys rows by the varchar id);
      // OperatorSpec checks it against MLlib's PCA (`mllibPca`)
      graft.canon.Reduce.pcaDet(knnFeatures(t(s, dir, "embeddings"))
          .withColumn("id", col("id").cast("string")), 8)
        .select(col("id"), posexplode(col("vec")).as(Seq("dim", "value")))
        .select(col("id"), col("dim"), round(col("value"), 6).as("value"))
        .orderBy("id", "dim")
    }),

    // --- round 5: ledger time-travel, semi-structured extraction ---

    // ledger time-travel: events become an add/del triple change ledger
    // (any engagement asserts (user, ENGAGED_WITH, item-k); an 'error'
    // retracts it), snapshotted at the corpus-midpoint timestamp. The
    // scalar min/max fetch is a bounded one-row collect (established
    // convention); the snapshot itself is one keyed window
    "triple_snapshot" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val ledger = ev.select(
        concat(lit("u"), col("user_id")).as("subj"),
        lit("ENGAGED_WITH").as("pred"),
        concat(lit("k"), get_json_object(col("props"), "$.k")).as("obj"),
        when(col("event_type") === "error", lit("del"))
          .otherwise(lit("add")).as("op"),
        col("ts_us"), col("event_id"))
      val r = ev.agg(min("ts_us"), max("ts_us")).head()
      graft.materialize.Upsert.asOfSnapshot(ledger, (r.getLong(0) + r.getLong(1)) / 2)
        .orderBy("subj", "obj")
    }),
    // ledger snapshot DIFF between the 25% and 75% timestamps: every
    // triple whose liveness changed, tagged added/removed — the
    // change-audit consumers sync on instead of re-reading the graph
    "triple_diff" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val ledger = ev.select(
        concat(lit("u"), col("user_id")).as("subj"),
        lit("ENGAGED_WITH").as("pred"),
        concat(lit("k"), get_json_object(col("props"), "$.k")).as("obj"),
        when(col("event_type") === "error", lit("del"))
          .otherwise(lit("add")).as("op"),
        col("ts_us"), col("event_id"))
      val r = ev.agg(min("ts_us"), max("ts_us")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      graft.materialize.Upsert.snapshotDiff(ledger,
          lo + (hi - lo) / 4, lo + 3L * (hi - lo) / 4)
        .orderBy("subj", "pred", "obj", "change")
    }),
    // semi-structured extraction: the JSON props column parsed and
    // aggregated per event type (get_json_object ↔ json_extract_string)
    "q29_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n,
        | cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)) as bigint) AS revenue_cents
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-09-01'
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_region_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        | cast(sum(cast(floor(c_acctbal * 100 + 0.5) as bigint)) as bigint) AS acct_cents
        | FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q03_topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q04_priority_topk" ->
      """SELECT o_orderpriority, o_orderkey, rn FROM (
        | SELECT o_orderpriority, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q05_cust_orders" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | cast(coalesce(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)), 0) as bigint) AS spend_cents
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_cond_agg" ->
      """SELECT l_returnflag,
        | cast(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) as bigint) AS n_hi_disc,
        | cast(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) as bigint) AS n_hi_tax,
        | count(*) AS n_rows FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_value_bins" ->
      """SELECT cast(((floor(value / 30) * 30) % 360 + 360) % 360 as integer) AS bin,
        | count(*) AS n FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_user_argmax" ->
      """SELECT user_id, event_type, value FROM (
        | SELECT user_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        | FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q09_semijoin" ->
      """SELECT c_custkey, c_name FROM customer c WHERE EXISTS (
        | SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        | ORDER BY c_custkey""".stripMargin,
    "q10_antijoin" ->
      """SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (
        | SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        | ORDER BY c_custkey""".stripMargin,
    "q11_union_distinct" ->
      """SELECT DISTINCT v FROM (
        | SELECT event_type AS v FROM events
        | UNION ALL SELECT o_orderpriority AS v FROM orders) t ORDER BY v""".stripMargin,
    "q12_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        | b AS (SELECT user_id, event_id, us,
        |   CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        | s AS (SELECT user_id,
        |   sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session
        |  FROM b),
        | g AS (SELECT user_id, session, count(*) AS cnt FROM s GROUP BY 1, 2)
        | SELECT user_id, count(*) AS n_sessions, cast(sum(cnt) as bigint) AS n_events, max(cnt) AS max_session
        | FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_running" ->
      """SELECT user_id, event_id,
        | cast(sum(cast(floor(value * 100 + 0.5) as bigint))
        |  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS UNBOUNDED PRECEDING) as bigint) AS running_cents
        | FROM events WHERE user_id < 20 ORDER BY user_id, event_id""".stripMargin,
    "q14_lang_stats" ->
      """SELECT lang, count(*) AS n, cast(sum(n_chars) as bigint) AS total_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        | FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_exact_moments" ->
      """SELECT event_type, count(*) AS n, cast(sum(c) as bigint) AS sum_cents,
        | cast(sum(c * c) as bigint) AS sumsq_cents
        | FROM (SELECT event_type, cast(floor(value * 100 + 0.5) as bigint) AS c FROM events) t
        | GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        | cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) as bigint) AS total_cents
        | FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        | ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "kg_scores" -> kgScoresOracleSql,
    "kg_depicts" -> kgDepictsOracleSql,
    "kg_ship_table" -> kgShipTableOracleSql,
    "kg_part_rollup" -> kgPartRollupOracleSql,
    "kg_topk_quality" ->
      s"""SELECT doc_id, round(((length(text) % 101) / 101.0) * 20.0 + ((($tokSql) % 97) / 97.0) * 30.0, 6) AS uciqe
         | FROM documents ORDER BY uciqe DESC, doc_id LIMIT 100""".stripMargin,
    "q18_heading_bins" ->
      """SELECT cast(((round((value - 77.0 + 180) / 30) * 30) % 360 + 360) % 360 as int) AS heading_bin,
        | count(*) AS n FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_jaccard_adj" ->
      """WITH g AS (SELECT doc_id,
        |   list_distinct(list_transform(
        |     generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |     i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS grams
        |  FROM documents)
        | SELECT a.doc_id AS a, b.doc_id AS b,
        |  len(list_intersect(a.grams, b.grams)) / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        | FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 ORDER BY a""".stripMargin,
    "q24_det_sample" ->
      """SELECT doc_id, lang FROM documents
        | WHERE cast(concat('0x', substr(md5(text), 1, 8)) as bigint) % 1000000 < 300000
        | ORDER BY doc_id""".stripMargin,
    "cc_sizes" ->
      """WITH o AS (SELECT doc_id, lang,
        |   CASE WHEN lag(lang) OVER w = lang AND lag(doc_id) OVER w = doc_id - 1
        |        THEN 0 ELSE 1 END AS brk
        |  FROM documents WINDOW w AS (ORDER BY doc_id)),
        | r AS (SELECT doc_id, sum(brk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp FROM o),
        | c AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS component,
        |       count(*) OVER (PARTITION BY grp) AS n FROM r)
        | SELECT doc_id AS id, component FROM c WHERE n >= 2 ORDER BY id""".stripMargin,
    // tie order inside the engine's top-k buffer is (distance, dst) —
    // mirrored by the window order
    "knn_graph" ->
      """WITH e AS (SELECT vec_id, label, cast(embedding as double[]) AS v FROM embeddings),
        | p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |       round(list_distance(a.v, b.v), 6) AS distance,
        |       row_number() OVER (PARTITION BY a.vec_id
        |         ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |       FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
        | SELECT src, dst, distance FROM p WHERE rn <= 5 ORDER BY src, distance, dst""".stripMargin,
    // replays the positional-block linearized LSH stage for stage:
    // md5-derived planes (key '0_<bit>_<dim>' — table 0), 4 signature
    // sign bits + the order projection (plane 4), row_number bucket
    // positions ordered by (proj, id) exactly like the engine, ±8-window
    // pairing, both directions, top-5 per src with the top-k buffer's
    // (distance, dst) tie rule
    "knn_portable" ->
      """WITH e AS (SELECT cast(vec_id as bigint) AS id, cast(label as bigint) AS grp,
        |     cast(embedding as double[]) AS v FROM embeddings),
        | pl AS (SELECT b, list_transform(generate_series(0, 63),
        |     d -> ((cast(concat('0x', substr(md5(concat('0_', b, '_', d)), 1, 8)) as bigint) % 2001) - 1000) / 1000.0) AS p
        |   FROM generate_series(0, 4) t(b)),
        | sg AS (SELECT e.id,
        |     sum(CASE WHEN pl.b <= 3 AND list_inner_product(e.v, pl.p) >= 0
        |          THEN (1 << pl.b) ELSE 0 END) AS sig,
        |     max(CASE WHEN pl.b = 4 THEN list_inner_product(e.v, pl.p) END) AS proj
        |   FROM e CROSS JOIN pl GROUP BY e.id),
        | posed AS (SELECT e.id, e.grp, e.v, s.sig, s.proj,
        |     row_number() OVER (PARTITION BY e.grp, s.sig ORDER BY s.proj, e.id) AS pos
        |   FROM e JOIN sg s USING (id)),
        | pairs AS (SELECT a.id AS src, b.id AS dst, list_distance(a.v, b.v) AS distance
        |   FROM posed a JOIN posed b ON a.grp = b.grp AND a.sig = b.sig
        |    AND b.pos - a.pos BETWEEN 1 AND 8),
        | bidir AS (SELECT src, dst, distance FROM pairs
        |   UNION ALL SELECT dst AS src, src AS dst, distance FROM pairs),
        | ranked AS (SELECT src, dst, distance,
        |     row_number() OVER (PARTITION BY src ORDER BY distance, dst) AS rk
        |   FROM bidir)
        | SELECT cast(src as bigint) AS src, cast(dst as bigint) AS dst,
        |   round(distance, 6) AS distance
        | FROM ranked WHERE rk <= 5 ORDER BY src, dst""".stripMargin,
    // hash-min CC == min reachable vertex id; the closure is enumerable
    // at oracle scale via a recursive CTE over the symmetrized 3-NN graph
    "cc_components" ->
      """WITH RECURSIVE e AS (SELECT vec_id, label, cast(embedding as double[]) AS v FROM embeddings),
        | p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |       row_number() OVER (PARTITION BY a.vec_id
        |         ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |       FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        | knn AS (SELECT src, dst FROM p WHERE rn <= 3),
        | edges AS (SELECT src, dst FROM knn UNION SELECT dst AS src, src AS dst FROM knn),
        | reach(a, b) AS (
        |   SELECT vec_id, vec_id FROM e
        |   UNION
        |   SELECT r.a, ed.dst FROM reach r JOIN edges ed ON r.b = ed.src)
        | SELECT cast(a as bigint) AS id, cast(min(b) as bigint) AS component
        | FROM reach GROUP BY a ORDER BY id""".stripMargin,
    "fuzzy_link" -> fuzzyLinkOracleSql,
    "pca_reduce" -> pcaReduceOracleSql,
    "q28_length_quantiles" ->
      """SELECT lang, count(*) AS n,
        | round(quantile_cont(n_chars, 0.25), 6) AS p25,
        | round(quantile_cont(n_chars, 0.5), 6) AS p50,
        | round(quantile_cont(n_chars, 0.75), 6) AS p75
        | FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // element-order list_sum mirrors sq_dist's index-order accumulation;
    // 1.25*1.25 is exact in binary on both engines
    "q26_dbscan" ->
      """WITH RECURSIVE e AS (SELECT vec_id AS id, cast(label as bigint) AS grp,
        |     cast(embedding as double[]) AS v FROM embeddings),
        | nbr AS (SELECT a.id AS src, b.id AS dst
        |         FROM e a JOIN e b ON a.grp = b.grp AND a.id <> b.id
        |         WHERE list_sum(list_transform(generate_series(1, len(a.v)),
        |           i -> (a.v[i] - b.v[i]) ** 2)) <= 1.25 * 1.25),
        | core AS (SELECT src AS id FROM nbr GROUP BY src HAVING count(*) >= 3),
        | ce AS (SELECT n.src, n.dst FROM nbr n
        |        JOIN core c1 ON n.src = c1.id JOIN core c2 ON n.dst = c2.id),
        | reach(a, b) AS (SELECT id, id FROM core
        |   UNION SELECT r.a, ce.dst FROM reach r JOIN ce ON r.b = ce.src),
        | comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
        | border AS (SELECT n.src AS id, min(cp.component) AS component
        |    FROM nbr n JOIN comp cp ON n.dst = cp.id
        |    WHERE n.src NOT IN (SELECT id FROM core) GROUP BY n.src),
        | assigned AS (SELECT * FROM comp UNION ALL SELECT * FROM border),
        | pts AS (SELECT e.id, e.grp, a.component FROM e LEFT JOIN assigned a ON e.id = a.id),
        | num AS (SELECT id, grp, cast(dense_rank() OVER (
        |     PARTITION BY grp ORDER BY component) - 1 as bigint) AS cluster
        |   FROM pts WHERE component IS NOT NULL)
        | SELECT cast(id as bigint) AS id, grp AS "group", cluster FROM num
        | UNION ALL
        | SELECT cast(id as bigint) AS id, grp AS "group", cast(-1 as bigint) AS cluster
        |   FROM pts WHERE component IS NULL
        | ORDER BY id""".stripMargin,
    // union coverage 1-prod(1-cov) as exp(sum(ln(...))) — agrees with the
    // sequential product to ~1e-12, far inside the round-to-6 contract
    "q25_mosaic_sessions" ->
      """WITH e AS (SELECT user_id AS inspection_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_type, value) AS framenumber,
        |    ((value * 7.3) % 360.0 + 360.0) % 360.0 AS heading,
        |    ((value % 25.0 + 25.0) % 25.0) / 10.0 AS depth,
        |    ((value % 1.0 + 1.0) % 1.0) * 0.9 AS cov
        |  FROM events),
        | b AS (SELECT inspection_id, framenumber, depth, cov,
        |    CASE WHEN lag(heading) OVER w IS NULL THEN 1
        |         WHEN least(abs(heading - lag(heading) OVER w),
        |                    360.0 - abs(heading - lag(heading) OVER w)) > 45.0 THEN 1
        |         WHEN abs(depth - lag(depth) OVER w) > 2.0 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY inspection_id ORDER BY framenumber)),
        | s AS (SELECT *, sum(brk) OVER (PARTITION BY inspection_id ORDER BY framenumber) AS session FROM b),
        | m AS (SELECT inspection_id, cast(session as bigint) AS session,
        |    count(*) AS n_frames,
        |    1.0 + max(depth) - min(depth) AS size_raw,
        |    1.0 - exp(sum(ln(greatest(1.0 - least(greatest(cov, 0.0), 1.0), 1e-300)))) AS uc
        |  FROM s GROUP BY 1, 2)
        | SELECT inspection_id, session, n_frames, round(size_raw, 6) AS size_increase,
        |   round(uc, 6) AS union_cov
        | FROM m WHERE n_frames >= 3 OR size_raw >= 1.5
        | ORDER BY inspection_id, session""".stripMargin,
    "q27_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings)
        | SELECT a.vec_id AS a, b.vec_id AS b,
        |   round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        | FROM e a JOIN e b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(a.v, b.v) >= 0.45
        | ORDER BY a, b""".stripMargin,
    // session_window merges events with gap < 30 min; a new session opens
    // when the inter-event gap is >= the gap duration (half-open window)
    "streaming_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        | b AS (SELECT user_id,
        |   CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000
        |        THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us))
        | SELECT user_id, cast(sum(brk) as bigint) AS n_sessions
        | FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "telemetry_interp" ->
      """WITH raw AS (
        |  SELECT user_id AS inspection_id, cast(epoch_us(ts) as double) AS ts,
        |         event_type AS channel, value,
        |         row_number() OVER (PARTITION BY user_id, event_type, epoch_us(ts) ORDER BY value) AS rn
        |  FROM events),
        | d AS (SELECT inspection_id, channel, ts, value AS v FROM raw WHERE rn = 1),
        | b AS (SELECT inspection_id, channel, min(ts) AS t0, max(ts) AS t1 FROM d GROUP BY 1, 2),
        | g AS (SELECT inspection_id, channel, cast(i as int) AS frame_index,
        |              t0 + i * (t1 - t0) / 63 AS gts
        |       FROM b CROSS JOIN generate_series(0, 63) AS t(i)),
        | seg AS (SELECT inspection_id, channel, ts AS pt, v AS pv,
        |                lead(ts) OVER w AS nt, lead(v) OVER w AS nv
        |         FROM d WINDOW w AS (PARTITION BY inspection_id, channel ORDER BY ts))
        | SELECT g.inspection_id, g.frame_index, g.channel,
        |   CASE WHEN seg.nv IS NULL THEN seg.pv
        |        WHEN seg.nt = seg.pt THEN seg.pv
        |        ELSE seg.pv + (seg.nv - seg.pv) * (g.gts - seg.pt) / (seg.nt - seg.pt) END AS value
        | FROM g JOIN seg ON g.inspection_id = seg.inspection_id AND g.channel = seg.channel
        |   AND g.gts >= seg.pt AND (g.gts < seg.nt OR seg.nt IS NULL)
        | ORDER BY g.inspection_id, g.channel, g.frame_index""".stripMargin,

    // ledger replay at the integer-midpoint timestamp: latest op per
    // (subj, pred, obj) at-or-before T wins (ts desc, event_id desc),
    // and only a winning 'add' is in the snapshot
    "triple_snapshot" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |     event_type, props FROM events),
        | led AS (SELECT 'u' || user_id AS subj, 'ENGAGED_WITH' AS pred,
        |     'k' || json_extract_string(props, '$.k') AS obj,
        |     CASE WHEN event_type = 'error' THEN 'del' ELSE 'add' END AS op,
        |     ts_us, event_id FROM e),
        | rk AS (SELECT *, row_number() OVER (PARTITION BY subj, pred, obj
        |     ORDER BY ts_us DESC, event_id DESC) AS rn
        |   FROM led
        |   WHERE ts_us <= (SELECT (min(ts_us) + max(ts_us)) // 2 FROM e))
        | SELECT subj, pred, obj, ts_us AS since_us, event_id AS last_event_id
        | FROM rk WHERE rn = 1 AND op = 'add' ORDER BY subj, obj""".stripMargin,
    // replays both snapshots (latest-op-wins windows at the 25%/75%
    // cuts) and the two anti-joins as NOT EXISTS
    "triple_diff" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |     event_type, props FROM events),
        | led AS (SELECT 'u' || user_id AS subj, 'ENGAGED_WITH' AS pred,
        |     'k' || json_extract_string(props, '$.k') AS obj,
        |     CASE WHEN event_type = 'error' THEN 'del' ELSE 'add' END AS op,
        |     ts_us, event_id FROM e),
        | b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM e),
        | s1 AS (SELECT subj, pred, obj FROM (
        |     SELECT *, row_number() OVER (PARTITION BY subj, pred, obj
        |       ORDER BY ts_us DESC, event_id DESC) AS rn
        |     FROM led WHERE ts_us <= (SELECT lo + (hi - lo) // 4 FROM b)) x
        |   WHERE rn = 1 AND op = 'add'),
        | s2 AS (SELECT subj, pred, obj FROM (
        |     SELECT *, row_number() OVER (PARTITION BY subj, pred, obj
        |       ORDER BY ts_us DESC, event_id DESC) AS rn
        |     FROM led WHERE ts_us <= (SELECT lo + (3 * (hi - lo)) // 4 FROM b)) x
        |   WHERE rn = 1 AND op = 'add')
        | SELECT subj, pred, obj, 'added' AS change FROM s2
        | WHERE NOT EXISTS (SELECT 1 FROM s1
        |   WHERE s1.subj = s2.subj AND s1.pred = s2.pred AND s1.obj = s2.obj)
        | UNION ALL
        | SELECT subj, pred, obj, 'removed' AS change FROM s1
        | WHERE NOT EXISTS (SELECT 1 FROM s2
        |   WHERE s2.subj = s1.subj AND s2.pred = s1.pred AND s2.obj = s1.obj)
        | ORDER BY subj, pred, obj, change""".stripMargin,
    "q29_json_props" ->
      """SELECT event_type, count(*) AS n,
        | cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS sum_k,
        | min(cast(json_extract_string(props, '$.k') as bigint)) AS min_k,
        | max(cast(json_extract_string(props, '$.k') as bigint)) AS max_k
        | FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** kg_scores oracle: per-label fused score via substring counting. */
  private def kgScoresOracleSql: String = {
    val cols = docDict.map { case (label, term) => s"${scoreSql(term)} AS $label" }
    s"SELECT doc_id, ${cols.mkString(", ")} FROM documents ORDER BY doc_id"
  }

  /** kg_depicts oracle: one UNION ALL branch per dictionary label,
    * emitting (doc_id, visCode, classification, segmentation) for
    * score > 0 — the reference's emit rule (frame.py:65-73).
    */
  private def kgDepictsOracleSql: String = {
    val dictTerms = docDict.toMap
    val branches = Ontology.linkDict.toSeq.sortBy(_._1).map { case (label, vis) =>
      val term = dictTerms(label)
      val c = cntSql(term)
      s"""SELECT doc_id, '$vis' AS vis_code,
         | least($c / 8.0, 1.0) AS classification,
         | $c * ${term.length} / length(text) AS segmentation
         | FROM documents WHERE ${scoreSql(term)} > 0""".stripMargin
    }
    s"SELECT * FROM (${branches.mkString(" UNION ALL ")}) t ORDER BY doc_id, vis_code"
  }

  private def kgShipTableOracleSql: String = {
    val dictTerms = docDict.toMap
    val cols = tableDefectLabels.map { l =>
      s"cast(sum(CASE WHEN ${scoreSql(dictTerms(l))} >= 1 THEN 1 ELSE 0 END) as bigint) AS ${l}_docs"
    }
    s"SELECT source, ${cols.mkString(", ")}, count(*) AS n_docs " +
      "FROM documents GROUP BY 1 ORDER BY 1"
  }

  /** fuzzy_link oracle: LSH blocking is a candidate-generation
    * optimization — at oracle scale its candidates contain the global
    * best entity, so exact argmax trigram Jaccard over the whole
    * (broadcast-sized) ontology states the intended semantics directly.
    */
  private def fuzzyLinkOracleSql: String = {
    val vals = Ontology.entries.sortBy(_.visCode)
      .map(e => s"('${e.visCode}', '${e.name.replace("'", "''")}')").mkString(", ")
    s"""WITH ent AS (SELECT entity_id,
       |    lower(regexp_replace(name, '[^a-zA-Z0-9]+', ' ', 'g')) AS e_norm
       |  FROM (VALUES $vals) t(entity_id, name)),
       | m AS (SELECT doc_id AS mention_id, 'propeler arangement' AS m_norm
       |       FROM documents WHERE doc_id < 200),
       | eg AS (SELECT entity_id, list_distinct(list_transform(
       |    generate_series(1, greatest(length(e_norm) - 2, 1)), i -> e_norm[i:i+2])) AS eg FROM ent),
       | mg AS (SELECT mention_id, list_distinct(list_transform(
       |    generate_series(1, greatest(length(m_norm) - 2, 1)), i -> m_norm[i:i+2])) AS mg FROM m),
       | scored AS (SELECT mention_id, entity_id,
       |    cast(len(list_intersect(mg, eg)) as double)
       |      / len(list_distinct(list_concat(mg, eg))) AS score
       |  FROM mg CROSS JOIN eg),
       | best AS (SELECT mention_id, entity_id, score,
       |    row_number() OVER (PARTITION BY mention_id ORDER BY score DESC, entity_id) AS rn
       |  FROM scored WHERE score >= 0.4)
       | SELECT cast(mention_id as bigint) AS mention_id, entity_id,
       |   round(score, 6) AS score, 'minhash_lsh' AS method
       | FROM best WHERE rn = 1 ORDER BY mention_id""".stripMargin
  }

  /** pca_reduce oracle: mirrors Reduce.pcaDet operation-for-operation.
    * Integer-quantized sums make mean/std/covariance bit-identical
    * across engines (exact, summation-order-free); the fixed-iteration
    * power method + deflation then runs in a recursive CTE with the
    * same index-order float arithmetic (list_reduce folds left-to-right
    * like the Scala loops), so the sign-canonicalized projections agree
    * exactly — not just to a tolerance.
    */
  private def pcaReduceOracleSql: String = {
    val D = 64; val K = 8; val T = 100
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(generate_series(1, $D), dj -> $a[dj] * $b[dj]), (ax, ay) -> ax + ay)"
    val muExpr = s"cast(s1 as double) / 1e7 / n"
    s"""WITH RECURSIVE
       | raw AS (SELECT cast(vec_id as varchar) AS id, cast(embedding as double[]) AS v FROM embeddings),
       | cnt AS (SELECT cast(count(*) as bigint) AS n FROM raw),
       | rq AS (SELECT id, list_transform(v, x -> cast(round(x * 1e7, 0) as bigint)) AS r FROM raw),
       | st AS (SELECT j, sum(r[j]) AS s1, sum(r[j] * r[j]) AS s2
       |        FROM rq CROSS JOIN generate_series(1, $D) t(j) GROUP BY j),
       | stm AS (SELECT j, $muExpr AS mu,
       |    sqrt(greatest((cast(s2 as double) / 1e14 - ($muExpr) * ($muExpr) * n) / (n - 1), 0.0)) AS sd
       |  FROM st, cnt),
       | stl AS (SELECT list(mu ORDER BY j) AS mus,
       |         list(CASE WHEN sd > 1e-12 THEN sd ELSE 1.0 END ORDER BY j) AS sds FROM stm),
       | svt AS (SELECT id, list_transform(generate_series(1, $D), j -> (v[j] - mus[j]) / sds[j]) AS s
       |         FROM raw, stl),
       | qv AS (SELECT id, list_transform(s, x -> cast(round(x * 1e6, 0) as bigint)) AS q FROM svt),
       | ex AS (SELECT id, j, q[j] AS x FROM qv CROSS JOIN generate_series(1, $D) t(j)),
       | cv AS (SELECT a.j AS i, b.j AS j2, cast(sum(a.x * b.x) as double) / 1e12 / (n - 1) AS val
       |        FROM ex a JOIN ex b USING (id), cnt GROUP BY a.j, b.j, n),
       | cm AS (SELECT list(rl ORDER BY i) AS m FROM
       |         (SELECT i, list(val ORDER BY j2) AS rl FROM cv GROUP BY i)),
       | it(comp, iter, m, v) AS (
       |   SELECT 1, 0, (SELECT m FROM cm),
       |     (SELECT list_transform(r0, x -> x / sqrt(${dot("r0", "r0")})) FROM
       |       (SELECT list_transform(generate_series(1, $D),
       |          j -> cast((j * 2654435761 + 97) % 1000 + 1 as double)) AS r0))
       |   UNION ALL
       |   SELECT CASE WHEN iter < $T THEN comp ELSE comp + 1 END,
       |          CASE WHEN iter < $T THEN iter + 1 ELSE 0 END,
       |          CASE WHEN iter < $T THEN m ELSE
       |            list_transform(generate_series(1, $D), di ->
       |              list_transform(generate_series(1, $D), dj2 -> m[di][dj2] - lam * v[di] * v[dj2])) END,
       |          CASE WHEN iter < $T THEN list_transform(w, x -> x / wn)
       |               ELSE list_transform(r0, x -> x / rn0) END
       |   FROM (
       |     SELECT comp, iter, m, v, w, r0,
       |            sqrt(${dot("w", "w")}) AS wn, ${dot("v", "w")} AS lam,
       |            sqrt(${dot("r0", "r0")}) AS rn0
       |     FROM (
       |       SELECT comp, iter, m, v,
       |         list_transform(m, mr -> ${dot("mr", "v")}) AS w,
       |         list_transform(generate_series(1, $D),
       |           j -> cast((j * 2654435761 + (comp + 1) * 97) % 1000 + 1 as double)) AS r0
       |       FROM it WHERE iter < $T OR comp < $K) s0) s1),
       | comps AS (SELECT comp, v FROM it WHERE iter = $T),
       | canon AS (SELECT comp,
       |    CASE WHEN v[list_position(list_transform(v, x -> abs(x)),
       |                list_max(list_transform(v, x -> abs(x))))] < 0
       |         THEN list_transform(v, x -> -x) ELSE v END AS v
       |   FROM comps)
       | SELECT s.id, cast(c.comp - 1 as int) AS dim,
       |   round(${dot("s.s", "c.v")}, 6) AS value
       | FROM svt s CROSS JOIN canon c ORDER BY id, dim""".stripMargin
  }

  private def kgPartRollupOracleSql: String = {
    val dictTerms = docDict.toMap
    val branches = Ontology.linkDict.toSeq.sortBy(_._1).map { case (label, vis) =>
      s"SELECT doc_id, '${ontologyRoot(vis)}' AS root_vis FROM documents " +
        s"WHERE ${scoreSql(dictTerms(label))} > 0"
    }
    s"SELECT root_vis, count(*) AS n_mentions FROM (${branches.mkString(" UNION ALL ")}) t " +
      "GROUP BY 1 ORDER BY 1"
  }
}
