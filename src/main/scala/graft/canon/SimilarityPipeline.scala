package graft.canon

import graft.core.{Ontology, SmallSide}
import graft.materialize.TripleBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase 2 (`similarities`, reference §3.2): telemetry + content
  * feature vectors, k-NN similarity edges, density clusters.
  *
  *  - telemetry vector (A21, similarity_pipeline.py:87-93, verbatim
  *    semantics): [Depth, sin(H·2π/360), cos(H·2π/360), CameraTilt,
  *    framenumber], NaN/Inf→0;
  *  - content vector (A22 analog of the ResNet embedding): the per-label
  *    classifier+coverage channels + uciqe — deterministic features of
  *    the row content (SURVEY §7.5 deviations ledger);
  *  - SIMILAR_TO / VISUALLY_SIMILAR_TO: k=5 per frame within its
  *    inspection, distance property (frame.py:77-81);
  *  - IN_CLUSTER: DBSCAN-analog clusters, noise −1 excluded from edges;
  *    cluster node id "c{inspection}.{n}" (similarity_pipeline.py:173).
  */
object SimilarityPipeline {

  val K = 5

  /** Widths of the two fixed feature spaces (see [[telemetryFeatures]]
    * / [[contentFeatures]]) — the `dims` argument of [[standardize]].
    */
  val TeleDims = 5
  def contentDims(labels: Seq[String]): Int = 2 * labels.size + 1

  private def sanitize(c: org.apache.spark.sql.Column) =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, 0.0)
      .otherwise(c)

  /** Per-group z-score standardization of the feature vector (the
    * reference's StandardScaler step, similarity_pipeline.py:129-135).
    * Besides matching semantics, this is what keeps the LSH buckets
    * balanced — an unscaled dominant dimension (framenumber) collapses
    * every row into a handful of signatures and the bucket join goes
    * quadratic.
    *
    * Every caller builds fixed-width vecs, so `dims` per-dimension
    * column aggregates compute mu/sigma in one group-keyed aggregate —
    * no posexplode to |vec| rows per input row, no second collect_list
    * shuffle to reassemble arrays (`get` returns null past a short vec,
    * which avg/stddev_pop skip). `dims` MUST equal the uniform vec
    * length; a wider/narrower value changes which dimensions are
    * standardized.
    *
    * The stats (one row per group) are broadcast while they hold at most
    * 8M cells, groups × (2·dims + 1) ([[graft.core.SmallSide]]); above
    * that the shuffle join runs, and the aggregate runs again in it.
    */
  def standardize(feat: DataFrame, dims: Int): DataFrame = {
    val aggs = (0 until dims).flatMap(d => Seq(
      avg(get(col("vec"), lit(d))).as(s"mu_$d"),
      stddev_pop(get(col("vec"), lit(d))).as(s"sd_$d")))
    val stats = feat.groupBy("group").agg(aggs.head, aggs.tail: _*)
      .select(col("group"),
        array((0 until dims).map(d => col(s"mu_$d")): _*).as("mu"),
        array((0 until dims).map(d => col(s"sd_$d")): _*).as("sigma"))
    feat.join(SmallSide.broadcastIfSmall(stats, 8000000L / (2L * dims + 1)), Seq("group"))
      .withColumn("vec",
        graft.core.VectorExprs.vec_zscore(col("vec"), col("mu"), col("sigma")))
      .select("id", "group", "vec")
  }

  /** Packed numeric frame id for the similarity shuffles:
    * inspection_id·2²⁰ + framenumber. Strings ("123456.789") double the
    * candidate-stream shuffle bytes; the long unpacks back to the public
    * frame id with pure arithmetic — no mapping join. Valid while
    * framenumber < 2²⁰ (detid inspection ids are < 10⁶ ≪ 2⁴³).
    */
  private val FnoBits = 20
  def packedId: org.apache.spark.sql.Column = {
    // fail LOUDLY on out-of-contract framenumbers (the hash fallback in
    // MentionExtractor.frameNumberOf can produce values up to 1e9):
    // a silent wrap would corrupt SIMILAR_TO/IN_CLUSTER subjects
    val fno = col("framenumber")
    val guarded = when(fno >= 0 && fno < (1L << FnoBits), fno)
      .otherwise(raise_error(concat(
        lit(s"framenumber out of packed-id range [0, 2^$FnoBits): "),
        fno.cast("string"))).cast("long"))
    (col("inspection_id") * (1L << FnoBits)) + guarded
  }
  def frameIdOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(shiftrightunsigned(c, FnoBits), lit("."), c.bitwiseAND((1L << FnoBits) - 1))

  def telemetryFeatures(frames: DataFrame): DataFrame =
    frames.select(
      packedId.as("id"),
      col("inspection_id").as("group"),
      array(
        sanitize(col("Depth")),
        sanitize(sin(col("Heading") * math.Pi * 2 / 360)),
        sanitize(cos(col("Heading") * math.Pi * 2 / 360)),
        sanitize(col("CameraTilt")),
        col("framenumber").cast("double")
      ).as("vec"))

  def contentFeatures(frames: DataFrame, labels: Seq[String]): DataFrame = {
    val channels = labels.flatMap(l =>
      Seq(col(s"${l}_classification") * 10.0, col(s"${l}_segmentation") * 100.0)) :+
      col("uciqe")
    frames.select(
      packedId.as("id"),
      col("inspection_id").as("group"),
      array(channels.map(sanitize): _*).as("vec"))
  }

  def similarTriples(frames: DataFrame, labels: Seq[String],
                     exact: Boolean = true): DataFrame =
    similarTriplesPre(frames, labels, exact, preStdTele = None)

  /** Same result as [[similarTriples]]; `preStdTele`, when given, must
    * be `standardize(telemetryFeatures(frames))` — [[run]] passes a
    * checkpointed copy so the telemetry standardization is computed
    * once instead of twice (kNN here + DBSCAN in [[clusterTriples]]).
    */
  private def similarTriplesPre(frames: DataFrame, labels: Seq[String],
                                exact: Boolean,
                                preStdTele: Option[DataFrame]): DataFrame = {
    // selfRank: the reference KDTree contains the query point, so k=5
    // yields at most 4 real neighbors (the self slot is skipped,
    // similarity_pipeline.py:176-192)
    def knn(feat: DataFrame, dims: Int) =
      if (exact) KnnJoin.exactTopK(feat, K, selfRank = true)
      else KnnJoin.approxTopK(standardize(feat, dims), K, selfRank = true)
    def knnPre(std: DataFrame) = KnnJoin.approxTopK(std, K, selfRank = true)
    val teleKnn = preStdTele match {
      case Some(std) if !exact => knnPre(std)
      case _ => knn(telemetryFeatures(frames), TeleDims)
    }
    val tele = teleKnn.select(
      frameIdOf(col("src")).as("subj"), lit("SIMILAR_TO").as("pred"),
      frameIdOf(col("dst")).as("obj"),
      lit(null).cast("double").as("classification"),
      lit(null).cast("double").as("segmentation"),
      col("distance"),
      lit(null).cast("array<double>").as("homography"))
    val vis = knn(contentFeatures(frames, labels), contentDims(labels)).select(
      frameIdOf(col("src")).as("subj"), lit("VISUALLY_SIMILAR_TO").as("pred"),
      frameIdOf(col("dst")).as("obj"),
      lit(null).cast("double").as("classification"),
      lit(null).cast("double").as("segmentation"),
      col("distance"),
      lit(null).cast("array<double>").as("homography"))
    tele.unionByName(vis)
  }

  /** IN_CLUSTER triples + Cluster nodes. eps/minPts follow the
    * reference's shape (DBSCAN(eps, min_samples=5)); eps is in the
    * telemetry feature space.
    */
  def clusterTriples(frames: DataFrame, eps: Double = 8.0, minPts: Int = 5,
                     exact: Boolean = true, preStdTele: Option[DataFrame] = None)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    lazy val raw = telemetryFeatures(frames)
    val clusters =
      if (exact)
        // fixture scale: framenumber scaled down so density reflects
        // telemetry (the reference standardizes before DBSCAN)
        Dbscan.cluster(raw.withColumn("vec", transform(col("vec"),
          (v, i) => when(i === 4, v / 100.0).otherwise(v))), eps, minPts)
      else
        // web scale: standardized space, ε in z-score units —
        // preStdTele (run()'s checkpointed standardization) avoids
        // recomputing the identical standardize the kNN leg already ran
        Dbscan.clusterApprox(preStdTele.getOrElse(standardize(raw, TeleDims)),
          1.0, minPts)
    val member = clusters.where(col("cluster") >= 0)
      .withColumn("cluster_id",
        concat(lit("c"), col("group"), lit("."), col("cluster")))
    val triples = member.select(TripleBuilder.tripleCols(
      frameIdOf(col("id")), "IN_CLUSTER", col("cluster_id")): _*)
    val nodes = member.groupBy("cluster_id", "cluster").agg(count("*").as("n"))
      .select(col("cluster_id").as("id"), lit("Cluster").as("label"),
        map(lit("number"), col("cluster").cast("string")).as("props"))
    (triples, nodes)
  }

  def run(frames: DataFrame, labels: Seq[String] = Ontology.allLabels,
          exact: Boolean = true)(implicit spark: SparkSession): (DataFrame, DataFrame) = {
    // approx path: the telemetry standardization feeds BOTH the kNN leg
    // and grid-DBSCAN — compute it once and checkpoint (the eager leaf
    // also stops the analyzer re-walking the stats-join lineage per
    // reference; results identical to the previous double computation)
    val preStd =
      if (exact) None
      else Some(standardize(telemetryFeatures(frames), TeleDims)
        .localCheckpoint(true))
    val sims = similarTriplesPre(frames, labels, exact, preStd)
    val (clusterT, clusterN) = clusterTriples(frames, exact = exact,
      preStdTele = preStd)
    (sims.unionByName(clusterT), clusterN)
  }
}
