package graft.query

import graft.core.{Ontology, SmallSide}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's query surface (demonstrator/data_manager.py, SURVEY
  * §2.B — B1..B16) over the materialized `frames` / `triples` / `nodes`
  * tables. Each Cypher query becomes a declarative DataFrame plan:
  * predicate pushdown, column pruning, broadcast-dim joins and top-k all
  * fall out of Catalyst.
  */
object GraphQueries {

  /** `df` sorted by `order` in one partition. A global `orderBy` range-
    * partitions its input: a sampling job, then a shuffle job. Only for a
    * small result that the caller collects whole, and that ends in a
    * shuffle (an aggregate or a distinct): `coalesce(1)` runs only the
    * stage after that shuffle in one task, so the scans before it keep
    * their parallelism and no job is added.
    */
  private def sortedInOnePartition(df: DataFrame, order: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(order: _*)

  /** B1 (data_manager.py:19-28): quality ∧ (∨ parts > .8) ∧ (∨ defects > .8).
    * Reference's `i.{label} > 0.8` reads the FUSED integer score property
    * (∈ {0,1,2}, image_node.py:33-45) — i.e. score ≥ 1 — which the frames
    * table exposes as the bare-label column, NOT the `_classification`
    * raw-probability channel.
    */
  def findingsPredicate(quality: Double, parts: Seq[String], defects: Seq[String]): Column = {
    def anyAbove(ls: Seq[String]): Column =
      ls.map(l => col(l) > 0.8)
        .reduceOption(_ || _).getOrElse(lit(true))
    (col("uciqe") >= quality) && anyAbove(parts) && anyAbove(defects)
  }

  /** B2 (:30-33): ship ⋈ inspection, "name on date", DISTINCT. */
  def inspections(frames: DataFrame): DataFrame =
    frames.select(concat(col("ship_name"), lit(" on "), col("inspection_date")).as("inspection"),
      col("inspection_id")).distinct()

  /** 30°-heading bin relative to ship heading (B3/B13 arithmetic:
    * `(round((i.Heading − ship_heading + 180) / 30) * 30) % 360` —
    * data_manager.py:36 for B3, :205 for B13; the +180 offset shifts the
    * bin labels so "dead astern" is 0).
    *
    * Label normalization: Cypher's `%` keeps the dividend's sign, so for
    * `ship_heading > H + 180` the reference emits labels in (−180, 0);
    * `pmod` maps those to the congruent label in [0, 360). The sector
    * partition is identical — labels differ by exactly 360 on that edge.
    */
  def headingBin(h: Column, shipHeading: Column): Column =
    pmod(round((h - shipHeading + 180) / 30) * 30, lit(360)).cast("int")

  /** B3 (:35-44): frames of an inspection in one heading sector,
    * projected exactly as the reference does —
    * `coalesce(m.seg_image_file, i.thumbnail) AS image_path,
    *  coalesce(m.uciqe, i.uciqe) AS uciqe` (data_manager.py:38-39; the
    * Mosaic node carries no uciqe prop, so that arm falls through), or
    * the plain `i.thumbnail / i.uciqe` projection when `mosaics=false`
    * (:39). DISTINCT, ORDER BY uciqe DESC (:40).
    */
  def framesAngle(frames: DataFrame, triples: DataFrame, nodes: DataFrame,
                  inspectionId: Long, angle: Int, mosaics: Boolean = true,
                  shipHeading: Column = coalesce(col("ship_heading"), lit(0.0))): DataFrame = {
    val base = frames.where(col("inspection_id") === inspectionId)
      .where(headingBin(col("Heading"), shipHeading) === angle)
    val projected =
      if (!mosaics)
        base.select(col("thumbnail").as("image_path"), col("uciqe"))
      else {
        val inMosaic = triples.where(col("pred") === "IN_MOSAIC")
          .select(col("subj").as("frame_id"), col("obj").as("mosaic_id"))
        val mosaicProps = nodes.where(col("label") === "Mosaic")
          .select(col("id").as("mosaic_id"),
            col("props")("seg_image_file").as("m_seg_image"),
            // absent key → null: the literal m.uciqe coalesce arm
            col("props")("uciqe").cast("double").as("m_uciqe"))
        base.join(inMosaic, Seq("frame_id"), "left")
          .join(mosaicProps, Seq("mosaic_id"), "left")
          .select(coalesce(col("m_seg_image"), col("thumbnail")).as("image_path"),
            coalesce(col("m_uciqe"), col("uciqe")).as("uciqe"))
      }
    sortedInOnePartition(projected.distinct(), desc("uciqe"))
  }

  /** B4 (:46-50): frames of (inspection, cluster n), ORDER BY framenumber. */
  def framesCluster(frames: DataFrame, triples: DataFrame,
                    inspectionId: Long, clusterNumber: Long): DataFrame = {
    val inCluster = triples.where(col("pred") === "IN_CLUSTER")
      .select(col("subj").as("frame_id"), col("obj").as("cluster_id"))
    // no shuffle precedes the sort, so `coalesce(1)` would scan frames in
    // one task: one small exchange gathers the cluster's rows instead
    frames.where(col("inspection_id") === inspectionId)
      .join(inCluster, Seq("frame_id"))
      .where(col("cluster_id") === concat(lit("c"), lit(inspectionId), lit("."), lit(clusterNumber)))
      .select("frame_id", "framenumber", "uciqe")
      .repartition(1).sortWithinPartitions("framenumber")
  }

  /** B5 (:53-54): base scan — frames of selected inspections + B1 pred. */
  def baseScan(frames: DataFrame, inspectionIds: Seq[Long], pred: Column): DataFrame =
    frames.where(col("inspection_id").isin(inspectionIds: _*)).where(pred)

  /** B6 (:56-58): 1-hop neighborhood expansion — frames reachable from
    * the set over any predicate, either direction, unioned with the set,
    * then re-matched `(i:Frame) <-[:HAS_FRAME]- (ins:Inspection)`: the
    * reference UNWINDs the collected set and returns (frame, inspection)
    * rows. The HAS_FRAME join doubles as the `:Frame` label restriction —
    * expansion can reach non-frame nodes (Classification via DEPICTS,
    * Mosaic via IN_MOSAIC), which the re-match drops.
    */
  def neighborhood(triples: DataFrame, frameIds: DataFrame): DataFrame = {
    val ids = frameIds.select(col("frame_id"))
    val out = triples.join(ids, triples("subj") === ids("frame_id"), "left_semi")
      .select(col("obj").as("frame_id"))
    val in = triples.join(ids, triples("obj") === ids("frame_id"), "left_semi")
      .select(col("subj").as("frame_id"))
    val all = ids.unionByName(out).unionByName(in)
    val hasFrame = triples.where(col("pred") === "HAS_FRAME")
      .select(col("obj").as("frame_id"), col("subj").as("inspection_id"))
    all.join(hasFrame, Seq("frame_id")).distinct()
  }

  /** B7 (:74-86): ORDER BY frame_id LIMIT 300 — top-k. */
  def graphFrames(base: DataFrame, k: Int = 300): DataFrame =
    base.orderBy("frame_id").limit(k)

  /** B8 (:92-107): similarity edges among a frame set, r.distance < t,
    * undirected (subj OR obj in set).
    */
  def similarityEdges(triples: DataFrame, frameIds: DataFrame, predName: String,
                      threshold: Double): DataFrame = {
    val ids = frameIds.select(col("frame_id"))
    val edges = triples.where(col("pred") === predName && col("distance") < threshold)
    // undirected containment = union of two semi-joined directions
    edges.join(ids, edges("subj") === ids("frame_id"), "left_semi")
      .unionByName(edges.join(ids, edges("obj") === ids("frame_id"), "left_semi"))
      .select("subj", "obj", "distance").distinct()
  }

  /** B9 (:114-127): per-mosaic mean uciqe, windowed equivalent of the
    * collect+reduce in the reference.
    */
  def mosaicQuality(frames: DataFrame, triples: DataFrame): DataFrame = {
    val inMosaic = triples.where(col("pred") === "IN_MOSAIC")
      .select(col("subj").as("frame_id"), col("obj").as("mosaic_id"))
    frames.join(inMosaic, Seq("frame_id"))
      .withColumn("mosaic_quality", avg("uciqe").over(Window.partitionBy("mosaic_id")))
      .select("frame_id", "mosaic_id", "uciqe", "mosaic_quality")
  }

  /** B10 (:130-139): clusters of a frame set, noise (…"-1") skipped. */
  def clustersOf(triples: DataFrame, frameIds: DataFrame): DataFrame = {
    val inCluster = triples.where(col("pred") === "IN_CLUSTER")
      .select(col("subj").as("frame_id"), col("obj").as("cluster_id"))
    inCluster.join(frameIds.select("frame_id"), Seq("frame_id"), "left_semi")
      .where(!col("cluster_id").endsWith("-1"))
      .distinct()
  }

  /** Transitive closure of the HAS tree (2 levels, 25 edges per ship in
    * practice): every (anc, desc) joined by a path of one or more edges.
    * Powers B11's variable-length path.
    *
    * Up to `ClosureCollectCap` edges are fetched once
    * ([[graft.core.SmallSide]]) and closed on the driver by a walk from
    * each ancestor into a local relation: one Spark job. Above it
    * [[closeDistributed]] runs instead.
    */
  def ontologyClosure(triples: DataFrame): DataFrame = {
    val has = triples.where(col("pred") === "HAS")
      .select(col("subj").as("anc"), col("obj").as("desc"))
    SmallSide.collect(has, ClosureCollectCap) match {
      case Some(rows) =>
        import has.sparkSession.implicits._
        closeLocally(rows.map(r => (r.getString(0), r.getString(1)))).toDF("anc", "desc")
      case None => closeDistributed(has)
    }
  }

  /** Every (a, c) with a path of ≥ 1 edge from a to c. A null end stays
    * on its own edge but continues no path, as in the equi-join. */
  private def closeLocally(edges: Array[(String, String)]): Seq[(String, String)] = {
    val next = edges.groupMap(_._1)(_._2)
    next.keys.toSeq.flatMap { a =>
      val seen = scala.collection.mutable.HashSet[String]()
      var todo = next(a).toList
      while (todo.nonEmpty) {
        val c = todo.head
        todo = todo.tail
        if (seen.add(c) && c != null) todo = next.getOrElse(c, Array.empty[String]) ++: todo
      }
      seen.toSeq.map(a -> _)
    }
  }

  /** Most HAS edges [[ontologyClosure]] closes on the driver (the cap of
    * [[graft.canon.ConnectedComponents.run]]). */
  private val ClosureCollectCap = 500000L

  /** The closure of `has` (anc, desc) on the cluster: SQUARED (closure ∘
    * closure each round) with a checkpoint and a count per round, so a
    * tree of depth d converges in O(log d) rounds instead of one per
    * level: 5 rounds for depth 32, not 32.
    */
  private[graft] def closeDistributed(has: DataFrame): DataFrame = {
    var closure = has.localCheckpoint(eager = true)
    var n = closure.count()
    var grown = true
    while (grown) {
      // rename to disambiguate the self-join lineage
      val step = closure.select(col("anc").as("f_anc"), col("desc").as("f_desc"))
      val hop = closure.select(col("anc").as("h_anc"), col("desc").as("h_desc"))
      val next = step.join(hop, col("f_desc") === col("h_anc"))
        .select(col("f_anc").as("anc"), col("h_desc").as("desc"))
      closure = closure.unionByName(next).distinct().localCheckpoint(eager = true)
      val n2 = closure.count()
      grown = n2 > n
      n = n2
    }
    closure
  }

  /** B11 (:145-158): frame -DEPICTS-> part <-HAS*- ship paths. */
  def partShipPaths(frames: DataFrame, triples: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val depicts = triples.where(col("pred") === "DEPICTS")
      .select(col("subj").as("frame_id"), col("obj").as("part_id"))
    val closure = ontologyClosure(triples)
    depicts
      .join(closure, depicts("part_id") === closure("desc"))
      .where(col("anc").startsWith("ship_"))
      .select(col("frame_id"), col("part_id"), col("anc").as("ship_id"))
  }

  /** B12 (:163-197): histogram value vectors. The marine-growth ratio is
    * computed per DISTINCT Mosaic reachable from the frame set
    * (`m.marine_growth_percentage / m.ship_hull_percentage`, coalesced to
    * 0, guarded `shp < 0.05 → 0`, capped at 1 — data_manager.py:174-177),
    * NOT per frame: the Mosaic node props carry the union coverage. The
    * left-semi join reads each reachable mosaic once however many frames
    * reach it, so `reachable` needs no `distinct`.
    */
  def histogramData(frames: DataFrame, triples: DataFrame,
                    nodes: DataFrame): Map[String, DataFrame] = {
    val inMosaic = triples.where(col("pred") === "IN_MOSAIC")
      .select(col("subj").as("frame_id"), col("obj").as("mosaic_id"))
    val reachable = inMosaic
      .join(frames.select("frame_id"), Seq("frame_id"), "left_semi")
      .select("mosaic_id")
    val mg = nodes.where(col("label") === "Mosaic")
      .join(reachable, nodes("id") === reachable("mosaic_id"), "left_semi")
      .select(
        coalesce(col("props")("marine_growth_percentage").cast("double"), lit(0.0)).as("mgp"),
        coalesce(col("props")("ship_hull_percentage").cast("double"), lit(0.0)).as("shp"))
      .select(
        when(col("shp") < 0.05, 0.0)
          .otherwise(least(col("mgp") / col("shp"), lit(1.0)))
          .as("marine_growth_ratio"))
    Map(
      "uciqe" -> frames.select("uciqe"),
      "depth" -> frames.select(col("Depth")),
      "marine_growth_ratio" -> mg,
      "similar_distances" -> triples.where(col("pred") === "SIMILAR_TO").select("distance"),
      "visual_distances" -> triples.where(col("pred") === "VISUALLY_SIMILAR_TO").select("distance")
    )
  }

  /** B13 (:201-221): per (inspection, 30° relative-heading bin) counts,
    * relative to the per-inspection `coalesce(ship_heading, 0)`.
    */
  def headingsHist(frames: DataFrame,
                   shipHeading: Column = coalesce(col("ship_heading"), lit(0.0))): DataFrame =
    sortedInOnePartition(frames
      .groupBy(col("inspection_id"),
        headingBin(col("Heading"), shipHeading).as("heading_bin"))
      .agg(count(lit(1)).as("n")), col("inspection_id"), col("heading_bin"))

  /** B14 (:223-248): per-ship (q6) and per-part (q7) conditional sums —
    * `sum(CASE WHEN i.{label} > 0.8 THEN 1 END)` per defect label, on the
    * fused score column (see [[findingsPredicate]]).
    */
  val tableDefects = Seq("marine_growth", "corrosion", "paint_peel", "defect")

  private implicit class AggOps(df: org.apache.spark.sql.RelationalGroupedDataset) {
    def agg(cols: Seq[Column]): DataFrame = df.agg(cols.head, cols.tail: _*)
  }

  def shipTable(frames: DataFrame): DataFrame =
    sortedInOnePartition(frames.groupBy(col("ship_name").as("name"), col("imo"))
      .agg(tableDefects.map(l =>
        sum(when(col(l) > 0.8, 1).otherwise(0)).as(l))), col("name"))

  def partTable(frames: DataFrame, triples: DataFrame, nodes: DataFrame): DataFrame = {
    val depicts = triples.where(col("pred") === "DEPICTS")
      .select(col("subj").as("frame_id"), col("obj").as("part_id"))
    val partNames = nodes.where(col("label") === "Classification")
      .select(col("id").as("part_id"), col("props")("name").as("name"))
    sortedInOnePartition(frames.join(depicts, Seq("frame_id"))
      .join(partNames, Seq("part_id"))
      .groupBy("name")
      .agg(tableDefects.map(l =>
        sum(when(col(l) > 0.8, 1).otherwise(0)).as(l))), col("name"))
  }

  /** B15 (:251-294): per (inspection, cluster ≠ −1): 9 conditional sums
    * on the fused score (`i.{label} > 0.8`), min(framenumber), count,
    * argmax-by-uciqe key frame — the reference's `CASE WHEN kf.uciqe >
    * i.uciqe THEN kf ELSE i END` reduce REPLACES on ties, so the LAST max
    * in framenumber order wins: ties break on the numeric framenumber,
    * not the string frame id. Keywords where count > n/3 (integer ÷ in
    * the reference; equivalent to the real-valued compare for int counts).
    */
  def clusterTable(frames: DataFrame, triples: DataFrame): DataFrame = {
    val inCluster = triples.where(col("pred") === "IN_CLUSTER")
      .select(col("subj").as("frame_id"), col("obj").as("cluster_id"))
    val joined = frames.join(inCluster, Seq("frame_id"))
      .where(!col("cluster_id").endsWith(".-1"))
    val labelSums = Ontology.findingLabels.map(l =>
      sum(when(col(l) > 0.8, 1).otherwise(0)).as(s"${l}_n"))
    val aggd = joined.groupBy("inspection_id", "cluster_id")
      .agg(Seq(
        min("framenumber").as("first_frame"),
        count(lit(1)).as("n"),
        max_by(col("frame_id"), struct(col("uciqe"), col("framenumber"))).as("key_frame")
      ) ++ labelSums)
    val keywords = array(Ontology.findingLabels.map(l =>
      when(col(s"${l}_n") > col("n") / 3, lit(l))): _*)
    sortedInOnePartition(aggd.withColumn("keywords", filter(keywords, _.isNotNull)),
      col("inspection_id"), col("cluster_id"))
  }

  /** B16 (query.py:10-15): DISTINCT node labels. */
  def labels(nodes: DataFrame): DataFrame = nodes.select("label").distinct()
}
