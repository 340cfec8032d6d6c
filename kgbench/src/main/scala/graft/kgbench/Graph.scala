package graft.kgbench

import graft.canon.{KnnJoin, SimilarityPipeline}
import graft.core.CorpusRow
import graft.extract.{CompiledDict, MentionExtractor}
import graft.link.{EntityLinker, ShipCatalog}
import graft.materialize.{Mosaics, TripleBuilder}
import graft.pipeline.KgPipeline
import graft.query.GraphQueries
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The written graph as the dashboard reads it: the base graph's
  * directory plus one directory per ingested batch, each laid out by
  * [[KgPipeline.write]]. */
final case class Graph(frames: DataFrame, triples: DataFrame, nodes: DataFrame)

object Graph {
  val TripleCols: Seq[String] =
    Seq("subj", "pred", "obj", "classification", "segmentation", "distance", "homography")
  val TripleKeys: Seq[String] = Seq("subj", "pred", "obj")

  /** Each directory is read on its own (partition discovery refuses
    * several table roots in one read) and the tables are unioned. */
  def read(spark: SparkSession, dirs: Seq[String]): Graph = {
    def table(name: String) =
      dirs.map(d => spark.read.parquet(s"$d/$name")).reduce(_ unionByName _)
    Graph(table("frames"), table("triples").select(TripleCols.map(col): _*), table("nodes"))
  }

  def triplesDigest(g: Graph): Digest = Digest.ofFrame(g.triples)

  /** Values present in the graph, for drawing dashboard parameters. */
  def catalog(g: Graph): Inputs.Catalog = {
    val insps = g.frames.select("inspection_id").distinct().collect().map(_.getLong(0)).sorted
    val bins = g.frames.select(col("inspection_id"),
        GraphQueries.headingBin(col("Heading"), coalesce(col("ship_heading"), lit(0.0))))
      .distinct().collect()
      .groupBy(_.getLong(0)).map { case (i, rs) => i -> rs.map(_.getInt(1)).sorted.toIndexedSeq }
    val clusters = g.triples.where(col("pred") === "IN_CLUSTER").select("obj").distinct()
      .collect().map(_.getString(0)).collect { case ClusterId(i, n) => (i.toLong, n.toLong) }
      .groupBy(_._1).map { case (i, ns) => i -> ns.map(_._2).sorted.toIndexedSeq }
    val range = g.frames.groupBy("inspection_id").agg(min("framenumber"), max("framenumber"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Inputs.Catalog(insps.toIndexedSeq, bins, clusters, range)
  }

  /** IN_CLUSTER object ids: "c<inspection>.<cluster number>". */
  val ClusterId = """c(\d+)\.(\d+)""".r
}

/** Graph construction: the program's own composition, or the same
  * composition spelled out call by call under spans. */
object Build {

  /** Digests of the three tables a build wrote. */
  final case class Written(triples: Digest, frames: Digest, nodes: Digest)

  /** Write `result` to `dir` with the program's writer, passing the
    * triples through `triples`; returns the digests of the tables
    * written, observed on the write itself. */
  private def write(result: KgPipeline.Result, triples: DataFrame, dir: String): Written = {
    def observed(df: DataFrame): (DataFrame, () => Digest) = {
      val obs = Observation()
      val agg = Digest.aggColumns(df.schema)
      (df.observe(obs, agg.head, agg.tail: _*), () => {
        val m = obs.get
        Digest.fromAgg(m("n").asInstanceOf[Long], m("h").asInstanceOf[java.math.BigDecimal])
      })
    }
    val (t, td) = observed(triples)
    val (f, fd) = observed(result.frames)
    val (n, nd) = observed(result.nodes)
    KgPipeline.write(result.copy(triples = t, frames = f, nodes = n), dir)
    Written(td(), fd(), nd())
  }

  /** `KgPipeline.runFull(exactKnn = false)` + `KgPipeline.write`. */
  def plain(corpus: Dataset[CorpusRow], dir: String,
            delta: DataFrame => DataFrame = identity)(implicit spark: SparkSession): Written = {
    val r = KgPipeline.runFull(corpus, exactKnn = false)
    write(r, delta(r.triples), dir)
  }

  /** The same graph as [[plain]], built by calling each module in the
    * order `runFull` does, one span per layer. Each layer's output is
    * checkpointed inside its span so that its work is done there rather
    * than deferred into the write; that extra materialization is part of
    * the tracing overhead the report shows. `delta` runs in
    * `materialize.upsert` when given. */
  def layered(corpus: Dataset[CorpusRow], dir: String, tr: Tracer,
              delta: Option[DataFrame => DataFrame] = None)(
      implicit spark: SparkSession): Written = {
    val dict = CompiledDict.selfNamed
    val labels = dict.map(_._1)
    val rows = tr.span("corpus.gen")(corpus.localCheckpoint(true))
    val ships = tr.span("link.phase1")(ShipCatalog.dim(corpus).localCheckpoint(true))
    val frames = tr.span("extract.frames")(
      MentionExtractor.frames(MentionExtractor.extract(rows, dict), labels, ships)
        .localCheckpoint(true))
    val phase1 = tr.span("link.phase1")(
      TripleBuilder.hasOntology(ships)
        .unionByName(TripleBuilder.hasInspection(ships))
        .unionByName(TripleBuilder.hasFrame(frames))
        .unionByName(EntityLinker.depicts(frames, labels))
        .localCheckpoint(true))
    val (inMosaic, mosaicNodes) = tr.span("materialize.mosaics") {
      val (t, n) = Mosaics.build(frames, labels)
      (t.localCheckpoint(true), n.localCheckpoint(true))
    }
    val (teleStd, visStd) = tr.span("canon.standardize")((
      SimilarityPipeline.standardize(SimilarityPipeline.telemetryFeatures(frames),
        SimilarityPipeline.TeleDims).localCheckpoint(true),
      SimilarityPipeline.standardize(SimilarityPipeline.contentFeatures(frames, labels),
        SimilarityPipeline.contentDims(labels)).localCheckpoint(true)))
    val k = SimilarityPipeline.K
    def knn(layer: String, std: DataFrame): DataFrame = {
      val edges = tr.span(layer)(KnnJoin.approxTopK(std, k, selfRank = true).localCheckpoint(true))
      tr.span(s"$layer.count") {
        tr.count(s"$layer.candidates", KnnJoin.lshCandidates(std, k, selfRank = true).count())
        tr.count(s"$layer.edges", edges.count())
      }
      edges
    }
    val tele = knn("canon.knn_tele", teleStd)
    val vis = knn("canon.knn_content", visStd)
    val (clusterT, clusterN) = tr.span("canon.dbscan") {
      val (t, n) = SimilarityPipeline.clusterTriples(frames, exact = false, preStdTele = Some(teleStd))
      (t.localCheckpoint(true), n.localCheckpoint(true))
    }
    // SimilarityPipeline's edge projection (its similarTriples)
    def edgeTriples(knn: DataFrame, pred: String): DataFrame = knn.select(
      SimilarityPipeline.frameIdOf(col("src")).as("subj"), lit(pred).as("pred"),
      SimilarityPipeline.frameIdOf(col("dst")).as("obj"),
      lit(null).cast("double").as("classification"),
      lit(null).cast("double").as("segmentation"),
      col("distance"),
      lit(null).cast("array<double>").as("homography"))
    val triples = phase1.unionByName(inMosaic)
      .unionByName(edgeTriples(tele, "SIMILAR_TO"))
      .unionByName(edgeTriples(vis, "VISUALLY_SIMILAR_TO"))
      .unionByName(clusterT)
    val nodes = TripleBuilder.nodes(ships, frames).unionByName(mosaicNodes).unionByName(clusterN)
    val out = delta match {
      case Some(f) => tr.span("materialize.upsert")(f(triples).localCheckpoint(true))
      case None => triples
    }
    tr.span("pipeline.write")(write(KgPipeline.Result(ships, frames, triples, nodes), out, dir))
  }
}

/** The dashboard surface: one B-query call on the live graph, results
  * collected to the driver as the dashboard would render them. */
object Dashboard {
  import GraphQueries._

  def run(c: Inputs.Call, g: Graph)(implicit spark: SparkSession): Seq[Row] = {
    val f = g.frames
    val t = g.triples
    val n = g.nodes
    def ofInspection = f.where(col("inspection_id") === c.inspection)
    def ofInspections = f.where(col("inspection_id").isin(c.inspections: _*))
    def frameSet = ofInspection
      .where(col("framenumber") >= c.frameLo && col("framenumber") < c.frameHi)
      .select("frame_id")
    def findings = findingsPredicate(c.quality, c.parts, c.defects)
    c.kind match {
      case 1 => f.where(findings).select("frame_id", "inspection_id").collect().toSeq
      case 2 => inspections(f).collect().toSeq
      case 3 => framesAngle(f, t, n, c.inspection, c.angle).collect().toSeq
      case 4 => framesCluster(f, t, c.inspection, c.cluster).collect().toSeq
      case 5 => baseScan(f, c.inspections, findings).select("frame_id", "uciqe").collect().toSeq
      case 6 => neighborhood(t, frameSet).collect().toSeq
      case 7 => graphFrames(baseScan(f, c.inspections, lit(true))).collect().toSeq
      case 8 => similarityEdges(t, frameSet, c.pred, c.threshold).collect().toSeq
      case 9 => mosaicQuality(ofInspection, t).collect().toSeq
      case 10 => clustersOf(t, frameSet).collect().toSeq
      case 11 => partShipPaths(f, t).collect().toSeq
      case 12 => histogramData(ofInspections, t, n).toSeq.sortBy(_._1).flatMap { case (key, df) =>
        df.collect().toSeq.map(r => Row.fromSeq(key +: r.toSeq))
      }
      case 13 => headingsHist(ofInspections).collect().toSeq
      case 14 => (if (c.perPart) partTable(f, t, n) else shipTable(f)).collect().toSeq
      case 15 => clusterTable(ofInspection, t).collect().toSeq
      case 16 => labels(n).collect().toSeq
      case other => throw new IllegalArgumentException(s"no dashboard query B$other")
    }
  }
}
