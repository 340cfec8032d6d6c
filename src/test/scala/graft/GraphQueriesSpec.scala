package graft

import graft.corpus.CorpusGen
import graft.pipeline.KgPipeline
import graft.query.GraphQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphQueriesSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  val cfg = CorpusGen.Config(rows = 900, nRepos = 3, partitions = 4)
  lazy val result = KgPipeline.runFull(CorpusGen.corpus(spark, cfg))
  lazy val frames = result.frames.persist()
  lazy val triples = result.triples.persist()

  test("B2 inspections: one distinct row per repo") {
    assert(GraphQueries.inspections(frames).count() === cfg.nRepos)
  }

  test("B13 heading bins cover 0..330 in steps of 30 and sum to row count") {
    val hist = GraphQueries.headingsHist(frames).collect()
    val bins = hist.map(_.getInt(1)).distinct
    assert(bins.forall(b => b >= 0 && b < 360 && b % 30 == 0))
    assert(hist.map(_.getLong(2)).sum === cfg.rows)
  }

  test("B13 bin arithmetic matches the reference formula on edge cases") {
    import spark.implicits._
    // reference (data_manager.py:36,205):
    // (round((H - ship_heading + 180)/30)*30) % 360
    //  359.9: round(539.9/30)=18 -> 540 %360 = 180
    //  15.1:  round(195.1/30)=7  -> 210
    //  14.9:  round(194.9/30)=6  -> 180
    //  (180, 170): round(190/30)=6 -> 180
    //  (0, 359): round(-179/30)=-6 -> -180 -> pmod 180
    val df = Seq((359.9, 0.0), (15.1, 0.0), (14.9, 0.0), (180.0, 170.0), (0.0, 359.0))
      .toDF("h", "s")
      .select(GraphQueries.headingBin(col("h"), col("s")).as("bin"))
    assert(df.as[Int].collect().toSeq === Seq(180, 210, 180, 180, 180))
  }

  test("B14 ship table: conditional sums on the fused score match a recount") {
    val got = GraphQueries.shipTable(frames).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("marine_growth")).toMap
    // reference thresholds the fused score column (i.marine_growth > 0.8)
    val want = frames.groupBy("ship_name")
      .agg(sum(when(col("marine_growth") > 0.8, 1).otherwise(0)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("B7+B8: similarity edges of the top-k set stay within the set (undirected)") {
    val base = GraphQueries.baseScan(frames,
      frames.select("inspection_id").distinct().collect().map(_.getLong(0)).toSeq,
      lit(true))
    val top = GraphQueries.graphFrames(base, 50).select("frame_id")
    val edges = GraphQueries.similarityEdges(triples, top, "SIMILAR_TO", 1e9)
    val ids = top.collect().map(_.getString(0)).toSet
    val es = edges.collect().map(r => (r.getString(0), r.getString(1)))
    assert(es.nonEmpty)
    assert(es.forall { case (a, b) => ids.contains(a) || ids.contains(b) })
  }

  test("B9 mosaic quality equals group average") {
    val mq = GraphQueries.mosaicQuality(frames, triples)
    val check = mq.groupBy("mosaic_id")
      .agg((max("mosaic_quality") - avg("uciqe")).as("diff"))
      .where(abs(col("diff")) > 1e-9).count()
    assert(check === 0)
  }

  test("B11 part/ship paths: every DEPICTS frame reaches its ship") {
    val paths = GraphQueries.partShipPaths(frames, triples)
    val nDepicts = triples.where("pred = 'DEPICTS'").count()
    // every depicts part is reachable from exactly one ship
    assert(paths.count() === nDepicts)
    assert(paths.where(!col("ship_id").startsWith("ship_")).count() === 0)
  }

  /** A HAS forest: a depth-7 chain under ship_a, a diamond (two paths
    * from ship_a to `d`), a part `d` that ship_b also has, and a loose
    * edge under no ship. */
  private lazy val hasFixture = {
    import spark.implicits._
    Seq("ship_a" -> "a1", "a1" -> "a2", "a2" -> "a3", "a3" -> "a4", "a4" -> "a5",
      "a5" -> "a6", "a6" -> "a7", "ship_a" -> "b1", "ship_a" -> "b2", "b1" -> "d", "b2" -> "d",
      "d" -> "e", "ship_b" -> "x1", "x1" -> "x2", "ship_b" -> "d", "loose" -> "y")
      .map { case (s, o) => (s, "HAS", o) }.toDF("subj", "pred", "obj")
  }

  test("HAS closure on the driver equals the distributed squaring loop") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)))
    val local = pairs(GraphQueries.ontologyClosure(hasFixture))
    val distributed = pairs(GraphQueries.closeDistributed(
      hasFixture.select(col("subj").as("anc"), col("obj").as("desc"))))
    assert(local.length === local.distinct.length)
    assert(local.toSet === distributed.toSet)
    // the chain closed end to end, the diamond once, and ship_b's share
    assert(Set("ship_a" -> "a7", "a1" -> "a7", "ship_a" -> "e", "ship_b" -> "e")
      .subsetOf(local.toSet))
    assert(!local.contains("ship_a" -> "x1") && !local.exists(_._1 == "a7"))
  }

  test("B15 cluster table: keywords only for labels above n/3, key frame has max uciqe") {
    val ct = GraphQueries.clusterTable(frames, triples)
    assert(ct.count() > 0)
    val row = ct.limit(1).collect()(0)
    val keyFrame = row.getAs[String]("key_frame")
    val clusterId = row.getAs[String]("cluster_id")
    val inCluster = triples.where(col("pred") === "IN_CLUSTER" && col("obj") === clusterId)
      .select(col("subj").as("frame_id"))
    val maxU = frames.join(inCluster, Seq("frame_id")).agg(max("uciqe")).collect()(0).getDouble(0)
    val kfU = frames.where(col("frame_id") === keyFrame).select("uciqe").collect()(0).getDouble(0)
    assert(math.abs(maxU - kfU) < 1e-12)
  }

  test("B6 neighborhood expansion returns (frame, inspection) rows per the reference") {
    import spark.implicits._
    val seed = frames.limit(5).select("frame_id")
    val nbh = GraphQueries.neighborhood(triples, seed)
    val seedIds = seed.as[String].collect().toSet
    val nbhIds = nbh.select("frame_id").as[String].collect().toSet
    assert(seedIds subsetOf nbhIds)
    assert(nbhIds.size > seedIds.size)
    // the re-match restricts to Frame nodes (data_manager.py:56-58):
    // every returned id is a real frame, paired with ITS inspection
    val bad = nbh.join(frames.select(col("frame_id"),
        concat(lit("i_"), col("inspection_id")).as("expected")),
      Seq("frame_id"), "left")
      .where(col("expected").isNull || col("inspection_id") =!= col("expected"))
    assert(bad.count() === 0)
  }

  test("B3 frames-by-angle projects the reference coalesce columns") {
    import spark.implicits._
    // pick a (inspection, bin) pair that certainly has rows
    val f0 = frames.select(col("inspection_id"),
      GraphQueries.headingBin(col("Heading"),
        coalesce(col("ship_heading"), lit(0.0))).as("bin"))
      .limit(1).collect()(0)
    val (insp, bin) = (f0.getLong(0), f0.getInt(1))
    val got = GraphQueries.framesAngle(frames, triples, result.nodes, insp, bin)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).endsWith(".jpg")))
    // in-mosaic frames show the mosaic's seg image, the rest their thumbnail
    val segPaths = rows.map(_.getString(0)).filter(_.endsWith("_seg.jpg"))
    val mosaicIds = triples.where(col("pred") === "IN_MOSAIC")
      .select("obj").distinct().as[String].collect().toSet
    assert(segPaths.forall(p => mosaicIds.contains(p.stripSuffix("_seg.jpg"))))
    // uciqe always falls through to the frame's value (no m.uciqe prop):
    // every returned uciqe exists among the bin's frame uciqes
    val frameU = frames.where(col("inspection_id") === insp)
      .select("uciqe").as[Double].collect().toSet
    assert(rows.forall(r => frameU.contains(r.getDouble(1))))
    // mosaics=false projects the plain thumbnail/uciqe pair
    val plain = GraphQueries.framesAngle(frames, triples, result.nodes,
      insp, bin, mosaics = false).collect()
    assert(plain.nonEmpty && plain.forall(r => !r.getString(0).endsWith("_seg.jpg")))
  }

  test("A5 frame stride keeps every Nth frame only") {
    val strided = graft.pipeline.KgPipeline.run(
      graft.corpus.CorpusGen.corpus(spark, cfg.copy(rows = 300)), frameStep = 10)
    val fns = strided.frames.select("framenumber").collect().map(_.getLong(0))
    assert(fns.nonEmpty && fns.forall(_ % 10 == 0))
  }

  test("B16 labels lists all node types") {
    val ls = GraphQueries.labels(result.nodes).collect().map(_.getString(0)).toSet
    assert(Set("Ship", "Inspection", "Classification", "Frame") subsetOf ls)
  }

  test("B12 marine-growth ratio is per DISTINCT mosaic, guarded and capped") {
    val mg = GraphQueries.histogramData(frames, triples, result.nodes)("marine_growth_ratio")
    assert(mg.where(col("marine_growth_ratio") < 0 || col("marine_growth_ratio") > 1).count() === 0)
    // one ratio per mosaic reachable from the frame set, not per frame
    val nMosaics = triples.where(col("pred") === "IN_MOSAIC")
      .select("obj").distinct().count()
    assert(mg.count() === nMosaics)
  }
}
