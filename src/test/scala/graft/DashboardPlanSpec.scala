package graft

import graft.corpus.CorpusGen
import graft.pipeline.KgPipeline
import graft.query.GraphQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dashboard queries over a graph written by `KgPipeline.write` and
  * read back from parquet, as the dashboard reads it: how many Spark jobs
  * a call starts, the order of the results sorted in one partition, and
  * the `pred` partition pruning of the triples scans.
  */
class DashboardPlanSpec extends AnyFunSuite with TempDirs {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  private lazy val (frames, triples, nodes) = {
    val dir = tempDir("kg-dashboard")
    KgPipeline.write(KgPipeline.runFull(
      CorpusGen.corpus(spark, CorpusGen.Config(rows = 600, nRepos = 2, partitions = 4)),
      exactKnn = false), dir)
    def table(t: String) = spark.read.parquet(s"$dir/$t")
    (table("frames"), table("triples"), table("nodes"))
  }

  /** The (inspection, heading bin) with the most frames. */
  private lazy val (inspection, angle) = {
    val r = frames.groupBy(col("inspection_id"),
        GraphQueries.headingBin(col("Heading"), coalesce(col("ship_heading"), lit(0.0))).as("bin"))
      .count().orderBy(desc("count"), col("inspection_id"), col("bin")).head()
    (r.getLong(0), r.getInt(1))
  }

  /** The (inspection, cluster number) of the largest cluster. */
  private lazy val (clusterInspection, cluster) = {
    val ClusterId = """c(\d+)\.(\d+)""".r
    triples.where(col("pred") === "IN_CLUSTER" && !col("obj").endsWith(".-1"))
      .groupBy("obj").count().orderBy(desc("count"), col("obj")).head().getString(0) match {
      case ClusterId(i, n) => (i.toLong, n.toLong)
    }
  }

  private def b3 = GraphQueries.framesAngle(frames, triples, nodes, inspection, angle)
  private def b4 = GraphQueries.framesCluster(frames, triples, clusterInspection, cluster)
  private def b15 = GraphQueries.clusterTable(frames, triples)

  private def jobs(df: => DataFrame): Int = SparkTestSession.jobGroups(df.collect()).size

  test("B11 runs in at most 3 Spark jobs and B13 in at most 2") {
    // 17 and 4 when the HAS closure was squared in checkpoint + count
    // rounds and the histogram took a range-partitioned global sort
    val (f, t) = (frames, triples) // write and read the graph before counting
    val b11 = jobs(GraphQueries.partShipPaths(f, t))
    val b13 = jobs(GraphQueries.headingsHist(f))
    assert(b11 <= 3, s"B11: $b11 jobs")
    assert(b13 <= 2, s"B13: $b13 jobs")
  }

  test("B6 and B12 repeated after an ingest batch compile no generated code") {
    // a batch compiles more classes than Spark's default 100-entry codegen
    // cache holds; with that cache and the plan-local stage id in every
    // class name, the repeated calls compiled 29 classes
    // (graft.core.GraftSession.settings)
    val frameSet = frames.where(col("inspection_id") === inspection).select("frame_id")
    def calls(): Unit = {
      GraphQueries.neighborhood(triples, frameSet).collect()
      GraphQueries.histogramData(frames, triples, nodes).values.foreach(_.collect())
    }
    calls()
    KgPipeline.write(KgPipeline.runFull(
      CorpusGen.corpus(spark, CorpusGen.Config(rows = 600, nRepos = 2, seed = 7, partitions = 4)),
      exactKnn = false), tempDir("kg-batch"))
    val compiled = SparkTestSession.compiles(calls())
    assert(compiled === 0, s"$compiled classes compiled")
  }

  test("results sorted in one partition equal the global orderBy rows, in order") {
    val sorted: Seq[(String, DataFrame, Seq[Column])] = Seq(
      ("B3", b3, Seq(desc("uciqe"))),
      ("B4", b4, Seq(col("framenumber"))),
      ("B13", GraphQueries.headingsHist(frames), Seq(col("inspection_id"), col("heading_bin"))),
      ("B14 ships", GraphQueries.shipTable(frames), Seq(col("name"))),
      ("B14 parts", GraphQueries.partTable(frames, triples, nodes), Seq(col("name"))),
      ("B15", b15, Seq(col("inspection_id"), col("cluster_id"))))
    for ((q, df, order) <- sorted) {
      assert(!df.queryExecution.executedPlan.toString.contains("rangepartitioning"), q)
      val got = df.collect().toSeq
      assert(got.length >= 2, q)
      assert(got === df.orderBy(order: _*).collect().toSeq, q)
    }
  }

  test("pred filters on triples prune the scan to their pred= partition") {
    val frameSet = frames.where(col("inspection_id") === inspection).select("frame_id")
    val filtered = Seq(
      ("B3", b3, "IN_MOSAIC"),
      ("B4", b4, "IN_CLUSTER"),
      ("B9", GraphQueries.mosaicQuality(frames, triples), "IN_MOSAIC"),
      ("B10", GraphQueries.clustersOf(triples, frameSet), "IN_CLUSTER"),
      ("B12", GraphQueries.histogramData(frames, triples, nodes)("marine_growth_ratio"),
        "IN_MOSAIC"),
      ("B15", b15, "IN_CLUSTER"))
    for ((q, df, pred) <- filtered) {
      val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
        .filter(_.relation.location.rootPaths.exists(_.getName == "triples"))
      assert(scans.nonEmpty, q)
      for (s <- scans)
        assert(s.partitionFilters.exists(_.sql == s"(pred = '$pred')"),
          s"$q: PartitionFilters ${s.metadata("PartitionFilters")}")
    }
  }
}
