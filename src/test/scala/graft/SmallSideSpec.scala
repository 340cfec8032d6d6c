package graft

import graft.canon.{Dbscan, SimilarityPipeline}
import graft.core.SmallSide
import graft.corpus.CorpusGen
import graft.materialize.Mosaics
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The small-side fetch (`graft.core.SmallSide`) behind
  * `SimilarityPipeline.standardize`'s stats, `Mosaics.build`'s session
  * keys and `Dbscan.clusterApprox`'s core cells: below the cap the local
  * relation holds the same rows as the frame it replaces; DBSCAN's driver
  * cell graph equals the distributed one, forced with a cap of 0; and
  * with AQE off none of the three sites plans a sort-merge join.
  */
class SmallSideSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** 2-d points, `n` per grid cell (eps = 1), ids numbered from `id0`. */
  private def cell(group: Long, cx: Int, cy: Int, n: Int, id0: Long) =
    (0 until n).map(k => (id0 + k, group, Array(cx + 0.1 + 0.2 * k, cy + 0.5)))

  // group 1: a chain of five face-adjacent core cells; isolated core
  // cells, one of them diagonal to another (no merge); two negative
  // cells that merge; "-12_0" and "10_0", which sort differently as text
  // than as numbers; a 2-point cell beside the chain and a lone point
  // (both noise). Group 2 reuses group 1's coordinates.
  private lazy val points = Seq(
    cell(1, 0, 0, 3, 0), cell(1, 1, 0, 3, 10), cell(1, 2, 0, 3, 20),
    cell(1, 2, 1, 3, 30), cell(1, 2, 2, 3, 40),
    cell(1, 5, 5, 3, 50), cell(1, 6, 6, 4, 60),
    cell(1, -1, -3, 3, 70), cell(1, -1, -2, 3, 80),
    cell(1, -12, 0, 3, 90), cell(1, 10, 0, 3, 100),
    cell(1, 3, 0, 2, 110), cell(1, 10, 10, 1, 120),
    cell(2, 0, 0, 3, 200), cell(2, 1, 0, 3, 210), cell(2, 0, 1, 1, 220),
    cell(2, 7, -4, 5, 230)
  ).flatten.toDF("id", "group", "vec")

  private def clusters(cap: Long): DataFrame =
    Dbscan.clusterApprox(points, eps = 1.0, minPts = 3, collectThreshold = cap)

  test("grid-DBSCAN: the driver cell graph equals the distributed one") {
    val below = clusters(2000000L).collect()
    assert(below.toSet === clusters(0L).collect().toSet)
    val byId = below.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(below.length === points.count())
    assert(Seq(0L, 10L, 20L, 30L, 40L, 42L).map(byId).distinct.size === 1, "the chain is one cluster")
    assert(byId(70L) === byId(80L), "negative neighbours merge")
    assert(byId(50L) !== byId(60L), "diagonal cells do not merge")
    assert(Seq(110L, 111L, 120L, 220L).map(byId).forall(_ == -1L), "noise")
    val perGroup = below.filter(_.getLong(2) >= 0)
      .groupBy(_.getLong(1)).map { case (g, rs) => g -> rs.map(_.getLong(2)).toSet }
    assert(perGroup === Map(1L -> (0L until 6L).toSet, 2L -> Set(0L, 1L)))
  }

  test("driver union-find survives a component chained deeper than the stack") {
    // min-root union over (i, i - 1), i descending, links each root under
    // the next one: a single chain as long as the component
    val n = 300000L
    val root = graft.canon.ConnectedComponents.minRoots((n to 1L by -1L).view.map(i => (i, i - 1)))
    assert(root.size === n + 1 && root.values.forall(_ == 0L))
  }

  test("broadcastIfSmall: the local relation holds the frame's rows") {
    val df = Seq(
      (1L, "a", 0.5, Seq(1.0, -2.5), Seq("x", "y")),
      (2L, "b", Double.NaN, Seq.empty[Double], Seq.empty[String]),
      (2L, "b", Double.NaN, Seq.empty[Double], Seq.empty[String]),
      (3L, null, -0.0, Seq(Double.MaxValue), Seq("z", null)),
      (4L, "ü,_", Double.NegativeInfinity, null, null)
    ).toDF("id", "s", "d", "ds", "ss").repartition(3)
    val small = SmallSide.broadcastIfSmall(df, 1000)
    assert(!(small eq df))
    assert(SmallSide.broadcastIfSmall(df, 4) eq df, "5 rows are above a cap of 4")
    assert(SmallSide.broadcastIfSmall(df, 0) eq df)
    assert(small.schema === df.schema)
    assert(multiset(small) === multiset(df))
  }

  private lazy val frames = KgPipeline.run(
    CorpusGen.corpus(spark, CorpusGen.Config(rows = 400, nRepos = 2, partitions = 4))).frames

  test("with AQE off no small-side join plans as a sort-merge join") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val plans = Seq(
        "standardize" -> SimilarityPipeline.standardize(
          SimilarityPipeline.telemetryFeatures(frames), SimilarityPipeline.TeleDims),
        "mosaics" -> Mosaics.build(frames)._1,
        "dbscan" -> clusters(2000000L)
      ).map { case (site, df) => site -> df.queryExecution.executedPlan.toString }
      for ((site, p) <- plans) {
        assert(!p.contains("SortMergeJoin"), s"$site:\n$p")
        assert(p.contains("BroadcastHashJoin"), s"$site:\n$p")
      }
    } finally spark.conf.set(key, before)
  }
}
