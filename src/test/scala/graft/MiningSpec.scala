package graft

import graft.ops.GraphRank
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Random-walk corpus generation and greedy coverage selection. */
class MiningSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private lazy val graph = {
    val edges = graft.ops.SimilaritySearch.neighborGraph(emb, k = 3, exact = true)
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    val nodes = emb.select(col("vec_id").cast("long").as("id")).localCheckpoint(true)
    (nodes, edges)
  }

  test("randomWalks: one full walk per node, every hop follows a real edge") {
    val (nodes, edges) = graph
    val walks = GraphRank.randomWalks(nodes, edges, steps = 3).localCheckpoint(true)
    val n = nodes.count()
    // kNN graph has out-degree 3 everywhere -> no dead ends, all complete
    assert(walks.count() === n * 4)
    assert(walks.where(col("step") === 0 && col("walk_id") =!= col("node")).count() === 0)
    val hops = walks.as("a").join(walks.as("b"),
        $"a.walk_id" === $"b.walk_id" && $"b.step" === $"a.step" + 1)
      .select($"a.node".as("src"), $"b.node".as("dst"))
    assert(hops.count() === n * 3)
    assert(hops.join(edges, Seq("src", "dst"), "left_anti").count() === 0,
      "a walk hop does not follow any graph edge")
  }

  test("randomWalks: derandomized choice is partition-invariant") {
    val (nodes, edges) = graph
    val a = GraphRank.randomWalks(nodes, edges, steps = 2)
      .orderBy("walk_id", "step").collect().toSeq
    val b = GraphRank.randomWalks(nodes.repartition(7), edges.repartition(11), steps = 2)
      .orderBy("walk_id", "step").collect().toSeq
    assert(a === b)
  }

  test("greedyCoverageSelect: gains non-increasing, picks distinct, coverage adds up") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val picks = graft.ops.Selection.greedyCoverageSelect(docs, k = 5)
      .orderBy("round").collect()
    assert(picks.length === 5)
    assert(picks.map(_.getLong(1)).distinct.length === 5, "a document picked twice")
    val gains = picks.map(_.getLong(2))
    assert(gains.zip(gains.tail).forall { case (a, b) => b <= a },
      s"submodularity violated: ${gains.mkString(",")}")
    // Σ marginal gains == distinct grams covered by the picked set
    val grams = docs.where(col("doc_id").isInCollection(picks.map(_.getLong(1))))
      .select(explode(expr(
        "array_distinct(transform(sequence(0, greatest(size(split(text, ' ')) - 3, 0)), " +
          "i -> array_join(slice(split(text, ' '), i + 1, 3), ' ')))")).as("g"))
      .agg(countDistinct("g")).head().getLong(0)
    assert(gains.sum === grams, s"gain ledger ${gains.sum} != covered grams $grams")
    // round 1 is the plain argmax over per-doc distinct gram counts
    val best = docs.select(col("doc_id"), expr(
        "size(array_distinct(transform(sequence(0, greatest(size(split(text, ' ')) - 3, 0)), " +
          "i -> array_join(slice(split(text, ' '), i + 1, 3), ' '))))").as("n"))
      .orderBy(desc("n"), asc("doc_id")).head()
    assert(picks(0).getLong(1) === best.getLong(0) && gains(0) === best.getInt(1).toLong)
  }
}
