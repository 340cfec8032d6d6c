package graft

import graft.ops.{Dedup, GraphRank}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Random-walk corpus generation and multi-pass sorted-neighborhood
  * blocking.
  */
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

  test("sortedNeighborhood: pass 1 catches tail edits, pass 2 catches head edits") {
    val base = (1 to 30).map(i => s"alpha beta gamma delta epsilon zeta eta theta iota kappa w$i")
    val docs = (base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ Seq(
      // 100/101: same head, edited tail -> adjacent under the PREFIX key
      (100L, "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa"),
      (101L, "zulu yankee xray whiskey victor uniform tango sierra romeo quebec oscar"),
      // 200/201: edited head, same tail -> only the reversed-SUFFIX key
      // sorts them together (their prefixes land in different blocks)
      (200L, "mike november lima kilo juliett india hotel golf foxtrot echo delta charlie"),
      (201L, "bravo different start kilo juliett india hotel golf foxtrot echo delta charlie")))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, win = 2).localCheckpoint(true)
    val p1 = pairs.where(col("a") === 100L && col("b") === 101L).collect()
    assert(p1.length === 1 && p1(0).getLong(0) === 1L, "prefix pass missed the tail-edit pair")
    val p2 = pairs.where(col("a") === 200L && col("b") === 201L).collect()
    assert(p2.length === 1 && p2(0).getLong(0) === 2L, "suffix pass missed the head-edit pair")
    // exact gram arithmetic: doc 100/101 share 8 of their 9 distinct
    // word-3-grams (11 words -> 9 grams, one differs) -> 8/10 = 800‰
    val r = p1(0)
    assert(r.getLong(3) === 8L && r.getLong(4) === 10L && r.getLong(5) === 800L,
      s"gram counts off: $r")
  }

  test("sortedNeighborhood: each unordered pair appears once, lowest pass wins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.sortedNeighborhoodPairs(docs).localCheckpoint(true)
    val dup = pairs.groupBy("a", "b").count().where(col("count") > 1).count()
    assert(dup === 0, "a pair was emitted by both passes")
    assert(pairs.where(col("a") >= col("b")).count() === 0, "pair not normalized a < b")
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

  test("hashedTfTopK: integer dots match a direct per-pair computation") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val got = graft.ops.Retrieval.hashedTfTopK(docs, queryDoc = 0L, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 10 && !got.contains(0L))
    // recompute the dot for the returned docs straight from the token
    // streams (no bucket join) — same vectors, independent plan
    val tf = graft.ops.Retrieval.hashedTf(docs).localCheckpoint(true)
    val q = tf.where(col("doc_id") === 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val direct = tf.where(col("doc_id").isInCollection(got.keys.toSeq))
      .collect().groupBy(_.getLong(0)).map { case (d, rows) =>
        d -> rows.map(r => q.getOrElse(r.getLong(1), 0L) * r.getLong(2)).sum
      }
    got.foreach { case (d, dot) =>
      assert(direct(d) === dot, s"doc $d: joined dot $dot != direct ${direct(d)}")
    }
  }
}
