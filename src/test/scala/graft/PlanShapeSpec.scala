package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests.
  *
  * docs/PLANS.md captures the physical plans as point-in-time evidence;
  * this spec pins the scale-critical properties as assertions so a
  * refactor cannot silently regress them: filter pushdown + column
  * pruning at the parquet scan, partial+final hash aggregation,
  * broadcast joins for dimensions and semi/anti joins, global top-k as
  * TakeOrderedAndProject, and — across the ENTIRE query surface — no
  * unintended cartesian / broadcast-nested-loop join and no
  * single-partition exchange.
  *
  * Plans are built (analyzed + optimized + planned), not executed; the
  * assertions read the physical plan string. AQE wrapping is fine: the
  * initial plan already shows scan pushdown, join strategies and
  * exchange placement.
  */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val planCache = scala.collection.mutable.Map.empty[String, String]
  private def plan(name: String): String =
    planCache.getOrElseUpdate(name,
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString)

  /** Exact verifiers over a deterministic bounded candidate set (the
    * all-pairs cosine of the embeddings fixture): the nested-loop side
    * is a small broadcast by design, never the corpus.
    */
  private val boundedAllPairs = Set("q27_cosine_pairs")

  /** Streaming entries return a memory-sink scan (the interesting plan
    * is the stream side, proven in StreamingSpec) and invoking them
    * runs a whole micro-batch query — excluded from the batch audits.
    */
  private val batchNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("streaming_"))

  test("no query plan contains an unintended cartesian / nested-loop join") {
    assert(boundedAllPairs.subsetOf(SparkEntry.queries.keySet),
      s"exemption names no query: ${(boundedAllPairs -- SparkEntry.queries.keySet).mkString(", ")}")
    val offenders = batchNames.filterNot(boundedAllPairs).filter { n =>
      val p = plan(n)
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    assert(offenders.isEmpty,
      s"unexpected cartesian/BNLJ in: ${offenders.mkString(", ")}")
  }

  test("no single-partition exchange outside the bounded prefix-sum") {
    val offenders = batchNames.filter(n => plan(n).contains("SinglePartition"))
    assert(offenders.isEmpty,
      s"unexpected single-partition exchange in: ${offenders.mkString(", ")}")
  }

  test("q01: pushdown, pruning, partial agg, vectorized scan") {
    val p = plan("q01_pricing_agg")
    assert(p.contains("PushedFilters: [") &&
      p.contains("LessThanOrEqual(l_shipdate"),
      "shipdate filter must reach the parquet scan")
    assert(!p.contains("l_comment"),
      "unreferenced lineitem columns must be pruned from the scan")
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
    assert(p.contains("Batched: true"), "scan should use the vectorized reader")
  }

  test("q02: nation and region dimensions join as broadcasts") {
    val p = plan("q02_region_rollup")
    assert(p.split("BroadcastHashJoin").length >= 3,
      "customer⋈nation⋈region should broadcast both dimension sides")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join expected in the dimension rollup")
  }

  test("semi/anti joins build the subquery side as a broadcast") {
    val s = plan("q09_semijoin")
    assert(s.contains("LeftSemi") && s.contains("BroadcastHashJoin"))
    val a = plan("q10_antijoin")
    assert(a.contains("LeftAnti") && a.contains("BroadcastHashJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject, not sort+limit") {
    for (n <- Seq("q03_topk_orders", "kg_topk_quality"))
      assert(plan(n).contains("TakeOrderedAndProject"),
        s"$n should plan the global top-k as TakeOrderedAndProject")
  }
}
