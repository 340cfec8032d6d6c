package graft

import graft.ops.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Counting sketches: HLL estimate accuracy + mergeability, Count-Min
  * overestimate invariant + mergeability, partition invariance of both
  * (the determinism contract the oracle gate relies on).
  */
class SketchSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("hll: raw estimate lands within the m=64 error regime on 5k distinct keys") {
    val df = (0 until 5000).map(i => s"key_$i").toDF("text")
    val row = Sketches.hllDistinct(df, col("text")).collect().head
    val est = row.getLong(2)
    // stderr 1.04/sqrt(64) ~ 13%; one deterministic draw, assert 25%
    assert(math.abs(est - 5000.0) / 5000.0 < 0.25, s"estimate $est too far from 5000")
  }

  test("hll: duplicates do not move the sketch (distinct semantics)") {
    val uniq = (0 until 800).map(i => s"k$i").toDF("text")
    val duped = ((0 until 800) ++ (0 until 800) ++ (0 until 300))
      .map(i => s"k$i").toDF("text")
    val a = Sketches.hllDistinct(uniq, col("text")).collect().head
    val b = Sketches.hllDistinct(duped, col("text")).collect().head
    assert(a === b)
  }

  test("hll: register table of a union is the elementwise max of the shards'") {
    val h1 = (0 until 600).map(i => s"x$i").toDF("text")
    val h2 = (400 until 1100).map(i => s"x$i").toDF("text")
    val all = (0 until 1100).map(i => s"x$i").toDF("text")
    val merged = Sketches.hllRegisters(h1, col("text"))
      .unionAll(Sketches.hllRegisters(h2, col("text")))
      .groupBy("register").agg(max("max_rho").as("max_rho"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Sketches.hllRegisters(all, col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === direct)
  }

  test("cms: estimate >= true count for every key, exact for dominant keys") {
    val words = Seq.fill(500)("alpha") ++ Seq.fill(120)("beta") ++
      (0 until 200).map(i => s"rare$i")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = Sketches.cmsEstimate(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (w, t, e) => assert(e >= t, s"$w: est $e < true $t") }
    // total collision mass per depth row is bounded by N; the min over
    // 4 independent salts keeps the dominant keys' overestimate tiny
    val byWord = got.map(g => g._1 -> (g._2, g._3)).toMap
    assert(byWord("alpha")._1 === 500L)
    assert(byWord("alpha")._2 - byWord("alpha")._1 <= 10L)
  }

  test("cms: counter grids merge by elementwise sum") {
    val d1 = Seq((1L, "a b c a"), (2L, "b d e")).toDF("doc_id", "text")
    val d2 = Seq((3L, "a c f"), (4L, "g g h")).toDF("doc_id", "text")
    val all = Seq((1L, "a b c a"), (2L, "b d e"), (3L, "a c f"), (4L, "g g h"))
      .toDF("doc_id", "text")
    val merged = Sketches.cmsCounters(d1).unionAll(Sketches.cmsCounters(d2))
      .groupBy("depth", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Sketches.cmsCounters(all)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === direct)
  }

  test("bloom: no false negatives — every inserted key tests positive") {
    val keys = (0 until 500).map(i => s"gram$i").toDF("g")
    val bits = Sketches.bloomBits(keys, col("g"))
    val probe = (0 until 500).map(i => (i.toLong, s"gram$i")).toDF("doc_id", "g")
    val neg = Sketches.bloomContains(probe, col("g"), bits)
      .where(!col("maybe_member")).count()
    assert(neg === 0L, s"$neg inserted keys tested negative")
  }

  test("bottom-k: merges by concatenation; KMV estimates distincts") {
    val docs = (0 until 2000).map(i => (i.toLong, s"content piece $i"))
      .toDF("doc_id", "text")
    val all = Sketches.bottomK(docs, col("text"), 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val merged = Sketches.bottomK(docs.where(col("doc_id") < 1000), col("text"), 50)
      .unionAll(Sketches.bottomK(docs.where(col("doc_id") >= 1000), col("text"), 50))
      .orderBy("h", "doc_id").limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(merged === all)
    val est = Sketches.bottomKDistinct(docs, col("text"), 64)
      .collect().head.getLong(1)
    assert(math.abs(est - 2000.0) / 2000.0 < 0.3, s"KMV estimate $est vs 2000")
  }

  test("sketches are partition-invariant") {
    val docs = (0 until 300).map(i => (i.toLong, s"w${i % 40} w${i % 17} tail$i"))
      .toDF("doc_id", "text")
    val a = Sketches.hllDistinct(docs, col("text")).collect().head
    val b = Sketches.hllDistinct(docs.repartition(13), col("text")).collect().head
    assert(a === b)
    val c = Sketches.cmsEstimate(docs).orderBy("word").collect().toSeq
    val d = Sketches.cmsEstimate(docs.repartition(7)).orderBy("word").collect().toSeq
    assert(c === d)
  }

  test("hist quantiles: ceil-rank bin picks, hand-checked") {
    // lang A lengths 10,60,120,130 -> bins 0,1,2,2 (width 50), n=4:
    // p50 needs cum >= 2 -> bin 1 (edge 50); p90 needs cum >= 3.6 ->
    // bin 2 (edge 100); p99 likewise 100. lang B is a single row: every
    // percentile reads its only bin.
    val docs = Seq((1L, "A", 10L), (2L, "A", 60L), (3L, "A", 120L),
      (4L, "A", 130L), (5L, "B", 260L))
      .toDF("doc_id", "lang", "n_chars")
    val got = Sketches.histQuantiles(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("A") === ((50L, 100L, 100L)))
    assert(got("B") === ((250L, 250L, 250L)))
    // mergeability: partitioning never moves a pick
    val again = Sketches.histQuantiles(docs.repartition(5)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === again)
  }
}
