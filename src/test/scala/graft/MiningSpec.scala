package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Greedy coverage selection. */
class MiningSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"

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
