package graft

import graft.ops.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-level TextAnalysis statistics: per-doc token entropy and the
  * top-k vocabulary with its deterministic tie-break.
  */
class MixingSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("entropyScore: hand-computed milli-bit entropies") {
    val docs = Seq(
      (0L, "a a a a"),      // uniform single token → 0 bits
      (1L, "a b"),          // 2 equiprobable → exactly 1000 milli-bits
      (2L, "a a b b c c d d") // 4 equiprobable → exactly 2000 milli-bits
    ).toDF("doc_id", "text")
    val out = TextAnalysis.entropyScore(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).toSeq
    assert(out === Seq((0L, 4L, 1L, 0L), (1L, 2L, 2L, 1000L),
      (2L, 8L, 4L, 2000L)))
  }

  test("vocabTopK: frequency order with deterministic tie-break at the k boundary") {
    // b and c tie at 2; k=2 must keep (a,3) and (b,2) — never c
    val docs = Seq((1L, "a a a b"), (2L, "b c"), (3L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabTopK(docs, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("a", 3L), ("b", 2L)))
  }
}
