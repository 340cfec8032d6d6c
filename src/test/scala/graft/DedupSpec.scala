package graft

import graft.canon.MinHash
import org.scalatest.funsuite.AnyFunSuite

/** MinHash near-dup candidates with the hot-bucket cap's recall guarantee
  * and the portable signature arithmetic.
  */
class DedupSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic fixture corpus: clusters of near-identical docs plus
    * unique chaff — diverse enough that LSH buckets stay small.
    */
  def corpus(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val base = s"the quick brown fox jumps over the lazy dog " +
        s"variant ${i % 7} with extra trailing content token$i"
      (i.toLong, base, "en", "s", base.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

  test("minhash candidate pairs: capped == uncapped when buckets fit the cap") {
    val docs = corpus(60)
    val sigs = MinHash.minhashSignatures(docs)
    val uncapped = MinHash.minhashCandidates(sigs, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = MinHash.minhashCandidates(sigs, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("hot bucket: K identical docs stay one connected duplicate group under the cap") {
    // 200 identical docs (way above the cap of 4) + chaff
    val hot = (0 until 200).map(i =>
      (i.toLong, "identical boilerplate body repeated verbatim everywhere", "en", "s", 50L))
    val docs = hot.toDF("doc_id", "text", "lang", "source", "n_chars")
    val sigs = MinHash.minhashSignatures(docs)
    val pairs = MinHash.minhashCandidates(sigs, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // linear, not quadratic: <= cap * K pairs instead of K^2/2 = 19900
    assert(pairs.length <= 4 * 200)
    // every non-anchor doc is still reachable from a low anchor -> the
    // duplicate GROUP survives transitive closure
    val covered = pairs.map(_._2).toSet ++ pairs.map(_._1).toSet
    assert(covered === (0L until 200L).toSet)
  }

  test("portable minhash: planted near-dup found, signature arithmetic bounded") {
    // doc 0/1 differ by one trailing token -> most shingles shared;
    // doc 2 is unrelated chaff
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today", "en", "s", 0L),
      (1L, "the quick brown fox jumps over the lazy dog again and again tonite", "en", "s", 0L),
      (2L, "completely different material with zero shared shingle windows here", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val sigs = MinHash.portableMinhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.size === 3)
    // every slot is a value mod 2^31-1 (never the Long.MaxValue sentinel)
    sigs.values.foreach { s =>
      assert(s.length === 16)
      assert(s.forall(v => v >= 0L && v < 2147483647L))
    }
    def agree(a: Long, b: Long): Int =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
    assert(agree(0L, 1L) >= 10)
    assert(agree(0L, 2L) < 10 && agree(1L, 2L) < 10)
  }
}
