package graft

import graft.canon.MinHash
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family semantics + the hot-bucket cap's recall guarantee. */
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

  test("simhash pairs respect the Hamming bound and the a<b orientation") {
    val docs = corpus(50)
    val got = Dedup.simhashPairs(docs, maxHamming = 8).collect()
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
    assert(got.forall(r => r.getAs[Number]("hamming").intValue <= 8))
  }

  test("embedding near-dup finds planted duplicate vectors") {
    val vecs = (0 until 40).map { i =>
      val base = Array.tabulate(16)(d => math.sin(i * 17 + d).toFloat)
      (i.toLong, base.toSeq, 0)
    } :+ ((99L, Array.tabulate(16)(d => math.sin(0 * 17 + d).toFloat).toSeq, 0))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDup(df, threshold = 0.999)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("0", "99")))
  }

  test("portable embedding near-dup: planted duplicates found, cap keeps pairs linear") {
    // 40 spread vectors + an exact copy of vector 0 under a high id:
    // identical vectors share every sign bucket, so the pair must
    // survive the bucketing and verify at cosine ~ 1
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 17 + d)).toSeq, 0)
    } :+ ((99L, Array.tabulate(16)(d => math.sin(0 * 17 + d)).toSeq, 0))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPortable(df, threshold = 0.999, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 99L && p._3 > 0.999))
    // hot bucket: 150 identical vectors under cap 4 stay linear and
    // the whole group remains reachable from the low anchors
    val hot = (0 until 150).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(d).abs + 1.0).toSeq, 0))
    val hotPairs = Dedup.embeddingNearDupPortable(
      hot.toDF("vec_id", "embedding", "label"),
      threshold = 0.999, dims = 16, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hotPairs.length <= 4 * 150)
    assert((hotPairs.map(_._1).toSet ++ hotPairs.map(_._2).toSet)
      === (0 until 150).map(_.toLong).toSet)
  }

  test("semantic dedup: planted duplicates drop to the smallest-id keeper") {
    // 40 spread vectors + two exact copies of vector 0 under high ids:
    // identical vectors share a cluster (same argmin), so both copies
    // must drop with dup_of = 0 and vector 0 itself survives
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 17 + d)).toSeq, 0)
    } ++ Seq(99L, 100L).map(id =>
      (id, Array.tabulate(16)(d => math.sin(0 * 17 + d)).toSeq, 0))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val dropped = Dedup.semanticDedup(df, tau = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dropped(99L) === 0L && dropped(100L) === 0L)
    assert(!dropped.contains(0L))
  }

  test("bpe token estimate: whitespace tokens + ceil(len/4) sub-tokens") {
    // "internationalization" -> ceil(20/4)=5; "a" -> 1; "cat" -> 1
    val df = Seq("internationalization a cat").toDF("text")
    val got = df.select(TextAnalysis.bpeTokenEstimate.as("n")).as[Long].collect()(0)
    assert(got === 7L)
  }

  test("language id: fixed-order argmax, und on zero hits") {
    val docs = Seq(
      (1L, "the thing and the other thing", "x", "s", 0L), // en n-grams
      (2L, "zzzz qqqq", "x", "s", 0L) // no profile hits
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.languageId(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got(1L)._1 === "en" && got(1L)._2 > 0)
    assert(got(2L) === ("und", 0))
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
    val pairs = Dedup.portableMinhashPairs(docs, minMatch = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) >= 10L && pairs((0L, 1L)) <= 16L)
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("portable minhash: identical docs agree on all slots; cap keeps groups") {
    val hot = (0 until 120).map(i =>
      (i.toLong, "identical boilerplate body repeated verbatim everywhere", "en", "s", 0L))
    val docs = (hot :+ ((999L, "lone unique document unlike any other in this corpus", "en", "s", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.portableMinhashPairs(docs, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // capped: every member pairs with a low anchor, all 16/16 agreement,
    // and transitive closure keeps the group connected
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(members === (0 until 120).map(_.toLong).toSet)
    assert(pairs.forall(_._3 === 16L))
    assert(!members.contains(999L))
  }

  test("portable simhash: identical docs at hamming 0, disjoint vocab apart") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0L),
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0L),
      (2L, "uno dos tres cuatro cinco seis siete ocho nueve", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.portableSimhashPairs(docs, maxHamming = 16).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // identical token stream -> identical 16-bit signature
    assert(pairs((0L, 1L)) === 0)
    // disjoint vocab -> independent signatures; pair only reported if it
    // shares a nibble band, and then with a strictly positive hamming
    pairs.filterKeys(p => p._2 == 2L).values.foreach(h => assert(h > 0))
  }

  test("duplicate spans: planted cross-doc span found maximal, within-doc repeats ignored") {
    val common = (1 to 12).map(i => s"c$i").mkString(" ") // 12 shared words
    val docs = Seq(
      (1L, s"a1 a2 $common a3 a4"),              // span at word 3
      (2L, s"b1 $common b2 b3 b4 b5"),           // same span at word 2
      (3L, (1 to 15).map(i => s"z$i").mkString(" ")), // unique chaff
      // a 10-word tile repeated WITHIN one doc only: never a cross-doc span
      (4L, ((1 to 10) ++ (1 to 10)).map(i => s"r$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // a shared 12-word span = 3 stride-1 grams merged into ONE maximal island
    assert(spans.toSet === Set((1L, 3L, 12L, 3L, 2L), (2L, 2L, 12L, 3L, 1L)))
  }

  test("remove duplicate spans: keep-first scrub drops only the non-canonical copy") {
    val common = (1 to 12).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $common a3 a4"),
      (2L, s"b1 $common b2 b3 b4 b5"),
      (3L, common) // fully covered by the span -> scrubs to empty, not null
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, k = 10).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got(0) === (1L, s"a1 a2 $common a3 a4")) // canonical owner keeps it
    assert(got(1) === (2L, "b1 b2 b3 b4 b5"))       // span words removed
    assert(got(2) === (3L, ""))                     // empty string, never null
  }

  test("delta dedup: corpus match beats within-delta keep-first, fresh admits") {
    val c = Seq(
      (0L, "identical boilerplate body repeated verbatim everywhere", "en", "s", 0L),
      (1L, "some other corpus resident document with plenty of words", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Seq(
      (100L, "identical boilerplate body repeated verbatim everywhere", "en", "s", 0L),
      (101L, "a brand new never seen passage with its own vocabulary", "en", "s", 0L),
      (102L, "a brand new never seen passage with its own vocabulary", "en", "s", 0L),
      (103L, "zz", "en", "s", 0L)) // shorter than the shingle: no signature
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val verdicts = Dedup.deltaAdmit(c, d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts === Map(100L -> "dup_corpus", 101L -> "admit",
      102L -> "dup_delta", 103L -> "admit"))
    val pairs = Dedup.deltaPairs(c, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSet === Set((100L, 0L, 16L)))
  }

  test("canonicalize is transitively consistent: one keeper per chain") {
    // pair-at-a-time dropping would keep both 1 and 3 of the chain
    // 1~2, 2~3; CC canonicalization keeps exactly one (the min id)
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.canonicalize(docs, pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 5L, false)))
  }
}
