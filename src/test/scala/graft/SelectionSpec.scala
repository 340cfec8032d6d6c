package graft

import graft.ops.Selection
import org.scalatest.funsuite.AnyFunSuite

/** Data-selection operators: NB quality classifier sign/separation,
  * DSIR importance ordering + selection, exact stratified sampling.
  */
class SelectionSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def doc(id: Long, text: String, source: String) =
    (id, text, "en", source, text.length.toLong)

  test("nb quality: class-typical vocabulary separates, prediction matches sign") {
    // trainPermille = 1000: every doc trains, so class counts are fully
    // controlled by the fixture (no dependence on md5 bucket draws)
    val docs = Seq(
      doc(1L, "good clean prose flows here", "pos"),
      doc(2L, "good clean text reads well", "pos"),
      doc(3L, "spam junk noise garbage here", "neg"),
      doc(4L, "spam junk clutter noise mess", "neg"),
      // score-only probes: pure positive vocab vs pure negative vocab
      doc(5L, "good clean good clean", "probe"),
      doc(6L, "spam junk spam junk", "probe")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Selection.nbQualityScore(docs, Seq("pos"), trainPermille = 1000)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(got(5)._1 > 0 && got(5)._2 === 1) // positive vocabulary
    assert(got(6)._1 < 0 && got(6)._2 === 0) // negative vocabulary
    assert(got(5)._1 > got(6)._1)
    // the training docs themselves classify to their own class
    assert(got(1)._2 === 1 && got(3)._2 === 0)
  }

  test("nb quality: empty training slice fails with a clear message") {
    val docs = Seq(doc(1L, "a b", "s")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      Selection.nbQualityScore(docs, Seq("s"), trainPermille = 0).collect()
    }
    assert(e.getMessage.contains("empty training slice"))
  }

  test("dsir: target-like grams weigh above off-target grams; top-k selects them") {
    val docs = Seq(
      doc(1L, "alpha beta gamma alpha beta", "tgt"),
      doc(2L, "alpha beta gamma delta", "tgt"),
      // raw-only docs: one echoing the target grams, one pure chaff
      doc(3L, "alpha beta gamma alpha beta", "web"),
      doc(4L, "zeta eta theta iota kappa", "web"),
      doc(5L, "mu nu xi omicron pi rho", "web")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = Selection.dsirWeights(docs, Seq("tgt"), buckets = 1024L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(3) > w(4) && w(3) > w(5)) // target-like content outranks chaff
    assert(w(1) > w(4))
    val kept = Selection.dsirSelect(docs, Seq("tgt"), k = 3, buckets = 1024L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L)) // the three target-gram docs
  }

  test("stratified sample: exact ceil(n*rate) per stratum, deterministic, content-blind") {
    val docs = ((0L until 10L).map(i => doc(i, s"text $i", "A")) ++
      (10L until 13L).map(i => doc(i, s"text $i", "B")) ++
      Seq(doc(13L, "only one", "C")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Selection.stratifiedSample(docs, permille = 200)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    // ceil(10*.2)=2, ceil(3*.2)=1, ceil(1*.2)=1 — no stratum ever empties
    assert(bySrc === Map("A" -> 2, "B" -> 1, "C" -> 1))
    // determinism: a different partitioning keeps the identical kept set
    val again = Selection.stratifiedSample(docs.repartition(7), permille = 200)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet === again.toSet)
  }
}
