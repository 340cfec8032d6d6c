package graft

import graft.ops.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** PII scrubbing semantics. */
class ScrubSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("piiScrub redacts emails and phones with exact counts") {
    val docs = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org or call 555-867-5309 ok"),
      (2L, "no pii here at all"),
      (3L, "a@b.co and c_d%e@f-g.info twice")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L)._1 === "mail me at <EMAIL> or call <PHONE> ok")
    assert(out(1L)._2 === 1 && out(1L)._3 === 1)
    assert(out(2L) === (("no pii here at all", 0, 0)))
    assert(out(3L)._1 === "<EMAIL> and <EMAIL> twice")
    assert(out(3L)._2 === 2)
  }

  test("phone-shaped substring inside an email is not double-counted") {
    val docs = Seq((1L, "reach 555-123-4567@example.com now")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(docs).collect()(0)
    assert(r.getString(1) === "reach <EMAIL> now")
    assert(r.getInt(2) === 1) // one email
    assert(r.getInt(3) === 0) // the phone count runs on the email-scrubbed text
  }
}
