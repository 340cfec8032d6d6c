package graft

import graft.corpus.CorpusGen
import graft.materialize.Upsert
import graft.pipeline.KgPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental ingestion == full rebuild, end to end.
  *
  * Every similarity/cluster stage is inspection-scoped (kNN, DBSCAN,
  * mosaics all group by inspection), so upserting a new repo's pipeline
  * output onto an existing graph must equal rebuilding from the union
  * corpus — the property that makes the reference's per-inspection
  * add/retract flow (datastore.py:51-58) sound, and what lets a 100 TB
  * deployment ingest inspections incrementally instead of recomputing
  * the world.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  private val keys = Seq("subj", "pred", "obj")
  private def tset(df: DataFrame): Set[(String, String, String)] =
    df.select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private lazy val corpus =
    CorpusGen.corpus(spark, CorpusGen.Config(6000, 4, partitions = 8)).persist()
  private lazy val full = KgPipeline.runFull(corpus).triples.persist()
  private lazy val repos = corpus.select("repo").distinct().orderBy("repo")
    .collect().map(_.getString(0)).toSeq

  test("upserting a new repo batch's output == full rebuild (exact set equality)") {
    val (ra, rb) = repos.splitAt(repos.length / 2)
    val tA = KgPipeline.runFull(corpus.filter(col("repo").isin(ra: _*))).triples
    val tB = KgPipeline.runFull(corpus.filter(col("repo").isin(rb: _*))).triples
    val merged = Upsert.upsert(tA, tB, keys)
    assert(tset(merged) === tset(full))
  }

  test("retract + re-add one repo's inspections restores the graph exactly") {
    val tR = KgPipeline.runFull(corpus.filter(col("repo") === repos.head)).triples
      .persist()
    val insIds = tR.where(col("pred") === "HAS_INSPECTION")
      .select("obj").collect().map(_.getString(0).stripPrefix("i_").toLong).toSeq
    assert(insIds.nonEmpty)
    val retracted = Upsert.retractInspections(full, insIds)
    val fullSet = tset(full)
    val retractedSet = tset(retracted)
    assert(retractedSet.subsetOf(fullSet) && retractedSet.size < fullSet.size)
    assert(tset(Upsert.upsert(retracted, tR, keys)) === fullSet)
  }

  test("upsert: a key repeated in existing and incoming adds only the new key") {
    import spark.implicits._
    // `v` tells the copies of a key apart: existing rows are kept as they
    // are, repeats included, and no incoming row of a live key gets in
    val existing = Seq(("a", "P", "x", 1), ("a", "P", "x", 2), ("b", "P", "y", 3))
    val incoming = Seq(("a", "P", "x", 7), ("a", "P", "x", 8), ("c", "P", "z", 9))
    val cols = keys :+ "v"
    val merged = Upsert.upsert(existing.toDF(cols: _*), incoming.toDF(cols: _*), keys)
      .as[(String, String, String, Int)].collect().toSeq
    assert(merged.sorted === (existing :+ (("c", "P", "z", 9))).sorted)
  }

  test("asOfSnapshot: latest-op-wins time travel over an add/del ledger") {
    import spark.implicits._
    // (subj, op, ts_us, event_id): X add@10 del@20; Y add@10 del@20 add@30;
    // Z is a same-timestamp tie broken by event_id desc (del wins);
    // W exists only in the future
    val ledger = Seq(
      ("X", "add", 10L, 1L), ("X", "del", 20L, 2L),
      ("Y", "add", 10L, 3L), ("Y", "del", 20L, 4L), ("Y", "add", 30L, 5L),
      ("Z", "add", 10L, 6L), ("Z", "del", 10L, 7L),
      ("W", "add", 50L, 8L)
    ).toDF("subj", "op", "ts_us", "event_id")
      .withColumn("pred", lit("P")).withColumn("obj", lit("o"))
    def at(t: Long): Map[String, Long] =
      Upsert.asOfSnapshot(ledger, t).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(at(15L) === Map("X" -> 10L, "Y" -> 10L)) // Z's tie-break del wins
    assert(at(25L) === Map.empty)                   // both deleted, W not yet
    assert(at(35L) === Map("Y" -> 30L))             // re-add resurfaces Y
    assert(at(60L) === Map("Y" -> 30L, "W" -> 50L))
  }
}
