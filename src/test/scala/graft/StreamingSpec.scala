package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming vs batch equivalence: the streaming session_window result
  * must agree with the batch gap-sessionization (q12 semantics), and
  * the streaming scorer must agree with the batch extractor.
  */
class StreamingSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  val sfDir = "/root/testdata/sf0.001"

  test("streaming session_window == batch gap sessionization (counts per user)") {
    import org.apache.spark.sql.streaming.Trigger
    val batchEvents = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    batchEvents.write.mode("overwrite").parquet(dir) // streaming source needs a directory
    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir)
    // complete mode: append would hold back sessions newer than the final
    // watermark (they'd only emit on a later batch that never comes)
    val q = StreamingIngest.sessionCounts(stream, gap = "30 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streaming = spark.sql(
      "SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events FROM sessions GROUP BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = SparkEntry.queries("q12_sessions")(spark, sfDir)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streaming === batch)
  }

  test("stateful streaming dedup: first-seen-wins across restarts (flatMapGroupsWithState)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_dedup_out").toString
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema

    // memory sink cannot recover from a checkpoint — the file sink can,
    // and cross-restart state restoration is exactly what this proves
    def runPhase(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = StreamingIngest.dedupStream(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    def emitted(): Set[Long] =
      spark.read.parquet(out).collect().map(_.getLong(0)).toSet

    // phase 1: key "aa" appears twice (ids 3, 1) → min id 1 survives
    Seq((3L, "aa"), (1L, "aa")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(emitted() === Set(1L))

    // phase 2 (new query run, same checkpoint → state restored): the
    // repeat of "aa" (id 0, lower than phase 1's winner!) is dropped by
    // state; the new key "bb" passes
    Seq((0L, "aa"), (4L, "bb")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(emitted() === Set(1L, 4L))
  }

  test("streaming dedup TTL: idle keys expire and re-admit; default stays exact") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ttl_out").toString
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema

    // Trigger.Once, not AvailableNow: with ProcessingTimeTimeout the
    // stateful exec reports shouldRunAnotherBatch=true unconditionally,
    // so AvailableNow schedules empty timeout batches forever. One batch
    // per phase; expired timeouts fire inside the NEXT phase's batch
    // (state + clock persist in the shared checkpoint).
    def runPhase(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = StreamingIngest.dedupStream(stream, stateTtl = Some("50 milliseconds"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    def emitted(): Set[Long] =
      spark.read.parquet(out).collect().map(_.getLong(0)).toSet

    // phase 1: key "aa" admitted
    Seq((1L, "aa")).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(emitted() === Set(1L))

    // phase 2, after the TTL: an unrelated batch fires the timeout for
    // the idle "aa" key (timeouts only fire for keys WITHOUT new data)
    Thread.sleep(200)
    Seq((9L, "bb")).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(emitted() === Set(1L, 9L))

    // phase 3: "aa" re-arrives after eviction -> re-admitted (the
    // bounded-state trade; with the default NoTimeout the restart test
    // above proves the same key is dropped forever)
    Thread.sleep(200)
    Seq((7L, "aa")).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(emitted() === Set(1L, 9L, 7L))
  }

  test("streaming near-dup TTL: idle bucket anchors expire; next arrival re-anchors") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nttl_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nttl_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_nttl_out").toString
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    val body = "the quick brown fox jumps over the lazy dog repeatedly"
    val chaff = "entirely different filler words avoiding every shared shingle window"

    // Trigger.Once for the same reason as the dedup TTL phases above
    def runPhase(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = StreamingIngest.neardupStream(stream, stateTtl = Some("50 milliseconds"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    def pairs(): Set[(Long, Long)] =
      spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // phase 1: doc 5 becomes every bucket's anchor, no pair emitted
    Seq((5L, body)).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(pairs() === Set.empty[(Long, Long)])

    // phase 2 after the TTL: chaff batch fires the idle buckets' timeouts
    Thread.sleep(200)
    Seq((2L, chaff)).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    runPhase()

    // phase 3: two copies of the body arrive -> 8 re-anchors its buckets
    // and pairs with 9 ONLY (a live anchor 5 would emit (5,8),(5,9))
    Thread.sleep(200)
    Seq((8L, body), (9L, body)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    runPhase()
    assert(pairs() === Set((8L, 9L)))
  }

  test("streaming dedup == batch exact dedup on a single batch") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_b").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamingIngest.dedupStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_full")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streaming = spark.sql("SELECT doc_id, hash FROM dedup_full")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = docs.groupBy(md5(col("text")).as("hash"))
      .agg(min("doc_id").as("doc_id"))
      .collect().map(r => (r.getLong(1), r.getString(0))).toSet
    assert(streaming === batch)
  }

  test("streaming near-dup candidates == batch minhash banding (maxBucket = 1)") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_b").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamingIngest.neardupStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("neardup_full")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streaming = spark.sql("SELECT DISTINCT a, b FROM neardup_full")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: identical buckets, anchor = bucket minimum (rank 1)
    val sigs = graft.canon.MinHash.minhashSignatures(docs)
    val batch = graft.canon.MinHash.minhashCandidates(sigs, maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming === batch)
    assert(streaming.nonEmpty)
  }

  test("portable streaming near-dup == batch portable banding at rank-1 anchors") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, min => fmin}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_p").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamingIngest.neardupStreamPortable(stream)
      .writeStream.outputMode("append").format("memory").queryName("neardup_port")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streaming = spark.sql("SELECT DISTINCT a, b FROM neardup_port")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: identical portable buckets, anchor = bucket minimum
    val keys = graft.canon.MinHash.portableBandKeys(
      graft.canon.MinHash.portableMinhashSignatures(docs), bands = 4, numHashes = 16)
    val anchors = keys.groupBy("band", "bkey").agg(fmin("doc_id").as("anchor"))
    val batch = keys.join(anchors, Seq("band", "bkey"))
      .where(col("doc_id") =!= col("anchor"))
      .selectExpr("least(doc_id, anchor) AS a", "greatest(doc_id, anchor) AS b")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming === batch)
    assert(streaming.nonEmpty)
  }

  test("streaming mention scorer == batch extractor totals") {
    import spark.implicits._
    val corpus = SparkEntry.docsCorpus(spark, sfDir)
    val schema = corpus.schema
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    corpus.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(schema).parquet(dir).as[graft.core.CorpusRow]
    val q = StreamingIngest.scoredStream(stream, SparkEntry.docDict)
      .writeStream.outputMode("append").format("memory").queryName("scored").start()
    q.processAllAvailable(); q.stop()
    val streamTotal = spark.sql("SELECT sum(total_score) FROM scored")
      .collect()(0).getLong(0)

    val frames = SparkEntry.docFrames(spark, sfDir)
    val batchTotal = frames.select(
      SparkEntry.docLabels.map(l => sum(col(l))).reduce(_ + _).as("s"))
      .collect()(0).getLong(0)
    assert(streamTotal === batchTotal)
  }
}
