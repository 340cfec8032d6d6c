package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming vs batch equivalence: the streaming session_window result
  * must agree with the batch gap-sessionization (q12 semantics), and
  * the streaming scorer must agree with the batch extractor.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  val sfDir = "/root/testdata/sf0.001"

  test("streaming session_window == batch gap sessionization (counts per user)") {
    import org.apache.spark.sql.streaming.Trigger
    val batchEvents = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = tempDir("graft_events")
    batchEvents.write.mode("overwrite").parquet(dir) // streaming source needs a directory
    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir)
    // complete mode: append would hold back sessions newer than the final
    // watermark (they'd only emit on a later batch that never comes)
    val q = StreamingIngest.sessionCounts(stream)
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

  test("streaming mention scorer == batch extractor totals") {
    import spark.implicits._
    val corpus = SparkEntry.docsCorpus(spark, sfDir)
    val schema = corpus.schema
    val dir = tempDir("graft_stream")
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
