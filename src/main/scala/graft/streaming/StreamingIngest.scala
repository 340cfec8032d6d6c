package graft.streaming

import graft.core.CorpusRow
import graft.extract.{CompiledDict, DictAnalyzer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface: the construction pipeline's frame loop
  * re-expressed as a stream (SURVEY §2 checklist, streaming row).
  * The reference's per-frame loop is conceptually a stream with
  * data-dependent session windows (pipeline/pipeline.py:71-190); here:
  *
  *  - [[scoredStream]]: streaming mention scoring — the same compiled
  *    per-partition dictionary, applied to a streaming Dataset;
  *  - [[sessionCounts]]: event sessionization with `session_window` +
  *    watermark (the mosaic-session analog with late-data handling).
  */
object StreamingIngest {

  /** Streaming mention scores: works on any streaming Dataset[CorpusRow]
    * (e.g. `spark.readStream.schema(...).parquet(dir)`).
    */
  def scoredStream(stream: Dataset[CorpusRow], dict: Seq[(String, String)])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    stream.mapPartitions { rows =>
      val compiled = CompiledDict(dict)
      rows.map { r =>
        val counts = compiled.countAll(r.content)
        val scores = counts.zipWithIndex.map { case (c, i) =>
          DictAnalyzer.score(
            DictAnalyzer.classifierProb(c),
            DictAnalyzer.coverage(c, compiled.terms(i).length, r.content.length))
        }
        (r.repo, r.path, scores.sum, counts.sum)
      }
    }.toDF("repo", "path", "total_score", "total_mentions")
  }

  /** Session windows over an event stream (30-minute gap, 1-hour
    * watermark for late data): streaming twin of the batch q12
    * sessionization.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("n_events"))
}
