package graft.lineage

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-boundary checkpointing with per-partition lineage + counters
  * (north rule: "every stage writes per-partition lineage + counters and
  * checkpoints to allow exact resume"; reference analog: the pickled
  * image-vector cache, similarity_pipeline.py:60-64, and the per-stage
  * statistics table, pipeline/pipeline.py:196-211).
  *
  * A stage is complete iff its `_GRAFT_COMPLETE` marker exists; resume
  * loads the checkpoint table and never re-invokes the compute. Stage
  * outputs are written with a deterministic sort so re-runs are
  * byte-stable (SURVEY §7.4.2).
  */
final class StageManager(runDir: String)(implicit spark: SparkSession) {

  private val metricsBuf = scala.collection.mutable.ArrayBuffer[String]()
  Files.createDirectories(Paths.get(runDir))

  def dataDir(name: String) = s"$runDir/$name/data"
  private def marker(name: String) = Paths.get(s"$runDir/$name/_GRAFT_COMPLETE")

  def isComplete(name: String): Boolean = Files.exists(marker(name))

  /** Run (or resume) a stage. `sortCols` fixes the within-partition
    * order; `partitionCols` adds hive partitioning on the checkpoint.
    */
  def stage(name: String, sortCols: Seq[String],
            partitionCols: Seq[String] = Nil)(compute: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    if (isComplete(name)) {
      val df = spark.read.parquet(dataDir(name))
      log(name, "resumed", -1L, (System.nanoTime() - t0) / 1e9)
      df
    } else {
      val df = compute
      val writer = (if (sortCols.nonEmpty)
        df.sortWithinPartitions(sortCols.map(col): _*) else df)
        .write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(dataDir(name))

      // per-partition lineage: rows per output file (the audit trail a
      // 1000-executor run needs to localize a bad partition)
      val out = spark.read.parquet(dataDir(name))
      val lineage = out.groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("rows"))
      lineage.coalesce(1).write.mode("overwrite").json(s"$runDir/$name/lineage")
      // a sum over no rows is NULL: an empty stage totals 0
      val total = lineage.agg(coalesce(sum("rows"), lit(0L))).collect()(0).getLong(0)

      Files.writeString(marker(name), s"""{"rows":$total}""")
      log(name, "computed", total, (System.nanoTime() - t0) / 1e9)
      out
    }
  }

  private def log(name: String, how: String, rows: Long, secs: Double): Unit = {
    val line = f"""{"stage":"$name","how":"$how","rows":$rows,"secs":$secs%.3f}"""
    metricsBuf += line
    Files.writeString(Paths.get(s"$runDir/metrics.jsonl"),
      line + "\n", StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def metrics: Seq[String] = metricsBuf.toSeq
}
