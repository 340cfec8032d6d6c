package graft

import graft.core.GraftSession
import graft.corpus.CorpusGen
import graft.pipeline.KgPipeline
import org.apache.spark.metrics.source.CodegenMetrics

/** CLI entry point (spark-submit analog of the reference's
  * `python main.py analyze`): generate/read the corpus, run the
  * construction pipeline, materialize the graph tables, print counts.
  *
  * Usage: runMain graft.Main <rows> <nRepos> <cores> <outDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 10000L
    val nRepos = if (args.length > 1) args(1).toInt else 10
    val cores = if (args.length > 2) args(2).toInt else 8
    val outDir = if (args.length > 3) args(3) else "/tmp/graft_out"

    implicit val spark: org.apache.spark.sql.SparkSession =
      GraftSession(cores, "graft-analyze")
    // utilization accounting: Σ task time vs cores × wall
    val taskTime = new java.util.concurrent.atomic.AtomicLong()
    val jobCount = new java.util.concurrent.atomic.AtomicLong()
    val gcTime = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          taskTime.addAndGet(te.taskMetrics.executorRunTime)
          gcTime.addAndGet(te.taskMetrics.jvmGCTime)
        }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })
    // Janino compiles (codegen cache misses) over the run
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val corpus = CorpusGen.corpus(spark, CorpusGen.Config(rows, nRepos, partitions = cores * 2))
    val mode = if (args.length > 4) args(4) else "full"
    if (mode == "ckpt") {
      // checkpointed run with per-stage metrics (lineage/StageManager)
      val tr = KgPipeline.runCheckpointed(corpus, s"$outDir/run", exactKnn = false)
      val n = tr.count()
      val secs0 = (System.nanoTime() - t0) / 1e9
      println(f"[graft] ckpt rows=$rows triples=$n wall=$secs0%.2fs rate=${n / secs0}%.0f t/s")
      scala.io.Source.fromFile(s"$outDir/run/metrics.jsonl").getLines().foreach(println)
      spark.stop(); return
    }
    val result = if (mode == "phase1") KgPipeline.run(corpus)
                 else KgPipeline.runFull(corpus, exactKnn = false)
    KgPipeline.write(result, outDir)
    val secs = (System.nanoTime() - t0) / 1e9

    // empty corpus ⇒ empty partitioned dir ⇒ schema inference would fail
    val triples = scala.util.Try(spark.read.parquet(s"$outDir/triples"))
    val nTriples = triples.map(_.count()).getOrElse(0L)
    // files per table: a write layout regression shows in every run
    val files = Seq("triples", "frames", "nodes")
      .map(t => s"$t:${KgPipeline.dataFiles(spark, s"$outDir/$t").size}").mkString(",")
    println(f"[graft] rows=$rows repos=$nRepos cores=$cores wall=$secs%.2fs " +
      f"triples=$nTriples rate=${nTriples / secs}%.0f triples/sec " +
      f"jobs=${jobCount.get} taskSec=${taskTime.get / 1000.0}%.0f " +
      s"codegenCompiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
      f"util=${taskTime.get / 1000.0 / (cores * secs) * 100}%.0f%% " +
      f"gcSec=${gcTime.get / 1000.0}%.0f files=$files")
    triples.foreach(_.groupBy("pred").count().orderBy("pred").show(20, truncate = false))
    spark.stop()
  }
}
