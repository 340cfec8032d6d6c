package graft

/** One scaling-protocol leg in a dedicated JVM (launched by
  * [[Bench]] under `taskset -c 0..N-1`).
  *
  * Why a subprocess: an in-JVM `local[N]` session on a 32-vCPU host
  * UNDERSTATES scaling — the "2-core" leg silently borrows idle host
  * cores for GC threads (ParallelGC sizes its pool from
  * availableProcessors = 32), JIT compilation, shuffle/netty IO and the
  * driver, while the 8-core leg's borrowing is proportionally smaller.
  * Pinning each leg's whole JVM to exactly N CPUs makes
  * availableProcessors, the GC/JIT pools and every helper thread live
  * inside the leg's core budget — the faithful single-box model of an
  * N-core-executor vs 4N-core-executor cluster, which is what the north
  * rule's two-cluster-size criterion substitutes for in this sandbox.
  *
  * Prints one `SCALELEG <seconds> <triples>` line on stdout.
  */
object ScaleLeg {
  def main(args: Array[String]): Unit = {
    val Array(rows, repos, cores, outDir) = args.take(4)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_SCALE_AQE", "0") == "1"
    val spark = Bench.session(cores.toInt, aqe)
    // diagnostics mirroring graft.Main: Σ task time + GC per leg (stderr,
    // not part of the SCALELEG contract line)
    val taskTime = new java.util.concurrent.atomic.AtomicLong()
    val gcTime = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          taskTime.addAndGet(te.taskMetrics.executorRunTime)
          gcTime.addAndGet(te.taskMetrics.jvmGCTime)
        }
    })
    // JIT warmup first, then snapshot counters so the diag line covers
    // only the timed run
    val warmRows = rows.toLong / 20
    Bench.pipelineRun(spark, warmRows, math.max((warmRows / 1500).toInt, 1),
      cores.toInt, s"$outDir-warm")
    val t = taskTime.get(); val g = gcTime.get()
    val (sec, n) = Bench.pipelineRun(spark, rows.toLong, repos.toInt,
      cores.toInt, outDir)
    val taskSec = (taskTime.get - t) / 1000.0
    val gcSec = (gcTime.get - g) / 1000.0
    System.err.println(f"SCALELEG-DIAG cores=$cores taskSec=$taskSec%.0f " +
      f"gcSec=$gcSec%.0f wall=$sec%.1f")
    spark.stop()
    // contract line: wall seconds, triples, Σ task-sec, Σ GC-sec. The
    // task/GC figures let Bench publish the per-pair CPU-inflation ratio
    // (taskSec_4core / taskSec_1core for IDENTICAL work) in the JSON —
    // the shared-memory-bus attribution BASELINE.md §8 derives must
    // travel WITH the efficiency number it explains, not in prose only
    println(f"SCALELEG $sec $n $taskSec%.1f $gcSec%.1f")
  }
}
