package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** How many classes Janino compiles while `body` runs, i.e. how many
    * times the generated code was not found in Spark's codegen cache.
    * The counter is per JVM, and the suites of the test JVM run one at
    * a time. */
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The job group of every job `body` starts, in start order. The
    * listener bus delivers events in order, so once a marker job run
    * after `body` has been seen, every job of `body` has been too. */
  def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val marker = s"marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val seen = Seq.newBuilder[String]
      def next() = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      var g = next()
      while (g != null && g != marker) { seen += g; g = next() }
      assert(g == marker, "the listener bus did not deliver the marker job")
      seen.result()
    } finally sc.removeSparkListener(listener)
  }
}
