package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      // CLAUDE.md: constraint propagation is superlinear on the
      // wide-alias kNN/lineage plans — every session in this repo
      // disables it (GraftSession, Verify, Explain do too)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
