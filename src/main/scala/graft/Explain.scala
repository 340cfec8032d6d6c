package graft

/** Plan-inspection tool: print the formatted physical plan of named
  * `SparkEntry.queries` entries (the evidence docs/PLANS.md captures —
  * pushed filters, pruned schemas, partial aggs, broadcasts).
  *
  * Usage: runMain graft.Explain <sfDir> <q1,q2,...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesArg) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    namesArg.split(',').foreach { name =>
      println(s"\n## $name\n")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
