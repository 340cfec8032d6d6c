package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for correctness-at-scale, verified on local[N]: AQE on
  * (runtime coalesce + skew-join split), shuffle partitions sized to
  * cores (not the 200 default).
  */
object GraftSession {
  /** Settings every session in this repo takes: the engine's, the test
    * suite's, and the Verify and Explain tools'. Each builder adds its
    * own master, shuffle partitions and AQE lines.
    */
  val settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // constraint propagation is O(constraints × aliases) per plan node;
    // on the 25-label frame-extraction lineage layered under
    // window+explode+join it ran for minutes / OOMed the driver
    // (getAllValidConstraints in every optimizer fixpoint round). The
    // engine's filters are explicit — inferred IsNotNulls are not worth
    // a superlinear driver cost on wide-alias plans.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // Generated classes are cached by their code text. With the stage id
    // in the class name, the same operator planned under another stage
    // id (every new plan, every AQE re-plan) is new text and is compiled
    // again; without it, identical operators share one class.
    "spark.sql.codegen.useIdInClassName" -> "false",
    // One ingest batch plus the dashboard calls use ~300 distinct
    // classes; the default 100-entry cache evicts them before they come
    // round again. Read once per JVM, when codegen first runs. A
    // retained class costs ~31 KB of heap, so ≤ ~31 MB at the cap.
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** A session builder with [[settings]] applied. */
  def builder(): SparkSession.Builder = SparkSession.builder().config(settings)

  /** `aqe` turns adaptive query execution on (the default) or off. The
    * bench's scaling legs turn it off, because there the AQE planning
    * constant (75 vs 20 driver-serial jobs on the pipeline) is
    * pure overhead at both parallelism levels and AQE's runtime levers
    * (skew split, coalesce) don't bind at scaling-run sizes. Protocol,
    * not a cheat: BASELINE.md §5 measured AQE-off as ratio-neutral or
    * better at BOTH levels; the headline run keeps AQE on.
    */
  def apply(cores: Int, appName: String = "graft",
            aqe: Boolean = true): SparkSession = {
    // 3x cores: straggler tails idle the fleet when partitions == cores;
    // AQE coalesces the small ones back
    val shufflePartitions = math.max(cores * 3, 24)
    val localDir = sys.env.getOrElse("SPARK_LOCAL_DIRS",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark" else "/tmp/graft-spark")
    // SPARK_GRAFT_MASTER overrides, e.g. "local-cluster[4,8,8192]" to run
    // real executor JVMs on one box (the N-executors protocol shape)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val spark = builder()
      .master(master)
      .appName(appName)
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // ObjectHashAggregate (typed Aggregators: top-k kNN ranker, union
      // coverage) falls back to SORT-BASED aggregation after 128 distinct
      // keys by default — with millions of src keys the ranking degraded
      // to a full sort of the candidate stream. k≤5 tuple buffers are a
      // few hundred bytes/key, so 256k in-memory keys per task is tens of
      // MB, well inside the executor budget (1M was tried: same wall,
      // more GC).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
