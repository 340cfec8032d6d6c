package graft

import graft.corpus.CorpusGen
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `KgPipeline.write`: each table reads back unchanged, laid out by its
  * partition column, in files sized to the data — one per partition
  * value for a small batch under AQE — and with the same rows when AQE
  * is off and the write falls back to `spark.sql.shuffle.partitions`.
  * Its concurrent writes run in the caller's job group, and a small
  * batch builds and writes in a bounded number of Spark jobs.
  */
class KgPipelineWriteSpec extends AnyFunSuite with TempDirs {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  private lazy val result = {
    val r = KgPipeline.runFull(
      CorpusGen.corpus(spark, CorpusGen.Config(rows = 600, nRepos = 2, partitions = 4)),
      exactKnn = false)
    r.copy(triples = r.triples.persist(), frames = r.frames.persist(), nodes = r.nodes.persist())
  }
  private lazy val tables =
    Seq("triples" -> result.triples, "frames" -> result.frames, "nodes" -> result.nodes)

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Table `t` as written, read with the schema and column order of `in`. */
  private def readBack(outDir: String, t: String, in: DataFrame): DataFrame =
    spark.read.schema(in.schema).parquet(s"$outDir/$t")
      .select(in.columns.toIndexedSeq.map(col): _*)

  private lazy val outDir = {
    val d = tempDir("kg-write")
    KgPipeline.write(result, d)
    d
  }

  test("every table reads back equal to its input as a multiset") {
    for ((t, in) <- tables) {
      val expected = multiset(in)
      assert(expected.nonEmpty, t)
      assert(multiset(readBack(outDir, t, in)) === expected, t)
    }
  }

  test("triples are partitioned by pred and nodes by label") {
    def dirs(table: String) =
      new java.io.File(s"$outDir/$table").listFiles().filter(_.isDirectory).map(_.getName).toSet
    val preds = result.triples.select("pred").distinct().collect().map(_.getString(0)).toSet
    val labels = result.nodes.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(dirs("triples") === preds.map(p => s"pred=$p"))
    assert(dirs("nodes") === labels.map(l => s"label=$l"))
  }

  test("a small batch writes at most one data file per partition value") {
    for ((t, _) <- tables) {
      val files = KgPipeline.dataFiles(spark, s"$outDir/$t")
      assert(files.nonEmpty, t)
      val perValue = files.groupBy(_.getParent.getName).map { case (v, fs) => v -> fs.size }
      assert(perValue.values.forall(_ == 1), s"$t: $perValue")
    }
  }

  test("with AQE off the write keeps the same rows") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val off = tempDir("kg-write")
    try {
      spark.conf.set(key, "false")
      KgPipeline.write(result, off)
    } finally spark.conf.set(key, before)
    for ((t, in) <- tables)
      assert(multiset(readBack(off, t, in)) === multiset(readBack(outDir, t, in)), t)
  }

  test("every write job runs in the caller's job group") {
    val dir = tempDir("kg-write")
    val groups = SparkTestSession.jobGroups {
      spark.sparkContext.setJobGroup("g", "write")
      try KgPipeline.write(result, dir) finally spark.sparkContext.clearJobGroup()
    }
    assert(groups.nonEmpty)
    assert(groups.forall(_ == "g"), groups.mkString(","))
  }

  test("a 2x400-frame batch builds and writes in a bounded number of jobs") {
    // runFull(exactKnn = false) + write on local[4]: 51 jobs when the
    // standardize stats, the mosaic keys and the DBSCAN core cells were
    // each counted and then broadcast, and the DBSCAN cell graph ran as
    // Spark jobs; 33 since each small side is fetched once
    // (graft.core.SmallSide). A count job added back fails this.
    val corpus = CorpusGen.corpus(spark, CorpusGen.Config(rows = 800, nRepos = 2, partitions = 4))
    val dir = tempDir("kg-write")
    val jobs = SparkTestSession.jobGroups(
      KgPipeline.write(KgPipeline.runFull(corpus, exactKnn = false), dir)).size
    assert(jobs <= 33, s"$jobs jobs")
  }

  test("a second batch of the same shape compiles no generated code") {
    // generated classes are named without their stage id and the codegen
    // cache holds 1000 (graft.core.GraftSession.settings); with the id in
    // the name and 100 entries, the second batch compiled 153 classes
    def batch(seed: Long): Unit = KgPipeline.write(KgPipeline.runFull(
      CorpusGen.corpus(spark, CorpusGen.Config(rows = 800, nRepos = 2, seed = seed, partitions = 4)),
      exactKnn = false), tempDir("kg-write"))
    batch(seed = 1)
    val compiled = SparkTestSession.compiles(batch(seed = 2))
    assert(compiled === 0, s"$compiled classes compiled")
  }
}
