package graft.pipeline

import graft.core.{CorpusRow, GraftFunctions, Ontology}
import graft.extract.{CompiledDict, MentionExtractor}
import graft.link.{EntityLinker, ShipCatalog}
import graft.materialize.TripleBuilder
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end construction dataflow (reference §3.1), batch form:
  *
  *   corpus scan → per-partition mention detection (A6/A8) → score
  *   fusion (A15) → broadcast entity-link join (A16) → triple union
  *   (A18/A19) → partitioned write.
  *
  * Stage boundaries match the checkpoint/resume plan; everything
  * upstream of the write is map-side + broadcast joins — the property
  * that makes throughput scale ~linearly with cores (BASELINE.md §3
  * protocol). The write hash-partitions each table on its key, into as
  * many partitions as AQE sizes the data to (`spark.sql.shuffle.partitions`
  * when AQE is off).
  */
object KgPipeline {

  final case class Result(
      shipsDim: DataFrame,
      frames: DataFrame,
      triples: DataFrame,
      nodes: DataFrame
  )

  /** Phase 1 (`analyze`): extract → link → materialize.
    * `frameStep` is the reference's ML sampling stride (every 30th frame
    * scored/stored, pipeline/pipeline.py:85) — a cheap early filter the
    * scan can prune on, 1 = keep all.
    */
  def run(corpus: Dataset[CorpusRow],
          dict: Seq[(String, String)] = CompiledDict.selfNamed,
          frameStep: Int = 1)(
      implicit spark: SparkSession): Result = {
    val labels = dict.map(_._1)
    val ships = ShipCatalog.dim(corpus)
    val features = MentionExtractor.extract(corpus, dict)
    // frames feeds ≥4 downstream branches (HAS_FRAME, DEPICTS, nodes,
    // phase 2) — materialize so the extract scan runs once, not per
    // branch. localCheckpoint (eager), not persist: stack-sampling the
    // scaling legs showed the columnar-cache build (compression + stats
    // per 25-label column) among the hottest executor frames; a
    // checkpoint stores raw rows with none of that, and as a plan LEAF it
    // also stops the analyzer re-walking the wide extract lineage per
    // downstream reference (the CLAUDE.md plan-size cost).
    val framesAll = MentionExtractor.frames(features, labels, ships)
    val frames = (if (frameStep > 1)
      framesAll.where(pmod(col("framenumber"), lit(frameStep)) === 0)
    else framesAll)
      .localCheckpoint(true)

    Result(ships, frames, phase1Triples(ships, frames, labels),
      TripleBuilder.nodes(ships, frames))
  }

  /** The phase-1 triples: HAS (ship ontology), HAS_INSPECTION, HAS_FRAME
    * and DEPICTS, shared by [[run]] and [[runCheckpointed]].
    */
  private def phase1Triples(ships: DataFrame, frames: DataFrame, labels: Seq[String])(
      implicit spark: SparkSession): DataFrame =
    TripleBuilder.hasOntology(ships)
      .unionByName(TripleBuilder.hasInspection(ships))
      .unionByName(TripleBuilder.hasFrame(frames))
      .unionByName(EntityLinker.depicts(frames, labels))

  /** Phase 1 + phase 2 (`similarities`, reference §3.2): mosaics
    * (sessionization + IN_MOSAIC), k-NN similarity edges, clusters.
    * `exactKnn=false` switches the neighbor search to LSH bucketing
    * (the web-scale path).
    */
  def runFull(corpus: Dataset[CorpusRow],
              dict: Seq[(String, String)] = CompiledDict.selfNamed,
              exactKnn: Boolean = true)(implicit spark: SparkSession): Result = {
    val base = run(corpus, dict)
    val labels = dict.map(_._1)
    val (inMosaic, mosaicNodes) = graft.materialize.Mosaics.build(base.frames, labels)
    val (simTriples, clusterNodes) =
      graft.canon.SimilarityPipeline.run(base.frames, labels, exactKnn)
    base.copy(
      triples = base.triples.unionByName(inMosaic).unionByName(simTriples),
      nodes = base.nodes.unionByName(mosaicNodes).unionByName(clusterNodes))
  }

  /** Checkpointed variant: each stage boundary goes through a
    * [[graft.lineage.StageManager]] — kill the job between stages and a
    * re-run resumes from the last complete checkpoint with identical
    * final triples (north rule exact-resume requirement).
    */
  def runCheckpointed(corpus: Dataset[CorpusRow], runDir: String,
                      dict: Seq[(String, String)] = CompiledDict.selfNamed,
                      exactKnn: Boolean = true)(
      implicit spark: SparkSession): DataFrame = {
    val labels = dict.map(_._1)
    val mgr = new graft.lineage.StageManager(runDir)

    val frames = mgr.stage("frames", Seq("frame_id")) {
      val ships = ShipCatalog.dim(corpus)
      MentionExtractor.frames(MentionExtractor.extract(corpus, dict), labels, ships)
    }
    val phase1 = mgr.stage("triples_phase1", Seq("subj", "pred", "obj")) {
      phase1Triples(ShipCatalog.dim(corpus), frames, labels)
    }
    val mosaics = mgr.stage("triples_mosaic", Seq("subj", "pred", "obj")) {
      graft.materialize.Mosaics.build(frames, labels)._1
    }
    val sims = mgr.stage("triples_similarity", Seq("subj", "pred", "obj")) {
      graft.canon.SimilarityPipeline.run(frames, labels, exactKnn)._1
    }
    mgr.stage("triples", Seq("subj", "pred", "obj"), Seq("pred")) {
      phase1.unionByName(mosaics).unionByName(sims)
    }
  }

  /** Row-invariant check column (BASELINE.json input_hint): sha256 of
    * content as a Catalyst expression, compared against an expected
    * digest column when present.
    */
  def withInvariant(corpus: DataFrame): DataFrame =
    corpus.withColumn("content_sha256", GraftFunctions.sha256_hex(col("content")))

  /** Enforce the invariant against an expected-digest column: fails the
    * job (with a row sample) if any row's recomputed sha256 differs —
    * the guard a resume/backfill runs before trusting a checkpoint.
    */
  def assertInvariant(corpus: DataFrame, expectedCol: String = "expected_sha256"): Unit = {
    val bad = corpus
      .where(!GraftFunctions.sha256_invariant(col("content"), col(expectedCol)))
      .select(col(expectedCol))
      .limit(5).collect()
    require(bad.isEmpty,
      s"sha256 content invariant violated for ${bad.length}+ rows, e.g. ${bad.take(2).mkString(",")}")
  }

  /** Materialize to disk: triples partitioned by predicate (the
    * Iceberg-layout realization of SURVEY §1.3 — partition by `pred`,
    * deterministic sort within partitions for byte-stable resume).
    */
  def write(result: Result, outDir: String): Unit = {
    // No partition count: AQE coalesces a by-column repartition to the
    // data size, so a small batch writes one file per partition value,
    // and `parallelismFirst` still keeps at least one partition per core
    // on a large write (`spark.sql.shuffle.partitions` when AQE is off).
    // Hash on (pred, subj), not pred alone, so a large predicate is not
    // funnelled through one task;
    // sortWithinPartitions leads with pred so the partitionBy writer
    // keeps a single open file per task.
    // The three writes are INDEPENDENT jobs submitted concurrently: the
    // driver-serial parts (Catalyst optimization of the wide triples
    // union, output-committer listing/renames) of one overlap the
    // executor work of the others — ~5 s of the parallelism-independent
    // serial constant that was depressing the N→4N scaling ratio. Each
    // runs with the caller's local properties (job group, scheduler pool)
    // as AQE's stage threads do; a pooled thread keeps its creator's.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    def async(body: => Unit) = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      result.triples.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)
    val writes = Seq(
      async {
        result.triples
          .repartition(col("pred"), col("subj"))
          .sortWithinPartitions("pred", "subj", "obj")
          .write.mode("overwrite").partitionBy("pred").parquet(s"$outDir/triples")
      },
      async {
        result.frames
          .repartition(col("inspection_id"), col("frame_id"))
          .sortWithinPartitions("inspection_id", "frame_id")
          .write.mode("overwrite").parquet(s"$outDir/frames")
      },
      async {
        result.nodes
          .repartition(col("label"), col("id"))
          .sortWithinPartitions("label", "id")
          .write.mode("overwrite").partitionBy("label").parquet(s"$outDir/nodes")
      })
    pool.shutdown() // the submitted writes still run; its threads end with them
    writes.foreach(w => try w.get() catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause })
  }

  /** The data files under one table directory of a [[write]], at any
    * partition depth (`_SUCCESS` and checksum files are not counted). */
  def dataFiles(spark: SparkSession, tableDir: String): Seq[org.apache.hadoop.fs.Path] = {
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val it = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(dir, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.startsWith("part-")).toSeq
  }
}
