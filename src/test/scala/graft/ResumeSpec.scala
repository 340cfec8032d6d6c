package graft

import java.nio.file.{Files, Path}
import graft.corpus.CorpusGen
import graft.pipeline.KgPipeline
import org.scalatest.funsuite.AnyFunSuite

/** North-rule exact-resume: kill after an early stage, resume, and the
  * final triple set is identical to an uninterrupted run.
  */
class ResumeSpec extends AnyFunSuite with TempDirs {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  val cfg = CorpusGen.Config(rows = 800, nRepos = 2, partitions = 4)

  test("resume after partial run yields identical triples, completed stages not recomputed") {
    val corpus = CorpusGen.corpus(spark, cfg)

    // uninterrupted reference run
    val fullDir = tempDir("graft_full")
    val want = KgPipeline.runCheckpointed(corpus, fullDir)
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    // the checkpointed and in-memory entry points build the same graph
    assert(KgPipeline.runFull(corpus).triples
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet === want)

    // partial run: compute only the first two stages, then "crash"
    val resDir = tempDir("graft_resume")
    val mgr0 = new graft.lineage.StageManager(resDir)
    import graft.extract.MentionExtractor
    import graft.link.ShipCatalog
    val dict = graft.extract.CompiledDict.selfNamed
    val labels = dict.map(_._1)
    mgr0.stage("frames", Seq("frame_id")) {
      MentionExtractor.frames(MentionExtractor.extract(corpus, dict), labels,
        ShipCatalog.dim(corpus))
    }
    assert(mgr0.isComplete("frames"))
    assert(!mgr0.isComplete("triples"))
    // tamper-detection for re-compute: if resume recomputed "frames", the
    // marker mtime would change
    val framesMarker = Path.of(s"$resDir/frames/_GRAFT_COMPLETE")
    val mtime = Files.getLastModifiedTime(framesMarker)

    val got = KgPipeline.runCheckpointed(corpus, resDir)
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet

    assert(Files.getLastModifiedTime(framesMarker) === mtime, "frames stage was recomputed")
    assert(got === want)
    // lineage present for every stage
    Seq("frames", "triples_phase1", "triples_mosaic", "triples_similarity", "triples")
      .foreach { st =>
        assert(Files.exists(Path.of(s"$resDir/$st/lineage")), s"missing lineage for $st")
      }
  }

  test("a zero-row stage completes with rows 0 and resumes without recomputing") {
    import spark.implicits._
    val dir = tempDir("graft_empty")
    val out = new graft.lineage.StageManager(dir).stage("empty", Seq("id")) {
      Seq.empty[Long].toDF("id")
    }
    assert(out.count() === 0)
    assert(Files.readString(Path.of(s"$dir/empty/_GRAFT_COMPLETE")) === """{"rows":0}""")
    assert(Files.readString(Path.of(s"$dir/metrics.jsonl"))
      .contains(""""stage":"empty","how":"computed","rows":0,"""))

    var evaluated = false
    val again = new graft.lineage.StageManager(dir).stage("empty", Seq("id")) {
      evaluated = true
      Seq.empty[Long].toDF("id")
    }
    assert(!evaluated, "a completed empty stage was recomputed")
    assert(again.count() === 0)
  }
}
