package graft.kgbench

import graft.core.{CorpusRow, Ontology, Rng}
import graft.corpus.CorpusGen
import graft.link.ShipCatalog
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Every input the benchmark hands the program, derived from the
  * workload seed alone: the same seed gives the same base corpus, the
  * same ingest batches and the same dashboard call list.
  */
object Inputs {

  /** Base graph: two inspections of 1,500 frames (the generator's
    * default skew), from a fixed corpus seed. A cold JVM needs ~30 s to
    * build it, nearly all JIT and code-generation warm-up, which a larger
    * graph barely changes. Being the same in every run, the base graph
    * and every call in the dashboard's call pool have expected digests
    * (kgbench/expected.tsv); the run seed picks the calls and their
    * order and generates the ingest batches. */
  val GraphSeed = 1L
  val BaseInspections = 2
  val FramesPerInspection = 1500
  /** One ingest batch: two new inspections of 400 frames. */
  val BatchInspections = 2
  val BatchFramesPerInspection = 400

  def baseConfig(partitions: Int): CorpusGen.Config =
    CorpusGen.Config(BaseInspections.toLong * FramesPerInspection,
      BaseInspections, seed = GraphSeed, partitions = partitions)

  def baseCorpus(spark: SparkSession, partitions: Int): Dataset[CorpusRow] =
    CorpusGen.corpus(spark, baseConfig(partitions))

  def batchConfig(seed: Long, step: Int, partitions: Int): CorpusGen.Config =
    CorpusGen.Config(BatchInspections.toLong * BatchFramesPerInspection,
      BatchInspections, seed = Rng.mix(seed, step + 1L), partitions = partitions)

  /** Repo names for ingest batch `step`. `inspection_id = detid(repo)`
    * has few distinct values, so names whose id is already `taken` are
    * skipped: a batch must add new inspections, never merge into one. */
  def batchRepos(seed: Long, step: Int, taken: Set[Long]): Seq[String] = {
    val picked = Iterator.from(0)
      .map(i => s"ingest${seed}_${step}_$i")
      .scanLeft((Option.empty[String], taken)) { case ((_, ids), name) =>
        val id = ShipCatalog.shipFor(name).inspection_id
        if (ids(id)) (None, ids) else (Some(name), ids + id)
      }
      .collect { case (Some(name), _) => name }
    picked.take(BatchInspections).toSeq
  }

  /** The batch corpus: the generator's rows with each repo renamed to a
    * fresh batch repo (frame numbers and content unchanged). */
  def batchCorpus(spark: SparkSession, seed: Long, step: Int, partitions: Int,
                  repos: Seq[String]): Dataset[CorpusRow] = {
    val byIdx = CorpusGen.repoName _
    val rename = (0 until BatchInspections).map(i => byIdx(i) -> repos(i)).toMap
    CorpusGen.corpus(spark, batchConfig(seed, step, partitions))
      .map(r => r.copy(repo = rename(r.repo)))(Encoders.product[CorpusRow])
  }

  // ---- dashboard calls ------------------------------------------------

  /** Values present in the graph, from which call parameters are drawn. */
  final case class Catalog(
      inspections: IndexedSeq[Long],
      headingBins: Map[Long, IndexedSeq[Int]],
      clusters: Map[Long, IndexedSeq[Long]],
      frameNumbers: Map[Long, (Long, Long)])

  /** One dashboard call: the B-query `kind` (1..16) and its parameters.
    * Fields a kind does not use keep their defaults. */
  final case class Call(
      kind: Int,
      inspection: Long = 0L,
      inspections: Seq[Long] = Nil,
      angle: Int = 0,
      cluster: Long = 0L,
      frameLo: Long = 0L,
      frameHi: Long = 0L,
      quality: Double = 0.0,
      parts: Seq[String] = Nil,
      defects: Seq[String] = Nil,
      pred: String = "",
      threshold: Double = 0.0,
      perPart: Boolean = false) {
    def name: String = s"B$kind"
    /** The call's key in the expected-digest file: every parameter. */
    def key: String = productIterator.map {
      case s: Seq[_] => s.mkString("[", ",", "]")
      case x => x.toString
    }.mkString(s"$name(", ",", ")")
  }

  val Kinds: Seq[Int] = 1 to 16
  val FrameSet = 200L
  val Parts: IndexedSeq[String] = Ontology.linkDict.keys.toIndexedSeq.sorted
  val Defects: IndexedSeq[String] = graft.query.GraphQueries.tableDefects.toIndexedSeq

  /** Calls of each B-query in the call pool. */
  val PoolPerKind = 3

  /** The call pool: up to [[PoolPerKind]] distinct calls of each of
    * B1–B16, parameters drawn from `cat` with a fixed seed. On the base
    * graph the pool is fixed, and so is every call's expected digest. */
  def pool(cat: Catalog): IndexedSeq[Call] = {
    require(cat.clusters.nonEmpty, "graph has no clusters to draw B4 parameters from")
    val rng = new Rng(Rng.mix(GraphSeed, 0x706f6f6cL))
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
    def subset(xs: IndexedSeq[String]): Seq[String] =
      xs.filter(_ => rng.nextInt(2) == 0) match {
        case Seq() => Seq(pick(xs))
        case s => s
      }
    // Parameters vary what a call selects, not how much work it does:
    // multi-inspection calls take every inspection, frame sets are 200
    // frames wide. Seeds then differ in inputs, not in load.
    def insp(): Long = pick(cat.inspections)
    def insps(): Seq[Long] = cat.inspections
    def frameRange(c: Call): Call = {
      val (lo, hi) = cat.frameNumbers(c.inspection)
      val len = math.min(FrameSet, hi - lo + 1)
      val start = lo + (rng.nextLong() >>> 1) % (hi - lo + 2 - len)
      c.copy(frameLo = start, frameHi = start + len)
    }
    def quality(): Double = 5.0 + rng.nextInt(30)
    val drawn = for (pass <- 0 until PoolPerKind; k <- Kinds) yield k match {
      case 1 | 5 => Call(k, inspections = insps(), quality = quality(),
        parts = subset(Parts), defects = subset(Defects))
      case 3 =>
        val i = insp(); Call(k, inspection = i, angle = pick(cat.headingBins(i)))
      case 4 =>
        val i = pick(cat.inspections.filter(cat.clusters.contains))
        Call(k, inspection = i, cluster = pick(cat.clusters(i)))
      case 6 | 10 => frameRange(Call(k, inspection = insp()))
      case 7 => Call(k, inspections = insps())
      case 8 => frameRange(Call(k, inspection = insp(),
        pred = if (rng.nextInt(2) == 0) "SIMILAR_TO" else "VISUALLY_SIMILAR_TO",
        threshold = 0.5 + rng.nextInt(20) / 4.0))
      case 9 | 15 => Call(k, inspection = insp())
      case 12 | 13 => Call(k, inspections = insps())
      case 14 => Call(k, perPart = pass % 2 == 0)
      case _ => Call(k)
    }
    drawn.distinct
  }

  /** A run's calls: one of each of B1–B16, picked from `pool` by `seed`.
    * B14 is two different tables (per part and per ship), so a run
    * issues both: a seed then changes what the calls select, not how
    * much work they do. */
  def calls(seed: Long, pool: IndexedSeq[Call]): IndexedSeq[Call] = {
    val rng = new Rng(Rng.mix(seed, 0x64617368L))
    Kinds.flatMap { k =>
      val ofKind = pool.filter(_.kind == k)
      if (k == 14) ofKind else Seq(ofKind(rng.nextInt(ofKind.size)))
    }.toIndexedSeq
  }

  /** Call order for cycle `cycle` of the closed loop: a seeded
    * permutation, so every call is issued once per cycle. */
  def order(seed: Long, cycle: Int, n: Int): IndexedSeq[Int] = {
    val rng = new Rng(Rng.mix(Rng.mix(seed, 0x6f72646572L), cycle.toLong))
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }
}
