package graft.kgbench

import graft.core.CorpusRow
import graft.link.ShipCatalog
import graft.materialize.Upsert
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** The three workloads. Each sets up, then runs a single closed-loop
  * client until `seconds` have passed (a step started before the
  * deadline runs to completion; a dashboard step is a whole cycle of
  * calls).
  *
  * Every workload sets up the same way: it builds the base graph with
  * the program's own composition and checks it against its expected
  * digests. That first build is also the JIT warm-up of the build path.
  *
  * When traced, operations alternate between the layered (spanned) path
  * and the plain path, so the report can set traced against untraced
  * latency. Setup is then traced too, and also calls the layers its loop
  * does not (one more ingest, one pass of B1–B16), so every per-layer
  * metric exists for every workload.
  */
final class Workloads(seed: Long, cores: Int, seconds: Int, out: File,
                      tr: Tracer, rec: Record, expected: Expected)(implicit spark: SparkSession) {

  private val partitions = cores * 2
  private val graphDir = new File(out, "graph").getAbsolutePath
  private val baseDir = s"$graphDir/base"

  private def traceOp(i: Int): Boolean = tr.enabled && i % 2 == 0
  /** A traced run times one traced and one untraced step at least. */
  private val minSteps = if (tr.enabled) 2 else 1

  private def build(corpus: Dataset[CorpusRow], dir: String, layered: Boolean,
                    delta: Option[DataFrame => DataFrame] = None): Build.Written =
    if (layered) Build.layered(corpus, dir, tr, delta)
    else Build.plain(corpus, dir, delta.getOrElse(identity[DataFrame] _))

  // ---- setup --------------------------------------------------------

  /** Run the setup, timed as `setup_s`. Operations setup ran (warm-up
    * reads, a traced run's extra ingest) are not timed operations of the
    * workload; a failure among them fails the run's checks instead. */
  private def timeSetup[A](body: => A): A = {
    val t = System.nanoTime()
    val r = body
    rec.setupS += (System.nanoTime() - t) / 1e9
    rec.ops.filterNot(_.ok).foreach(o => rec.check(s"setup.${o.kind}.${o.name}", ok = false, o.error))
    rec.ops.clear()
    r
  }

  /** Build the base graph and check it: the digests of the triples,
    * frames and nodes the write observed equal to the expected ones,
    * read-back triples equal to those written, one HAS_FRAME per row, one
    * HAS_INSPECTION per inspection. In a traced run the base graph is
    * built layer by layer, so the expected digests, which the plain
    * build gave, also check that the layered build writes the same
    * graph. */
  private def setupBase(): Ingest = {
    val repos = (0 until Inputs.BaseInspections).map(graft.corpus.CorpusGen.repoName)
    val written = rec.part("base")(tr.span("setup.base")(
      build(Inputs.baseCorpus(spark, partitions), baseDir, tr.enabled)))
    val ing = new Ingest(written.triples, repos.map(ShipCatalog.shipFor(_).inspection_id))
    rec.part("check") {
      val g = Graph.read(spark, Seq(baseDir))
      val agg = Digest.aggColumns(g.triples.schema)
      val byPred = g.triples.groupBy("pred").agg(agg.head, agg.tail: _*).collect()
      val back = byPred.map(r => Digest.fromAgg(r.getLong(1), r.getDecimal(2))).foldLeft(Digest.empty)(_ + _)
      rec.check("base.readback", back == written.triples, s"read back $back, wrote ${written.triples}")
      for ((key, got) <- Seq("base.triples" -> written.triples, "base.frames" -> written.frames,
                             "base.nodes" -> written.nodes))
        expected.mismatch(key, got).foreach(rec.check(key, ok = false, _))
      val n = byPred.map(r => r.getString(0) -> r.getLong(1)).toMap
      val rows = Inputs.baseConfig(partitions).rows
      rec.check("base.has_frame", n.get("HAS_FRAME").contains(rows), s"HAS_FRAME ${n.get("HAS_FRAME")} != $rows")
      rec.check("base.has_inspection", n.get("HAS_INSPECTION").contains(repos.size.toLong),
        s"HAS_INSPECTION ${n.get("HAS_INSPECTION")} != ${repos.size}")
      val ids = repos.map(ShipCatalog.shipFor(_).inspection_id)
      rec.check("base.inspections", ids.distinct.size == ids.size, s"inspection ids collide: $ids")
    }
    ing
  }

  /** In a traced run, the layers a workload's loop does not reach. */
  private def traceCoverage(ing: Ingest, ingest: Boolean, queries: Boolean): Unit =
    if (tr.enabled) {
      if (ingest) ing.nextBatch(0, layered = true, "setup.ingest")
      if (queries) {
        val g = Graph.read(spark, ing.dirs)
        tr.span("setup.queries")(Inputs.calls(seed, Inputs.pool(Graph.catalog(g)))
          .foreach(c => dashboardCall(c, g, traced = true)))
      }
    }

  /** Run until the deadline, and at least `minSteps` times; `step(i)`
    * is one iteration of the loop. */
  private def loop(minSteps: Int)(step: Int => Unit): Unit = {
    val t = System.nanoTime()
    val deadline = t + seconds * 1000000000L
    var i = 0
    while (i < minSteps || System.nanoTime() < deadline) { step(i); i += 1 }
    rec.loopS = (System.nanoTime() - t) / 1e9
  }

  // ---- dashboard ----------------------------------------------------

  private def dashboardCall(c: Inputs.Call, g: Graph, traced: Boolean): Seq[Row] =
    if (traced) tr.span(s"query.${c.name}")(Dashboard.run(c, g)) else Dashboard.run(c, g)

  /** One timed dashboard call. Its result must have the digest expected
    * for the call; hashing the rows is not part of the timing. */
  private def checkedCall(c: Inputs.Call, g: Graph, traced: Boolean): Unit = {
    var rows: Seq[Row] = Nil
    val done = tr.span("op")(rec.op("query", c.name, traced) {
      rows = dashboardCall(c, g, traced)
      (1L, None)
    })
    if (done) expected.mismatch(c.key, Digest.ofRows(rows)).foreach(rec.markWrong)
  }

  def dashboardMix(): Unit = {
    val (g, calls) = timeSetup {
      val ing = setupBase()
      val g = Graph.read(spark, Seq(baseDir))
      val calls = rec.part("catalog")(Inputs.calls(seed, Inputs.pool(Graph.catalog(g))))
      traceCoverage(ing, ingest = true, queries = false)
      // one checked pass of the run's calls, so the loop times warm calls
      rec.part("warmup")(calls.foreach(checkedCall(_, g, traced = false)))
      (g, calls)
    }
    rec.sampleHeap(spark.sparkContext)
    // whole cycles, each call once per cycle, so every run times the same
    // mix; traced and untraced cycles alternate in a traced run
    loop(minSteps) { cycle =>
      val traced = traceOp(cycle)
      for (i <- Inputs.order(seed, cycle, calls.size)) checkedCall(calls(i), g, traced)
    }
    rec.sampleHeap(spark.sparkContext)
  }

  // ---- ingest -------------------------------------------------------

  /** The live graph, one directory per ingested batch after the base
    * graph's, and the step that grows it. `added` is the digest of every
    * triple written so far. */
  private final class Ingest(base: Digest, val baseIds: Seq[Long]) {
    var dirs: Seq[String] = Seq(baseDir)
    var added: Digest = base
    private var taken = baseIds.toSet

    /** Ingest seeded batch `k`: build it, upsert its triples into the
      * live triples on (subj, pred, obj) with `Upsert.upsert`, and append
      * the rows the upsert adds as a new directory. Then read one new
      * inspection back through B3, B4 and B15. */
    def nextBatch(k: Int, layered: Boolean, label: String): Unit = {
      val repos = Inputs.batchRepos(seed, k, taken)
      val corpus = Inputs.batchCorpus(spark, seed, k, partitions, repos)
      val frames = Inputs.batchConfig(seed, k, partitions).rows
      val dir = s"$graphDir/batch$k"
      val live = Graph.read(spark, dirs).triples
      // rows are marked by origin; the optimizer prunes the live branch
      // of the upsert's union, so only the added rows are computed
      val delta = (t: DataFrame) =>
        Upsert.upsert(live.withColumn("kgbench_new", lit(false)),
          t.withColumn("kgbench_new", lit(true)), Graph.TripleKeys)
          .where(col("kgbench_new"))
          .select(Graph.TripleCols.map(col): _*)
      val ok = tr.span(label)(rec.op("ingest", "batch", layered) {
        val d = build(corpus, dir, layered, Some(delta)).triples
        added = added + d
        (frames, if (d.count > 0) None else Some("batch added no triples"))
      })
      dirs = dirs :+ dir
      val ids = repos.map(ShipCatalog.shipFor(_).inspection_id)
      taken ++= ids
      if (ok) freshReads(ids, dir, layered, label)
    }

    /** B3, B4 and B15 on one of the inspections `ids` that `dir` added,
      * each checked to return rows of that inspection only. */
    def freshReads(ids: Seq[Long], dir: String, layered: Boolean, label: String): Unit = {
      val seg = Graph.read(spark, Seq(dir))
      val clusters = seg.triples.where(col("pred") === "IN_CLUSTER").select("obj").distinct()
        .collect().map(_.getString(0)).collect { case Graph.ClusterId(i, n) => i.toLong -> n.toLong }
      val i = ids.find(id => clusters.exists(_._1 == id)).getOrElse(ids.head)
      val angle = seg.frames.where(col("inspection_id") === i)
        .select(graft.query.GraphQueries.headingBin(col("Heading"),
          coalesce(col("ship_heading"), lit(0.0)))).head().getInt(0)
      val g = Graph.read(spark, dirs)
      def ofInspection(r: Row) =
        r.getString(0).startsWith(s"$i.") || r.getString(0).startsWith(s"m$i.")
      val reads = Seq[(Inputs.Call, Row => Boolean)](
        Inputs.Call(3, inspection = i, angle = angle) -> ofInspection,
        Inputs.Call(4, inspection = i, cluster = clusters.filter(_._1 == i).map(_._2).minOption.getOrElse(0L)) ->
          ofInspection,
        Inputs.Call(15, inspection = i) -> (_.getLong(0) == i))
      for ((c, belongs) <- reads) tr.span(label)(rec.op("read", c.name, layered) {
        val rows = dashboardCall(c, g, layered)
        (rows.size.toLong,
          if (rows.isEmpty) Some(s"${c.name} found nothing for new inspection $i")
          else rows.find(r => !belongs(r)).map(r => s"${c.name} returned a row of another inspection: $r"))
      })
    }
  }

  def ingestSmall(): Unit = {
    val ing = timeSetup {
      val ing = setupBase()
      rec.part("reads")(ing.freshReads(ing.baseIds, baseDir, tr.enabled, "setup.reads"))
      traceCoverage(ing, ingest = false, queries = true)
      ing
    }
    rec.sampleHeap(spark.sparkContext)
    loop(minSteps)(i => ing.nextBatch(i + 1, traceOp(i), "op"))
    rec.sampleHeap(spark.sparkContext)
    val g = Graph.read(spark, ing.dirs)
    val live = Graph.triplesDigest(g)
    rec.check("ingest.live_equals_batches", live == ing.added,
      s"live triples $live != base and batches written ${ing.added}")
    // the upserts keep the live graph a set: no key twice
    val keys = g.triples.select(Graph.TripleKeys.map(col): _*).distinct().count()
    rec.check("ingest.keys_unique", keys == live.count,
      s"${live.count - keys} live triples repeat a (subj, pred, obj) key")
  }

  // ---- full build ---------------------------------------------------

  def buildFull(): Unit = {
    timeSetup(traceCoverage(setupBase(), ingest = true, queries = true))
    rec.sampleHeap(spark.sparkContext)
    val dir = s"$graphDir/rebuild"
    loop(minSteps) { i =>
      val layered = traceOp(i)
      var written = Digest.empty
      val ok = tr.span("op")(rec.op("build", "full", layered) {
        written = build(Inputs.baseCorpus(spark, partitions), dir, layered).triples
        (written.count, expected.mismatch("base.triples", written))
      })
      if (ok) tr.span("op")(rec.op("read", "readback", layered) {
        val back = Graph.triplesDigest(Graph.read(spark, Seq(dir)))
        (back.count, if (back == written) None else Some(s"read back $back, wrote $written"))
      })
    }
    rec.sampleHeap(spark.sparkContext)
  }

  /** Record the expected digests: the plain build of the base graph and
    * every call of the call pool on it. */
  def recordExpected(): Unit = {
    setupBase()
    val g = Graph.read(spark, Seq(baseDir))
    for (c <- Inputs.pool(Graph.catalog(g))) expected.mismatch(c.key, Digest.ofRows(Dashboard.run(c, g)))
    rec.checks.filterNot(_._2).foreach(c => sys.error(s"check ${c._1} failed: ${c._3}"))
  }
}
