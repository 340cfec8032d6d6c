package graft.kgbench

import graft.corpus.CorpusGen
import graft.link.ShipCatalog
import org.apache.spark.sql.Row

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own checks of its seeded inputs, digests and failure
  * accounting. They need no Spark session and are built with the
  * benchmark, so they run from the same jar:
  *
  *   python3 kgbench/run.py --self-test
  *
  * Exits 1 when a check fails. (The metric arithmetic is checked in
  * kgbench/tests.)
  */
object SelfTest {

  private val failures = ArrayBuffer.empty[String]
  private var run = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    run += 1
    val passed = try ok catch { case e: Exception => println(s"  $name threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += name
  }

  def main(args: Array[String]): Unit = {
    digests()
    inputs()
    record()
    println(s"${run - failures.size}/$run passed")
    if (failures.nonEmpty) sys.exit(1)
  }

  private def digests(): Unit = {
    val rows = Seq(Row("a", 1L, 0.5), Row("b", 2L, null), Row("c", 3L, 1.0 / 3))
    check("the digest does not depend on row order") {
      Digest.ofRows(rows) == Digest.ofRows(rows.reverse) && Digest.ofRows(rows).count == 3
    }
    check("the digest of a disjoint union is the sum of the digests") {
      Digest.ofRows(rows) == Digest.ofRows(rows.take(1)) + Digest.ofRows(rows.drop(1)) &&
        Digest.ofRows(Nil) == Digest.empty
    }
    check("a changed, missing or repeated row changes the digest") {
      val d = Digest.ofRows(rows)
      Digest.ofRows(rows.updated(1, Row("b", 2L, 0.0))) != d && Digest.ofRows(rows.tail) != d &&
        Digest.ofRows(rows :+ rows.head) != d
    }
    check("sums wrap modulo 2^64") {
      (Digest(1, Digest.Mod - 1) + Digest(1, BigInt(2))).sum == BigInt(1)
    }
    check("doubles compare at ten significant digits, maps in key order") {
      Digest.canon(0.1 + 0.2) == Digest.canon(0.3) && Digest.canon(1.0) != Digest.canon(1.0 + 1e-6) &&
        Digest.canon(Map("x" -> 1, "y" -> 2)) == Digest.canon(Map("y" -> 2, "x" -> 1)) &&
        Digest.canon(Row(Seq(1.0, 2.0), null)) == "([1.000000000e+00,2.000000000e+00],null)"
    }
    check("Spark-side sums convert to the same modular digest") {
      val h = new java.math.BigDecimal(Digest.Mod.bigInteger.add(java.math.BigInteger.valueOf(5)))
      Digest.fromAgg(2, h) == Digest(2, BigInt(5)) &&
        Digest.fromAgg(1, new java.math.BigDecimal(-1)) == Digest(1, Digest.Mod - 1)
    }
    check("expected digests round-trip through the file and catch a mismatch") {
      val f = java.io.File.createTempFile("expected", ".tsv")
      try {
        val rec = Expected.recorder
        rec.mismatch("B3(3,7)", Digest(4, BigInt("ffeeddccbbaa9988", 16)))
        rec.save(f)
        val e = Expected.load(f)
        e.mismatch("B3(3,7)", Digest(4, BigInt("ffeeddccbbaa9988", 16))).isEmpty &&
          e.mismatch("B3(3,7)", Digest(4, BigInt(1))).isDefined &&
          e.mismatch("B4(4,7)", Digest.empty).isDefined
      } finally f.delete()
    }
  }

  private def inputs(): Unit = {
    val catalog = Inputs.Catalog(
      inspections = IndexedSeq(11L, 22L, 33L),
      headingBins = Map(11L -> IndexedSeq(0, 30), 22L -> IndexedSeq(90), 33L -> IndexedSeq(180, 210)),
      clusters = Map(22L -> IndexedSeq(0L, 1L, 2L)),
      frameNumbers = Map(11L -> (0L, 1499L), 22L -> (0L, 1499L), 33L -> (0L, 749L)))
    val pool = Inputs.pool(catalog)
    def corpus(cfg: CorpusGen.Config) = CorpusGen.localRows(cfg.copy(rows = 200))

    check("the same seed gives the same inputs") {
      corpus(Inputs.batchConfig(7, 3, 8)) == corpus(Inputs.batchConfig(7, 3, 8)) &&
        Inputs.batchRepos(7, 3, Set.empty) == Inputs.batchRepos(7, 3, Set.empty) &&
        Inputs.calls(7, pool) == Inputs.calls(7, pool) &&
        Inputs.order(7, 4, 16) == Inputs.order(7, 4, 16)
    }
    check("a different seed gives different inputs") {
      corpus(Inputs.batchConfig(7, 3, 8)) != corpus(Inputs.batchConfig(8, 3, 8)) &&
        corpus(Inputs.batchConfig(7, 3, 8)) != corpus(Inputs.batchConfig(7, 4, 8)) &&
        Inputs.batchRepos(7, 3, Set.empty) != Inputs.batchRepos(8, 3, Set.empty) &&
        (1 to 5).map(Inputs.calls(_, pool)).distinct.size > 1 &&
        Inputs.order(7, 4, 16) != Inputs.order(8, 4, 16)
    }
    check("the partition count does not change the corpus") {
      corpus(Inputs.baseConfig(8)) == corpus(Inputs.baseConfig(3))
    }
    check("batch repos get inspection ids that are new and distinct") {
      val first = Inputs.batchRepos(5, 0, Set.empty)
      val taken = first.map(ShipCatalog.shipFor(_).inspection_id).toSet
      val next = Inputs.batchRepos(5, 0, taken)
      val ids = next.map(ShipCatalog.shipFor(_).inspection_id)
      next.size == Inputs.BatchInspections && ids.distinct.size == ids.size && ids.forall(i => !taken(i))
    }
    check("the pool is fixed and a run's calls are one of each B-query from it, both B14 tables") {
      val calls = Inputs.calls(3, pool)
      val kinds = Inputs.Kinds.flatMap(k => if (k == 14) Seq(k, k) else Seq(k))
      Inputs.pool(catalog) == pool && calls.map(_.kind) == kinds &&
        calls.filter(_.kind == 14).map(_.perPart).toSet == Set(true, false) &&
        calls.forall(pool.contains) && pool.map(_.key).distinct.size == pool.size
    }
    check("call parameters are present in the catalog") {
      pool.forall(c => c.kind match {
        case 3 => catalog.headingBins(c.inspection).contains(c.angle)
        case 4 => catalog.clusters(c.inspection).contains(c.cluster)
        case 6 | 8 | 10 =>
          val (lo, hi) = catalog.frameNumbers(c.inspection)
          c.frameLo >= lo && c.frameLo <= hi && c.frameHi > c.frameLo
        case 1 | 5 | 7 | 12 | 13 => c.inspections.nonEmpty && c.inspections.forall(catalog.inspections.contains)
        case _ => true
      })
    }
    check("every cycle of the call order is a permutation") {
      (0 until 5).forall(cycle => Inputs.order(9, cycle, 16).sorted == (0 until 16)) &&
        Inputs.order(9, 0, 16) != Inputs.order(9, 1, 16)
    }
  }

  private def record(): Unit = {
    check("a query that throws is a failed operation, not a wrong result") {
      val rec = new Record
      val ok = rec.op("query", "B6", traced = false)(throw new IllegalStateException("forced"))
      val o = rec.ops.last
      !ok && !o.ok && !o.wrong && o.error.contains("forced")
    }
    check("a query with a wrong result is failed and marked wrong") {
      val rec = new Record
      rec.op("query", "B3", traced = false)((10L, None))
      rec.markWrong("digest mismatch")
      rec.ops.last.wrong && !rec.ops.last.ok && rec.ops.last.error == "digest mismatch"
    }
    check("failures show in the record the report reads") {
      val rec = new Record
      rec.op("query", "B1", traced = false)((1L, None))
      rec.op("query", "B6", traced = false)(throw new RuntimeException("forced"))
      val json = rec.json("dashboard_mix", 1, trace = false, 4, 1.0, 2.0)
      json.contains(""""name":"B6","start_s"""") && rec.ops.count(!_.ok) == 1 && rec.ops.size == 2 &&
        rec.ops.head.ok && rec.ops.head.items == 1L
    }
  }
}
