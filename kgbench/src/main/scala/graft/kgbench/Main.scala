package graft.kgbench

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM. Runs one workload and writes the raw record
  * (`result.json`, plus span/job/task JSON lines when traced) to the
  * output directory; `kgbench/run.py` turns it into metrics.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <cores> <outDir>
  *
  * Outputs are checked against the expected digests in the file the
  * `kgbench.expected` system property names. `record-expected` as the
  * workload writes that file instead, as `expected.tsv` in `outDir`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <cores> <outDir>")
    val Array(workload, seedS, secondsS, traceS, coresS, outS) = argv
    val out = new File(outS)
    out.mkdirs()
    val t0 = System.nanoTime()
    implicit val spark: SparkSession = GraftSession(coresS.toInt, "kgbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traceS == "1", s"$workload-$seedS")
    val rec = new Record
    val recording = workload == "record-expected"
    val expected =
      if (recording) Expected.recorder
      else Expected.load(new File(sys.props.getOrElse("kgbench.expected", "kgbench/expected.tsv")))
    val w = new Workloads(seedS.toLong, coresS.toInt, secondsS.toInt, out, tracer, rec, expected)
    try {
      tracer.span("run")(workload match {
        case "build_full" => w.buildFull()
        case "dashboard_mix" => w.dashboardMix()
        case "ingest_small" => w.ingestSmall()
        case "record-expected" => w.recordExpected(); expected.save(new File(out, "expected.tsv"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      })
      tracer.finish(out)
      val setupS = sessionS + rec.setupS
      java.nio.file.Files.writeString(new File(out, "result.json").toPath,
        rec.json(workload, seedS.toLong, traceS == "1", coresS.toInt, sessionS, setupS) + "\n")
    } finally spark.stop()
  }
}

object Record {
  final case class Op(kind: String, name: String, startS: Double, wallS: Double,
                      ok: Boolean, wrong: Boolean, traced: Boolean, items: Long, error: String)
}

/** What one run measured: timed operations, heap samples and checks. */
final class Record {
  import Record.Op

  val ops = ArrayBuffer.empty[Op]
  val heapMb = ArrayBuffer.empty[Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val setupParts = ArrayBuffer.empty[(String, Double)]
  var setupS = 0.0
  var loopS = 0.0
  private val loopStart = System.nanoTime()

  /** Time one part of setup (reported beside setup_s). */
  def part[A](name: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally setupParts += name -> (System.nanoTime() - t) / 1e9
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Mark the last operation failed: its output was wrong. */
  def markWrong(reason: String): Unit =
    ops(ops.size - 1) = ops.last.copy(ok = false, wrong = true, error = reason.take(300))

  /** Time `body`, which returns (items, None) on success or
    * (items, Some(reason)) when its output is wrong. A wrong or thrown
    * operation is recorded as failed, and its time is never reported as
    * a latency. */
  def op(kind: String, name: String, traced: Boolean)(body: => (Long, Option[String])): Boolean = {
    val t = System.nanoTime()
    val (items, wrong, err) =
      try {
        val (n, reason) = body
        (n, reason.isDefined, reason.getOrElse(""))
      } catch { case e: Exception => (0L, false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ok = err.isEmpty
    ops += Op(kind, name, (t - loopStart) / 1e9, (System.nanoTime() - t) / 1e9,
      ok, wrong, traced, items, err.take(300))
    ok
  }

  /** Live old-generation bytes after a full GC, in MB. Spark's listener
    * events and its cleaning of unreachable checkpoints and broadcasts
    * are asynchronous, so GC repeats (at most three times) until the
    * figure stops falling. */
  def sampleHeap(sc: org.apache.spark.SparkContext): Unit = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    val old = (0 until pools.size).map(pools.get)
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def live(): Double = {
      org.apache.spark.kgbench.ListenerBus.drain(sc)
      System.gc()
      Thread.sleep(300)
      old.map(_.getUsage.getUsed / 1e6).getOrElse(0.0)
    }
    var (prev, cur, rounds) = (Double.MaxValue, live(), 1)
    while (rounds < 3 && cur < prev * 0.99) { prev = cur; cur = live(); rounds += 1 }
    if (old.isDefined) heapMb += cur
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def json(workload: String, seed: Long, trace: Boolean, cores: Int,
           sessionS: Double, setupS: Double): String = {
    val opsJ = ops.map(o =>
      s"""{"kind":${str(o.kind)},"name":${str(o.name)},"start_s":${o.startS},""" +
        s""""wall_s":${o.wallS},"ok":${o.ok},"wrong":${o.wrong},"traced":${o.traced},"items":${o.items},""" +
        s""""error":${str(o.error)}}""").mkString("[", ",", "]")
    val checksJ = checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString("[", ",", "]")
    s"""{"workload":${str(workload)},"seed":$seed,"trace":$trace,"cores":$cores,""" +
      s""""session_s":$sessionS,"setup_s":$setupS,"loop_s":$loopS,""" +
      s""""setup_parts":${setupParts.map { case (n, v) => s"${str(n)}:$v" }.mkString("{", ",", "}")},""" +
      s""""heap_mb":${heapMb.mkString("[", ",", "]")},"ops":$opsJ,"checks":$checksJ}"""
  }
}
