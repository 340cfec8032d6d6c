package graft.kgbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable.ArrayBuffer

/** Benchmark-side tracing: spans around the benchmark's calls into the
  * program's modules, plus the raw job and task records of a
  * SparkListener, all kept in memory and written as JSON lines at the
  * end of the run.
  *
  * Every span runs its body under its own Spark job group, and the
  * listener records each job's group, so the analysis can key jobs to
  * spans by group. Jobs submitted from pool threads (the program's
  * concurrent writes) may carry a stale or no group; the analysis falls
  * back to the innermost span open at the job's submission time.
  *
  * A disabled tracer (untraced runs) records nothing and registers no
  * listener; `span` then just runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val counters = ArrayBuffer.empty[(String, Long)]
  private val jobs = ArrayBuffer.empty[String]
  private val tasks = ArrayBuffer.empty[String]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  // one clock for spans and Spark events: epoch ms, sub-ms from nanoTime
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix))
      val line = s"""{"job":${e.jobId},"time_ms":${e.time},"group":${group.getOrElse("null")},""" +
        s""""stages":${e.stageIds.mkString("[", ",", "]")}}"""
      jobs.synchronized(jobs += line)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      val line = s"""{"stage":${e.stageId},"launch_ms":${i.launchTime},"finish_ms":${i.finishTime},""" +
        s""""run_ms":${metric(_.executorRunTime)},"gc_ms":${metric(_.jvmGCTime)},""" +
        s""""shuffle_write_bytes":${metric(_.shuffleWriteMetrics.bytesWritten)},""" +
        s""""spill_bytes":${metric(t => t.memoryBytesSpilled + t.diskBytesSpilled)}}"""
      tasks.synchronized(tasks += line)
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as span `name`, a child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      val start = nowMs
      try body
      finally {
        spans += Span(id, name, parent, start, nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(GroupPrefix + pid, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Add `n` to counter `name` (summed per name by the analysis). */
  def count(name: String, n: Long): Unit = if (enabled) counters += name -> n

  /** Wait for the listener to see every event, unregister it and write
    * spans.jsonl, jobs.jsonl, tasks.jsonl and counters.jsonl to `dir`. */
  def finish(dir: java.io.File): Unit = if (enabled) {
    org.apache.spark.kgbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    def write(name: String, lines: Iterable[String]): Unit =
      java.nio.file.Files.writeString(new java.io.File(dir, name).toPath,
        lines.map(_ + "\n").mkString)
    write("spans.jsonl", spans.map(s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""))
    write("counters.jsonl", counters.map { case (n, v) => s"""{"name":"$n","value":$v}""" })
    jobs.synchronized(write("jobs.jsonl", jobs))
    tasks.synchronized(write("tasks.jsonl", tasks))
  }
}

object Tracer {
  private final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)
  private val GroupKey = "spark.jobGroup.id"
  private val GroupPrefix = "kgbench-span-"
}
