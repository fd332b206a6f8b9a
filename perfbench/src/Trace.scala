package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch microseconds. `op` groups the spans of
  * one operation (a query, or one micro-batch); `parent` is -1 at a
  * root. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int) {
  def dur: Long = end - start
}

/** Epoch microseconds from the monotonic clock, anchored once, so the
  * benchmark's own spans line up with the millisecond times Spark's
  * listeners report. */
object Clock {
  private val wall0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0 + (System.nanoTime() - nano0) / 1000L
}

/** Task-level counters of one Spark job, summed from its task-end
  * events. */
final class JobRec(val id: Int, val start: Long, val tag: String,
    val callSite: String, val batch: String) {
  @volatile var end: Long = -1L
  var stages, tasks = 0L
  var taskMs, runMs, gcMs, fetchWaitMs = 0L
  var cpuNs = 0L
  var inBytes, inRows, shWrite, shRead, spill, result, outBytes = 0L
}

/** The Spark-side hooks of a traced run: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for the planning
  * phases of every Dataset action (the eager jobs some entries run
  * while they build their DataFrame). Jobs are tied to the operation
  * that ran them through a local property set before each phase. */
final class SparkHooks extends SparkListener with QueryExecutionListener {
  /** Nanoseconds spent inside these callbacks: the work tracing adds. */
  val busyNs = new java.util.concurrent.atomic.AtomicLong()
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime(); body; busyNs.addAndGet(System.nanoTime() - t)
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (phase name, start us, end us) of every traced Dataset action. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val batch = prop("streaming.sql.batchId")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time * 1000L, prop(Trace.TagKey),
      // the result stage is named after the job's call site
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name,
      if (batch.isEmpty) "" else prop("sql.streaming.queryId") + ":" + batch))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L) }

  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 }) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    job(e.stageId).foreach { j => j.synchronized {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.diskBytesSpilled
        j.result += m.resultSize
        j.outBytes += m.outputMetrics.bytesWritten
      }
    } } }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = timed {
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)) } }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Trace {
  val TagKey = "perfbench.tag"

  /** Unit of a per-layer metric, from its name. */
  def unit(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("frac") || name.startsWith("share.") ||
      name.endsWith("per_input_byte")) "ratio"
    else "count"

  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = xs.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Adds the execution counters of one operation to `sum`: job, stage
    * and task counts and task times of `exec` (the jobs that ran while
    * the result was computed, over `execWallS` seconds), and the data
    * moved by `all` its jobs. */
  def addJobs(sum: mutable.Map[String, Double], exec: Seq[JobRec], all: Seq[JobRec],
      execWallS: Double): Unit = {
    def total(f: JobRec => Long) = exec.map(f).sum.toDouble
    def moved(f: JobRec => Long) = all.map(f).sum.toDouble
    sum("exec.jobs") += exec.size
    sum("exec.stages") += total(_.stages)
    sum("exec.tasks") += total(_.tasks)
    sum("exec.task_run_s") += total(_.runMs) / 1e3
    sum("exec.task_cpu_s") += total(_.cpuNs) / 1e9
    sum("exec.task_gc_s") += total(_.gcMs) / 1e3
    sum("exec.task_wait_s") += total(j => j.taskMs - j.runMs) / 1e3
    sum("exec.idle_core_s") += execWallS * Main.Cores - total(_.taskMs) / 1e3
    sum("scan.bytes") += moved(_.inBytes)
    sum("scan.rows") += moved(_.inRows)
    sum("shuffle.write_bytes") += moved(_.shWrite)
    sum("shuffle.read_bytes") += moved(_.shRead)
    sum("shuffle.fetch_wait_s") += moved(_.fetchWaitMs) / 1e3
    sum("spill.bytes") += moved(_.spill)
    sum("driver.result_bytes") += moved(_.result)
    sum("io.write_bytes") += moved(_.outBytes)
  }

  /** Writes spans as JSON lines. */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${s.start},""" +
        s""""end_us":${s.end},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Collects the spans of a traced run; written out when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(name: String, start: Long, end: Long, parent: Int, op: Int): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, start, end, parent, op)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)
}
