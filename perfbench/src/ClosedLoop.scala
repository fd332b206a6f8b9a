package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Expected results kept with the benchmark: `key<TAB>value` lines. */
object Expected {
  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  /** Adds `add` to the file, keeping its comment lines. */
  def save(p: Path, old: Map[String, String], add: Map[String, String]): Unit = {
    val comments = if (Files.exists(p))
      Files.readAllLines(p).asScala.filter(_.startsWith("#")).toSeq else Nil
    Files.write(p, (comments ++ (old ++ add).toSeq.sorted.map { case (k, v) =>
      s"$k\t$v" }).asJava)
  }

  /** Why an operation's result is wrong, if it is. */
  def check(name: String, got: Try[Fingerprint],
      expected: Map[String, String]): Option[String] = got match {
    case Failure(e) => Some(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    case Success(fp) => expected.get(s"q:$name") match {
      case None => Some(s"$name has no expected fingerprint")
      case Some(want) if want != fp.show => Some(s"$name fingerprint ${fp.show} != $want")
      case _ => None
    }
  }
}

/** The spans of one traced closed-loop operation, timed around its calls. */
final case class OpSpans(op: Int, root: Span, lookup: Span, build: Span,
    plan: Span, exec: Span, finalPhases: Seq[(String, Long, Long)],
    codegenCompiles: Long, codegenNs: Long)

/** A single closed-loop client: runs the workload's entries in passes,
  * each pass in an order shuffled by the seed, one at a time. One
  * operation is registry lookup, DataFrame build, and full consumption of
  * `queryExecution.toRdd`, with the rows folded into a fingerprint that
  * is checked against the expected one. */
final class ClosedLoop(spark: SparkSession, a: Args, queries: Seq[String],
    dir: String, expected: Map[String, String], ledger: Ledger,
    tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  private val rng = new scala.util.Random(a.seed)
  private val recorded = mutable.Map.empty[String, String]
  private val traced = mutable.ArrayBuffer.empty[OpSpans]
  private var nextOp = 0

  private def tag(op: Int, phase: String): Unit =
    sc.setLocalProperty(Trace.TagKey, s"$op:$phase")

  /** Runs one operation; returns its wall time in seconds. */
  def op(name: String, trace: Boolean): Double = {
    val id = synchronized { nextOp += 1; nextOp - 1 }
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgNs0 = CodeGenerator.compileTime
    val t0 = Clock.nowUs
    var t1, t2, t3 = t0
    var phases = Seq.empty[(String, Long, Long)]
    val got = Try {
      tag(id, "lookup")
      val f = graft.SparkEntry.queries(name)
      t1 = Clock.nowUs
      tag(id, "build")
      val df = f(spark, dir)
      t2 = Clock.nowUs
      tag(id, "plan")
      val qe = df.queryExecution
      qe.executedPlan
      t3 = Clock.nowUs
      tag(id, "exec")
      val fp = Fingerprint.of(qe)
      phases = qe.tracker.phases.toSeq.map { case (k, p) =>
        (k, p.startTimeMs * 1000L, p.endTimeMs * 1000L) }
      fp
    }
    val t4 = Clock.nowUs
    sc.setLocalProperty(Trace.TagKey, null)
    if (a.record) got.foreach(fp => recorded.synchronized { recorded(s"q:$name") = fp.show })
    ledger.record(if (a.record) got.failed.toOption.map(e => s"$name threw $e")
      else Expected.check(name, got, expected))
    if (trace && got.isSuccess) {
      def s(n: String, x: Long, y: Long) = Span(-1, n, x, y, -1, id)
      traced += OpSpans(id, s(s"op:$name", t0, t4), s("registry.lookup", t0, t1),
        s("build", t1, t2), s("catalyst.plan", t2, t3), s("exec", t3, t4), phases,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0,
        CodeGenerator.compileTime - cgNs0)
    }
    (t4 - t0) / 1e6
  }

  def run(m: Metrics): RunResult = {
    // untimed cold pass: first use of every entry, its classes and files,
    // on ColdThreads threads to keep set-up short
    val c0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ClosedLoop.ColdThreads)
    try rng.shuffle(queries).map(q => pool.submit(new Runnable {
        def run(): Unit = op(q, trace = false) })).foreach(_.get())
    finally pool.shutdown()
    val coldS = (System.nanoTime() - c0) / 1e9
    // one more untimed pass while the JIT compiles the hot paths: without
    // it the first timed pass runs about a fifth slower than the rest
    rng.shuffle(queries).foreach(q => op(q, trace = false))
    val warmS = (System.nanoTime() - c0) / 1e9 - coldS

    val hooks = new SparkHooks
    val firstOp = Clock.nowUs
    val w0 = System.nanoTime()
    var pass = 0
    var timed = 0L
    // whole passes, so every run times the same mix of entries; in a
    // traced run every other pass is traced and the rest measure the
    // tracing overhead
    val passWall = mutable.Map(true -> 0.0, false -> 0.0)
    val passCount = mutable.Map(true -> 0, false -> 0)
    while ((System.nanoTime() - w0) / 1e9 < a.seconds ||
        (tracer.isDefined && passCount(false) == 0)) {
      val on = tracer.isDefined && pass % 2 == 0
      if (on) { sc.addSparkListener(hooks); spark.listenerManager.register(hooks) }
      val p0 = System.nanoTime()
      rng.shuffle(queries).foreach { q =>
        ledger.latencies += op(q, on); timed += 1 }
      passWall(on) += (System.nanoTime() - p0) / 1e9
      passCount(on) += 1
      if (on) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(hooks); spark.listenerManager.unregister(hooks)
      }
      pass += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    tracer.foreach { tr =>
      layers(tr, hooks, m)
      m.put("trace.overhead_frac", passWall(true) / passCount(true) /
        (passWall(false) / passCount(false)) - 1, "ratio")
    }
    RunResult(firstOp, coldS, warmS, windowS, timed, recorded.toMap)
  }

  /** Attributes each traced operation's wall time to the layers whose
    * calls it timed, and the Spark jobs to the phase that ran them. */
  private def layers(tr: Tracer, hooks: SparkHooks, m: Metrics): Unit = {
    val jobs = hooks.jobs.values.asScala.toSeq.filter(_.end >= 0)
    val byTag = jobs.groupBy(_.tag)
    val eager = hooks.phases.asScala.toSeq
    val sum = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var opWall, attributed, writeJobUs = 0.0
    def us(x: Long) = x / 1e6
    traced.foreach { o =>
      val root = tr.add(o.root.name, o.root.start, o.root.end, -1, o.op)
      def child(s: Span) = tr.add(s.name, s.start, s.end, root, o.op)
      child(o.lookup); val bd = child(o.build)
      val pl = child(o.plan); val ex = child(o.exec)
      val bJobs = byTag.getOrElse(s"${o.op}:build", Nil)
      val eJobs = byTag.getOrElse(s"${o.op}:exec", Nil) ++
        byTag.getOrElse(s"${o.op}:plan", Nil)
      val b = o.build; val e = o.exec
      def iv(js: Seq[JobRec]) = js.map(j => (j.start, j.end))
      bJobs.foreach(j => tr.add(s"job:${j.callSite}", j.start max b.start,
        j.end min b.end, bd, o.op))
      eJobs.foreach(j => tr.add(s"job:${j.callSite}", j.start max e.start,
        j.end min e.end, ex, o.op))
      // planning phases of eager Dataset actions inside the build, and of
      // the final plan (analysis runs in the build, the rest in `plan`)
      // (phase times have millisecond resolution)
      val inBuild = eager.filter { case (_, s, x) => s >= b.start - 1000 && x <= b.end + 1000 }
      val phases = inBuild ++ o.finalPhases
      phases.foreach { case (n, s, x) =>
        val parent = if (s >= o.plan.start) pl else bd
        tr.add(s"catalyst.$n", s, x, parent, o.op) }
      val buildKids = iv(bJobs) ++ phases.map(p => (p._2, p._3))
      val bJobUs = Trace.covered(iv(bJobs), b.start, b.end)
      val bCatUs = Trace.covered(buildKids, b.start, b.end) - bJobUs
      val eJobUs = Trace.covered(iv(eJobs), e.start, e.end)
      val schema = bJobs.filter(_.callSite.startsWith("parquet at"))
      val all = bJobs ++ eJobs
      sum("registry.lookup_s") += us(o.lookup.dur)
      sum("build.s") += us(b.dur)
      sum("build.self_s") += us(b.dur - bJobUs - bCatUs)
      sum("build.jobs") += bJobs.size
      sum("build.job_s") += us(bJobUs)
      sum("engine.schema_jobs") += schema.size
      sum("engine.schema_s") += us(Trace.covered(iv(schema), b.start, b.end))
      Seq("analysis", "optimization", "planning").foreach { n =>
        sum(s"catalyst.${n}_s") += us(phases.filter(_._1 == n).map(p => p._3 - p._2).sum) }
      sum("codegen.compiles") += o.codegenCompiles
      sum("codegen.compile_s") += o.codegenNs / 1e9
      sum("catalyst.s") += us(o.plan.dur + bCatUs)
      sum("exec.s") += us(e.dur)
      sum("exec.job_s") += us(eJobUs)
      sum("exec.self_s") += us(e.dur - eJobUs)
      Trace.addJobs(sum, eJobs, all, us(e.dur))
      val opUs = o.root.dur.toDouble
      opWall += opUs
      // the layers' self times: registry, build self, eager jobs,
      // Catalyst, execution jobs, execution self
      attributed += o.lookup.dur + (b.dur - bJobUs - bCatUs) + bJobUs +
        (o.plan.dur + bCatUs) + eJobUs + (e.dur - eJobUs)
      writeJobUs += Trace.covered(iv(all.filter(_.outBytes > 0)), o.root.start, o.root.end)
      sum("share.build_catalyst") += o.lookup.dur + b.dur + o.plan.dur
      sum("share.exec") += e.dur
    }
    val n = math.max(1, traced.size).toDouble
    val shares = Set("share.build_catalyst", "share.exec")
    sum.foreach { case (k, v) =>
      if (!shares(k)) m.put(k, v / n, Trace.unit(k)) }
    m.put("share.build_catalyst", sum("share.build_catalyst") / opWall, "ratio")
    m.put("share.exec", (sum("share.exec") - writeJobUs) / opWall, "ratio")
    m.put("share.stream_io", writeJobUs / opWall, "ratio")
    m.put("trace.ops", traced.size, "count")
    m.put("trace.reconcile_frac", attributed / opWall, "ratio")
  }
}

object ClosedLoop {
  val ColdThreads = 2
}
