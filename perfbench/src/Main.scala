package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The outcome ledger of one run: every operation attempted, the ones
  * that failed and why, and the latency samples of the timed ones. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val reasons = mutable.ArrayBuffer.empty[String]
  val latencies = mutable.ArrayBuffer.empty[Double]

  /** Counts one operation; a `Some` reason marks it failed. */
  def record(reason: Option[String]): Unit = synchronized {
    attempted += 1
    reason.foreach { r => failed += 1; if (reasons.size < 20) reasons += r }
  }
}

object Stats {
  /** Mean of the slowest fifth of `xs` (at least one value): the tail
    * statistic. A run has 4 to 40 samples, too few for a high percentile
    * with ten samples beyond it, and the mean of the slowest fifth moves
    * less from run to run than any single order statistic. */
  def tailMean(xs: Seq[Double]): Double = {
    val k = math.max(1, math.ceil(xs.size / 5.0).toInt)
    xs.sorted.takeRight(k).sum / k
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Metric name -> (value, unit), in print order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
  def json: String = values.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else v.toString
    s""""$k":{"value":$num,"unit":"$u"}""" }.mkString("{", ",", "}")
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, corpus: String, work: String,
    expected: String, launchUs: Long, prepS: Double, record: Boolean)

object Main {
  /** Fixed core count: the workloads are sized for a 4-core machine. */
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (kv.get("--selftest").contains("1")) sys.exit(SelfTest.run())
    if (kv.contains("--build-index")) {
      // the standing gram index of the ingest workload: every even document
      val spark = session()
      try graft.ops.Dedup.saveGramIndex(spark.read.parquet(s"${kv("--data")}/documents.parquet")
          .where("doc_id % 2 = 0"), kv("--build-index"), "text",
          minLen = Ingest.MinLen, buckets = 16)
      finally spark.stop()
      sys.exit(0)
    }
    val a = Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--data"), kv("--corpus"), kv("--work"),
      kv("--expected"), kv("--launch-us").toLong, kv("--prep-s").toDouble,
      kv.get("--record").contains("1"))
    val code = try run(a) finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }
    sys.exit(code)
  }

  def session(): SparkSession = {
    val spark = graft.GraftSession.create(s"local[$Cores]", Cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def run(a: Args): Int = {
    val expected = Expected.load(Paths.get(a.expected))
    val m = new Metrics
    val ledger = new Ledger
    val tracer = if (a.trace) Some(new Tracer) else None
    val work = Paths.get(a.work)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = session()
    val tSession = System.nanoTime()
    val dataDir = if (a.workload == "corpus") a.corpus else a.data

    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val res = a.workload match {
      case "relational" | "corpus" =>
        new ClosedLoop(spark, a, Workloads.queries(a.workload), dataDir,
          expected, ledger, tracer).run(m)
      case "ingest" =>
        new Ingest(spark, a, expected, ledger, tracer).run(m)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    m.put("jvm.gc_s", (gcMs() - gc0) / 1e3, "s")
    m.put("jvm.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    val setupS = (res.firstOpUs - a.launchUs) / 1e6
    val spans = tracer.map(_.all).getOrElse(Nil)
    if (a.record) {
      Expected.save(Paths.get(a.expected), expected, res.recorded)
      System.err.println(s"[perfbench] recorded ${res.recorded.size} expectations")
    }

    val e2e = new Metrics
    val lat = ledger.latencies.toSeq
    e2e.put("setup_s", setupS, "s")
    if (lat.nonEmpty) {
      e2e.put("op_p50_s", Stats.median(lat), "s")
      e2e.put("op_tail_s", Stats.tailMean(lat), "s")
    }
    e2e.put("ops_per_min", res.timedOps * 60.0 / res.windowS, "1/min")
    val failedFrac = ledger.failed.toDouble / math.max(1L, ledger.attempted)

    System.out.println(f"[perfbench] ${a.workload} seed=${a.seed} " +
      f"ops=${lat.size} (tail = mean of the slowest ${math.max(1, math.ceil(lat.size / 5.0).toInt)}) " +
      f"attempted=${ledger.attempted} failed=${ledger.failed} " +
      f"failed_frac=$failedFrac%.4f window_s=${res.windowS}%.2f")
    e2e.values.foreach { case (k, (v, u)) =>
      System.out.println(f"[perfbench]   $k%-12s $v%.4f $u") }
    ledger.reasons.foreach(r => System.out.println(s"[perfbench] FAILED $r"))

    val out = if (a.trace) {
      m.put("setup.session_s", (tSession - t0) / 1e9, "s")
      m.put("setup.cold_pass_s", res.coldS, "s")
      m.put("setup.warmup_s", res.warmS, "s")
      m.put("setup.prep_s", a.prepS, "s")
      // every workload reports every layer; a layer it does not use is 0
      Workloads.perLayer.foreach(k => if (!m.values.contains(k)) m.put(k, 0.0, Trace.unit(k)))
      val traceFile = work.resolve("trace.jsonl")
      Trace.write(traceFile, spans)
      System.out.println(s"[perfbench] ${spans.size} spans in $traceFile")
      val missing = m.values.keySet -- Workloads.perLayer
      require(missing.isEmpty, s"per-layer metrics not declared: $missing")
      m.values.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
        System.out.println(f"[perfbench]   $k%-28s $v%.6f $u") }
      m
    } else e2e
    val correct = ledger.failed == 0 && lat.nonEmpty
    System.out.println(s"""{"correct":$correct,"attempted":${ledger.attempted},""" +
      s""""failed":${ledger.failed},"metrics":${out.json}}""")
    0
  }
}

/** What a workload hands back besides the ledger and metrics. */
final case class RunResult(firstOpUs: Long, coldS: Double, warmS: Double,
    windowS: Double, timedOps: Long, recorded: Map[String, String])

object Workloads {
  /** Engine-surface and TPC-H-shaped entries on sf0.1: a fraction of a
    * second to about a second each warm, so per-query fixed costs
    * (schema inference, eager jobs, Catalyst, job dispatch) are a large
    * share of every operation. */
  val relational: Seq[String] = Seq("q_sort_limit", "q_range_join",
    "q_asof_join", "q_rollup_route", "q_tpch_q3", "q_window")

  /** LLM-pipeline families on the sf1 slice: seconds each, dominated by
    * executor compute and shuffle. */
  val corpus: Seq[String] = Seq("q_minhash_lsh", "q_tfidf")

  def queries(w: String): Seq[String] = if (w == "corpus") corpus else relational

  /** Every per-layer metric a traced run prints, in BENCHMARK.json order. */
  val perLayer: Seq[String] = Seq(
    "registry.lookup_s",
    "build.s", "build.self_s", "build.jobs", "build.job_s",
    "engine.schema_jobs", "engine.schema_s",
    "catalyst.s", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s",
    "exec.s", "exec.job_s", "exec.self_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.task_wait_s",
    "exec.idle_core_s",
    "scan.bytes", "scan.rows", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "spill.bytes", "driver.result_bytes",
    "stream.batches", "stream.pickup_wait_s", "stream.trigger_s", "stream.source_s",
    "stream.plan_s", "stream.add_batch_s", "stream.commit_s", "stream.input_rows",
    "state.rows", "state.bytes", "state.commit_s",
    "io.write_bytes", "io.stored_bytes", "io.stored_bytes_per_input_byte",
    "setup.session_s", "setup.cold_pass_s", "setup.warmup_s", "setup.prep_s",
    "jvm.gc_s", "jvm.heap_peak_mb", "gen.late_max_s",
    "share.build_catalyst", "share.exec", "share.stream_io",
    "trace.ops", "trace.reconcile_frac", "trace.overhead_frac")
}
