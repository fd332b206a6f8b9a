package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One file the generator landed: when it was due, when the generator
  * got to it, and when the rename made it visible. */
final case class Landed(name: String, dueUs: Long, startUs: Long, landedUs: Long,
    bytes: Long) {
  def lateS: Double = (startUs - dueUs) / 1e6
}

/** The open-loop file generator. It sleeps until each file is due (an
  * offset in seconds from its start) and then lands it, whether or not
  * the consumer kept up. `land` moves a file written elsewhere into the
  * watched directory. */
object Generator {
  def run(schedule: Seq[(String, Double)], land: String => Long): Seq[Landed] = {
    val t0 = Clock.nowUs
    schedule.map { case (n, at) =>
      val due = t0 + (at * 1e6).toLong
      val wait = due - Clock.nowUs
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
      val start = Clock.nowUs
      val bytes = land(n)
      Landed(n, due, start, Clock.nowUs, bytes)
    }
  }

  /** Why a landed file counts as failed on the generator's side: the
    * generator got to it `limitS` or more behind its schedule. */
  def check(f: Landed, limitS: Double): Option[String] =
    if (f.lateS >= limitS) Some(f"${f.name} landed ${f.lateS}%.3f s late") else None
}

/** Progress of every micro-batch that read input. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) batches.add(e.progress)
}

/** The write workload. Phase A streams seeded slices of `events` through
  * `StreamOps.windowedCounts` (state store); phase B streams seeded
  * slices of documents through `StreamOps.substringDedupIngest` against a
  * standing gram index (staged artifacts, index appends). An operation is
  * one landed file; its latency runs from when the file was due to the
  * commit of the micro-batch that read it. */
final class Ingest(spark: SparkSession, a: Args, expected: Map[String, String],
    ledger: Ledger, tracer: Option[Tracer]) {
  import Ingest._
  private val work = Path.of(a.work)
  private val idx = work.resolve("gramidx").toString
  private val recorded = mutable.Map.empty[String, String]

  /** The generator's plan, written with the input files before the run:
    * `name<TAB>due offset s<TAB>doc ids` lines; phase A files start with
    * `a`, phase B files with `b`. */
  private val schedule: Seq[(String, Double, Seq[Long])] =
    Files.readAllLines(work.resolve("schedule.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t", -1)
      (f(0), f(1).toDouble, f(2).split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
    }

  private def stage(name: String): Path = work.resolve("stage").resolve(s"$name.parquet")

  /** Lands what is due at one time: a phase A file straight into the
    * events directory, or a phase B burst as one directory of files, so
    * that a listing sees all of a burst or none of it and one
    * micro-batch reads the whole burst. */
  private def land(watchA: Path, watchB: Path)(names: Seq[String]): Long = {
    val (tmp, dest) =
      if (names.head.startsWith("a")) {
        val n = names.head
        Files.copy(stage(n), work.resolve(s"$n.tmp"))
        (work.resolve(s"$n.tmp"), watchA.resolve(s"$n.parquet"))
      } else {
        val dir = Files.createDirectory(work.resolve(s"g${names.head}.tmp"))
        names.foreach(n => Files.copy(stage(n), dir.resolve(s"$n.parquet")))
        (dir, watchB.resolve(s"g${names.head}"))
      }
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    names.map(n => Files.size(stage(n))).sum
  }

  /** Runs the generator over `files`, landing the files of each phase
    * that share a due time together, and returns one [[Landed]] per
    * file. */
  private def generate(files: Seq[(String, Double)], landing: Seq[String] => Long): Seq[Landed] = {
    val units = files.groupBy(f => (f._1.head, f._2)).values.map(_.map(_._1).sorted)
      .toSeq.sortBy(_.head)
    val byHead = units.map(u => u.head -> u).toMap
    Generator.run(units.map(u => u.head -> files.find(_._1 == u.head).get._2),
        h => landing(byHead(h)))
      .flatMap(l => byHead(l.name).map(n => l.copy(name = n, bytes = Files.size(stage(n)))))
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close() }

  /** file name -> batch id, from the file source's log in the checkpoint. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.exists(dir)) return Map.empty
    val P = """"path":"[^"]*/([^/"]+)\.parquet".*"batchId":(\d+)""".r.unanchored
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case P(n, b) => n -> b.toLong }.toMap
    finally ls.close()
  }

  def run(m: Metrics): RunResult = {
    // a file due before the clock starts is a primer: the primers due at
    // one time run one untimed micro-batch of each stream, and they are
    // checked like the rest
    val (primers, timed) = schedule.partition(_._2 < 0)
    val filesA = timed.filter(_._1.startsWith("a"))
    val filesB = timed.filter(_._1.startsWith("b"))
    val docIds = schedule.map(f => f._1 -> f._3).toMap
    val docsSchema = spark.read.parquet(stage(filesB.head._1).toString).schema
    if (a.record) {
      val odd = spark.read.parquet(s"${a.data}/documents.parquet")
        .select("doc_id", "text").where(col("doc_id") % 2 === 1)
      graft.ops.Dedup.exciseAgainstIndex(odd, idx, "doc_id", "text", MinLen)
        .select(col("doc_id"), xxhash64(col("text_dedup"))).collect()
        .foreach(r => recorded(s"doc:${r.getLong(0)}") = java.lang.Long.toHexString(r.getLong(1)))
    }
    val want = (if (a.record) recorded.toMap else expected)

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val watchA = Files.createDirectories(work.resolve("a").resolve("events.parquet"))
    val ckptA = work.resolve("a_ckpt")
    val qa = startA(watchA, ckptA, "perfbench_a")
    val watchB = Files.createDirectories(work.resolve("b"))
    val ckptB = work.resolve("b_ckpt")
    val delivered = new ConcurrentLinkedQueue[(Long, Long)]()
    val qb = graft.streaming.StreamOps.substringDedupIngest(
        spark.readStream.schema(docsSchema).parquet(s"$watchB/*"), idx,
        checkpoint = ckptB.toString, minLen = MinLen) { (cleaned, _) =>
      cleaned.select(col("doc_id"), xxhash64(col("text_dedup"))).collect()
        .foreach(r => delivered.add(r.getLong(0) -> r.getLong(1)))
    }.start()
    val landing = land(watchA, watchB) _

    // untimed cold pass: query start-up and the primers' micro-batches,
    // both streams side by side, one round per primer due time
    val c0 = System.nanoTime()
    val landedP = primers.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (_, fs) =>
      val landed = generate(fs.map(f => f._1 -> 0.0), landing)
      Seq(qa, qb).foreach(drain)
      landed
    }
    val coldS = (System.nanoTime() - c0) / 1e9

    val hooks = new SparkHooks
    tracer.foreach(_ => spark.sparkContext.addSparkListener(hooks))
    val stored0 = Seq(work.resolve("gramidx"), ckptA, ckptB).map(du).sum
    val firstOp = Clock.nowUs
    val w0 = System.nanoTime()

    // phase B, then phase A: run after phase A, the first timed phase B
    // micro-batch was about a second slower than the second one
    val landedB = generate(filesB.map(f => f._1 -> f._2), landing)
    drain(qb); qb.stop()
    val landedA = generate(filesA.map(f => f._1 -> f._2), landing)
    drain(qa); qa.stop()
    val windowS = (System.nanoTime() - w0) / 1e9
    val okA = scala.util.Try(checkA(watchA.getParent.toString)).getOrElse(false)
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    tracer.foreach(_ => spark.sparkContext.removeSparkListener(hooks))

    val got = delivered.asScala.toSeq.groupBy(_._1)
    def checkB(f: Landed): Option[String] = {
      val bad = docIds(f.name).filterNot(id => got.get(id).exists(d => d.size == 1 &&
        want.get(s"doc:$id").contains(java.lang.Long.toHexString(d.head._2))))
      if (bad.isEmpty) None
      else Some(s"${f.name}: ${bad.size} docs not delivered once with the expected text")
    }

    // latency: due time -> commit of the micro-batch that read the file
    val progs = progress.batches.asScala.toSeq
    def commitUs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L +
        p.durationMs.get("triggerExecution").longValue * 1000L
    def startUs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val pickup = mutable.ArrayBuffer.empty[Double]
    val phaseLags = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Double)]]
    def account(landed: Seq[Landed], q: StreamingQuery, ckpt: Path, timed: Boolean,
        phaseOk: Landed => Option[String]): Unit = {
      val byBatch = progs.filter(_.runId == q.runId).map(p => p.batchId -> p).toMap
      val fb = fileBatches(ckpt)
      landed.foreach { f =>
        val p = fb.get(f.name).flatMap(byBatch.get)
        val reason = Generator.check(f, LateLimitS)
          .orElse(if (p.isEmpty) Some(s"${f.name} was never committed") else None)
          .orElse(phaseOk(f))
        ledger.record(reason)
        if (timed) p.foreach { p =>
          val lag = (commitUs(p) - f.dueUs) / 1e6
          ledger.latencies += lag
          phaseLags.getOrElseUpdate(f.name.take(1).toUpperCase, mutable.ArrayBuffer.empty) +=
            p.batchId -> lag
          pickup += math.max(0L, startUs(p) - f.landedUs) / 1e6
        }
      }
    }
    val phaseA = (_: Landed) =>
      if (okA) None else Some("phase A result differs from q_events_hourly")
    account(landedP.filter(_.name.startsWith("a")), qa, ckptA, timed = false, phaseA)
    account(landedP.filter(_.name.startsWith("b")), qb, ckptB, timed = false, checkB)
    account(landedA, qa, ckptA, timed = true, phaseA)
    account(landedB, qb, ckptB, timed = true, checkB)
    phaseLags.foreach { case (ph, ls) =>
      val lags = ls.map(_._2).toSeq
      System.out.println(f"[perfbench] phase $ph: ${ls.size} files in " +
        f"${ls.map(_._1).distinct.size} micro-batches, lag median ${Stats.median(lags)}%.3f s, " +
        f"max ${lags.max}%.3f s")
    }

    if (tracer.isDefined) {
      val all = landedA ++ landedB
      val inBytes = all.map(_.bytes).sum.toDouble
      val stored = Seq(work.resolve("gramidx"), ckptA, ckptB).map(du).sum - stored0
      layers(progs.filter(p => startUs(p) >= firstOp), Seq(qa, qb), hooks, m)
      m.put("stream.pickup_wait_s", pickup.sum / math.max(1, pickup.size), "s")
      m.put("io.stored_bytes", stored, "bytes")
      m.put("io.stored_bytes_per_input_byte", stored / inBytes, "ratio")
      m.put("gen.late_max_s", all.map(_.lateS).max, "s")
      m.put("trace.overhead_frac", hooks.busyNs.get / 1e9 / windowS, "ratio")
    }
    RunResult(firstOp, coldS, 0.0, windowS, (landedA ++ landedB).size, recorded.toMap)
  }

  /** Waits until `q` has processed every landed file. A stream that
    * fails leaves its remaining files uncommitted, and they count as
    * failed operations. */
  private def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable()
    catch { case e: Exception => System.err.println(s"[perfbench] ${q.name} failed: $e") }

  private def startA(watch: Path, ckpt: Path, name: String): StreamingQuery = {
    val schema = spark.read.parquet(stage(schedule.find(_._1.startsWith("a")).get._1)
      .toString).schema
    graft.streaming.StreamOps.windowedCounts(graft.streaming.StreamOps.withEventTime(
        spark.readStream.schema(schema).parquet(watch.toString)))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation", ckpt.toString).start()
  }

  /** Phase A's streamed windows equal the batch `q_events_hourly` result
    * over the files that landed. */
  private def checkA(dir: String): Boolean = {
    val batch = graft.SparkEntry.queries("q_events_hourly")(spark, dir)
      .select(unix_micros(to_timestamp(col("hour"))), col("event_type"), col("n"),
        col("sum_value")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val stream = spark.table("perfbench_a")
      .select(unix_micros(col("window_start")), col("event_type"), col("n"),
        col("sum_value")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    batch.keySet == stream.keySet && batch.forall { case (k, (n, s)) =>
      val (n2, s2) = stream(k)
      n == n2 && math.abs(s - s2) <= 1e-6 * math.max(1.0, math.abs(s))
    }
  }

  /** Per-micro-batch layer times from the progress reports, and the Spark
    * jobs of each batch from the traced listener. */
  private def layers(progs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      qs: Seq[StreamingQuery], hooks: SparkHooks, m: Metrics): Unit = {
    val mine = progs.filter(p => qs.exists(_.runId == p.runId))
    val n = math.max(1, mine.size).toDouble
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val jobs = hooks.jobs.values.asScala.toSeq.filter(j => j.end >= 0 && j.batch.nonEmpty)
      .groupBy(_.batch)
    val sum = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var trig, attributed, planMs, ioUs = 0.0
    val tr = tracer.get
    mine.zipWithIndex.foreach { case (p, i) =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val t = d(p, "triggerExecution")
      val root = tr.add(s"batch:${p.name}:${p.batchId}", start, start + t * 1000L, -1, i)
      // the phases run one after another in this order within a trigger
      var at = start
      val parts = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").map { k =>
        val id = tr.add(s"stream.$k", at, at + d(p, k) * 1000L, root, i)
        at += d(p, k) * 1000L
        k -> id
      }.toMap
      val bj = jobs.getOrElse(s"${p.id}:${p.batchId}", Nil)
      bj.foreach(j => tr.add(s"job:${j.callSite}", j.start, j.end, parts("addBatch"), i))
      val writes = bj.filter(_.outBytes > 0).map(j => (j.start, j.end))
      trig += t
      attributed += Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").map(d(p, _)).sum
      planMs += d(p, "queryPlanning")
      ioUs += Trace.covered(writes, start, start + t * 1000L) / 1e3 +
        d(p, "latestOffset") + d(p, "getBatch") + d(p, "walCommit") + d(p, "commitOffsets")
      sum("stream.trigger_s") += t / 1e3
      sum("stream.source_s") += (d(p, "latestOffset") + d(p, "getBatch")) / 1e3
      sum("stream.plan_s") += d(p, "queryPlanning") / 1e3
      sum("stream.add_batch_s") += d(p, "addBatch") / 1e3
      sum("stream.commit_s") += (d(p, "walCommit") + d(p, "commitOffsets")) / 1e3
      sum("stream.input_rows") += p.numInputRows
      sum("state.commit_s") += p.stateOperators.map(_.commitTimeMs).sum / 1e3
      Trace.addJobs(sum, bj, bj, d(p, "addBatch") / 1e3)
    }
    m.put("stream.batches", mine.size, "count")
    sum.foreach { case (k, v) => m.put(k, v / n, Trace.unit(k)) }
    val lastA = mine.filter(_.stateOperators.nonEmpty).lastOption
    m.put("state.rows", lastA.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)
      .getOrElse(0.0), "count")
    m.put("state.bytes", lastA.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      .getOrElse(0.0), "bytes")
    m.put("share.build_catalyst", planMs / trig, "ratio")
    m.put("share.exec", (trig - planMs - ioUs) / trig, "ratio")
    m.put("share.stream_io", ioUs / trig, "ratio")
    m.put("trace.ops", mine.size, "count")
    m.put("trace.reconcile_frac", attributed / trig, "ratio")
  }
}

object Ingest {
  /** A file the generator reaches this late counts as failed. */
  val LateLimitS = 0.2
  val MinLen = 8
}
