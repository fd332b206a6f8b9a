package perfbench

import scala.util.{Failure, Success, Try}

/** The benchmark's own tests of its failure accounting, run with fake
  * operations and a fake generator so no engine code is involved except
  * a small fingerprinted DataFrame. Exit code 0 when every case holds. */
object SelfTest {
  private var bad = 0

  private def expect(name: String, cond: Boolean): Unit = {
    println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $name")
    if (!cond) bad += 1
  }

  def run(): Int = {
    val want = Map("q:fake" -> Fingerprint(3L, 42L).show)

    val ledger = new Ledger
    ledger.record(Expected.check("fake", Success(Fingerprint(3L, 42L)), want))
    expect("a correct result is not counted as failed", ledger.failed == 0)
    ledger.record(Expected.check("fake",
      Try(throw new IllegalStateException("boom")), want))
    expect("an operation that throws is counted as failed", ledger.failed == 1)
    ledger.record(Expected.check("fake", Success(Fingerprint(3L, 43L)), want))
    expect("a wrong fingerprint is counted as failed", ledger.failed == 2)
    ledger.record(Expected.check("unknown", Success(Fingerprint(3L, 42L)), want))
    expect("a result with no expectation is counted as failed", ledger.failed == 3)
    expect("every operation is counted as attempted", ledger.attempted == 4)

    def every(n: Int, s: Double) = (0 until n).map(i => s"f$i" -> i * s)
    val onTime = Generator.run(every(3, 0.05), _ => 1L)
    expect("a generator on schedule lands every file on time",
      onTime.forall(f => Generator.check(f, 0.05).isEmpty))
    // landing takes longer than the interval, so each file is later than
    // the one before it
    val behind = Generator.run(every(4, 0.05), _ => { Thread.sleep(120); 1L })
    val late = new Ledger
    behind.foreach(f => late.record(Generator.check(f, 0.05)))
    expect("a generator that falls behind has its late files counted as failed",
      late.failed == 3 && late.attempted == 4)

    val spark = Main.session()
    try {
      import spark.implicits._
      val df = Seq((1L, "a", 0.5), (2L, "b", -0.0), (3L, null, Double.NaN))
        .toDF("k", "s", "d")
      val fp = Fingerprint.of(df.queryExecution)
      val shuffled = Fingerprint.of(df.repartition(3).orderBy($"k".desc).queryExecution)
      expect("the fingerprint ignores row order and partitioning", fp == shuffled)
      val changed = Fingerprint.of(df.where($"k" =!= 2L)
        .union(Seq((2L, "b", 0.25)).toDF("k", "s", "d")).queryExecution)
      expect("the fingerprint sees a changed value", fp.rows == 3 && fp != changed)
      expect("the fingerprint round-trips its text form",
        Fingerprint.parse(fp.show) == fp)
    } finally spark.stop()
    println(s"[selftest] ${if (bad == 0) "all passed" else s"$bad failed"}")
    if (bad == 0) 0 else 1
  }
}
