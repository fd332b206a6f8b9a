package graft

import graft.queries.QuerySpec

/** Every registered query must execute at sf0.001 — the cheap local
  * version of the driver's t1 smoke, so a broken entry never waits for
  * the driver to find it. */
class QueriesSmokeSpec extends SparkSpec {

  test("bench headline names are all registered queries") {
    val missing = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"headline without queries: $missing")
  }

  test("the registry refuses a repeated name or a blank oracle, naming it") {
    val q = QuerySpec("q_a", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val dup = intercept[IllegalArgumentException](
      QuerySpec.index(Seq(q, q.copy(name = "q_b"), q)))
    assert(dup.getMessage.contains("q_a") && !dup.getMessage.contains("q_b"),
      dup.getMessage)
    val blank = intercept[IllegalArgumentException](
      QuerySpec.index(Seq(q, q.copy(name = "q_b", oracleSql = null))))
    assert(blank.getMessage.contains("q_b") &&
      !blank.getMessage.contains("q_a"), blank.getMessage)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val df = fn(spark, sfDir)
      df.collect()
      assert(df.columns.nonEmpty)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }
}
