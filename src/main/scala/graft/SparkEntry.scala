package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — every operator from SURVEY.md §2 (parity surface) plus
  * the LLM-data-pipeline extension operators, each as a named query with a
  * DuckDB-equivalent oracle. A query and its oracle are declared together,
  * once, as a [[QuerySpec]] in its family's file under `graft.queries`.
  *
  * Float-safety convention for oracle parity: per-row double arithmetic is
  * bit-exact across engines (same IEEE ops), so it is emitted raw; multi-row
  * double SUM/AVG depend on summation order, so sums go through an exact
  * DECIMAL(18,2) accumulator (the fixtures are 2-decimal money values) and
  * come back as double — bit-exact on both engines by construction.
  */
object SparkEntry {

  private val registry: Map[String, QuerySpec] = QuerySpec.index(
    ParityQueries.specs ++ RelationalQueries.specs ++ TpchQueries.specs ++
      StatsQueries.specs ++ GraphQueries.specs ++ SketchQueries.specs ++
      TextQueries.specs ++ DedupQueries.specs ++ SimilarityQueries.specs ++
      WebQueries.specs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.build }

  val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracleSql }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The corpus
    * curation pipeline exercises the engine end-to-end: quality scoring
    * (expression layer) -> exact similarity join (codegen'd shingles,
    * prefix-filtered index) -> anti-join -> aggregation. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_corpus_curate")(spark, "/root/testdata/sf0.001")
}
