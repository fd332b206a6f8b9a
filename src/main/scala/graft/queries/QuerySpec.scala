package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: how to build it over a testdata directory, and
  * the DuckDB SQL that must return the same rows on the same files.
  * Oracle column names and aliases match the Spark result exactly (the
  * compare sorts columns by name). */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

object QuerySpec {

  /** Specs by name. Refuses a repeated name, which a map literal would
    * silently collapse to its last entry, and a blank oracle, which is
    * what a spec built before its oracle's helper initialised holds. */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val blank = specs.collect { case q if q.oracleSql == null ||
      q.oracleSql.trim.isEmpty => q.name }
    require(blank.isEmpty, s"queries without an oracle: ${blank.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
