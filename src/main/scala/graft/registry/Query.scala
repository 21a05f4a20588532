package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its DataFrame builder over a lake
  * directory, and how the builder's result is checked.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: Oracle)

sealed trait Oracle

/** DuckDB twin: run over the same parquet tables, its result must match
  * the builder's rows, column names and value hashes.
  */
final case class Sql(text: String) extends Oracle

/** No SQL statement can replay the result, so only its rows are checked.
  * `cause` says why; `pinnedBy` names the ScalaTest suite in package
  * `graft` that checks the result instead.
  */
final case class RowsOnly(cause: String, pinnedBy: String) extends Oracle

object Query {

  /** Name -> record. Rejects duplicate names, which a `Map` literal
    * would silently collapse to the last one.
    */
  def index(records: Seq[Query]): Map[String, Query] = {
    val dups = records.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    records.map(q => q.name -> q).toMap
  }
}
