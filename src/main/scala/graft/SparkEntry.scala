package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._
import graft.registry.LakeQueries.q1Agg

/** Driver contract — query registry + DuckDB oracle twins.
  *
  * Each query is one [[registry.Query]] record holding its builder next
  * to its DuckDB twin, or the reason it has none. The records live one
  * file per family under `registry/`.
  *
  * Naming follows SURVEY.md §2. Every aggregate / computed column is
  * aliased identically in the builder and in its SQL twin (results
  * are compared by column name). Monetary aggregates are summed in DECIMAL
  * (exact, order-independent) and cast to DOUBLE at the end so parallel
  * reduction order can never change the value.
  */
object SparkEntry {

  /** Every registered query, family by family. */
  lazy val registry: Seq[Query] = Seq(
    LakeQueries.records, ServingQueries.records, AnalyticsQueries.records,
    GraphQueries.records, MlQueries.records, TextQueries.records,
    EmbeddingQueries.records, StreamingQueries.records, SamplingQueries.records,
    MediaQueries.records).flatten

  private lazy val byName: Map[String, Query] = Query.index(registry)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (name, q) => name -> q.build }

  def oracleSql: Map[String, String] =
    byName.collect { case (name, Query(_, _, Sql(sql))) => name -> sql }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")
}
