package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {

  test("bench: a query that throws is left out of the total and counted in n_failed") {
    val builders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok_query" -> ((s, _) => s.range(1000).toDF()),
      "throwing_query" -> ((_, _) => throw new IllegalStateException("boom")))
    val outcomes = builders.map { case (n, fn) => n -> Bench.timeOnce(spark, sf, n, fn) }
    assert(outcomes.toMap.apply("throwing_query").isEmpty)
    val okSec = outcomes.toMap.apply("ok_query").get
    val line = new ObjectMapper().readTree(Bench.totalLine(outcomes, sf, complete = true))
    assert(line.get("n_failed").asInt == 1)
    assert(line.get("n_queries").asInt == 1)
    assert(line.get("value").asDouble == math.rint(okSec * 1000) / 1000)
    assert(!line.get("queries").has("throwing_query"))
  }
}
