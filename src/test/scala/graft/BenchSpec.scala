package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** `Bench.run` on the shared test session: the compact stdout record
  * keeps its key set, and naming entries adds their plan-shape
  * readings to the verbose record.
  */
class BenchSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def keys(json: String): Seq[String] =
    new ObjectMapper().readTree(json).fieldNames().asScala.toSeq

  test("a named entry keeps the compact keys and adds jobs and final_plan for that entry only") {
    val (line, verbose) = Bench.run(spark, sfDir, Seq("q1_agg"))
    assert(keys(line) == Seq("metric", "value", "unit", "queries", "ops", "sentinel",
      "sentinel_expected", "degraded", "spread_suspect", "errors", "sf"), line)
    val v = new ObjectMapper().readTree(verbose)
    assert(v.get("metric").asText() == "total_verbose")
    assert(v.get("errors").isEmpty, verbose)
    assert(keys(v.get("queries").toString) == Seq("q1_agg"), verbose)
    assert(keys(v.get("jobs").toString) == Seq("q1_agg"), verbose)
    assert(v.get("jobs").get("q1_agg").asInt() >= 1, verbose)
    assert(keys(v.get("final_plan").toString) == Seq("q1_agg"), verbose)
    val plan = v.get("final_plan").get("q1_agg")
    assert(keys(plan.toString) == Seq("ReusedQueryStage", "ReusedExchange", "Exchange",
      "scans", "smj", "shj", "bhj", "sortAgg"), verbose)
    assert(plan.get("scans").asInt() >= 1, verbose)
    assert(!spark.sparkContext.isStopped)
  }
}
