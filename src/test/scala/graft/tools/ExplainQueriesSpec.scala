package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkSpec

/** Two builds of an unchanged plan must print the same normalized text,
  * so a plan dump of two commits diffs empty unless a plan changed.
  */
class ExplainQueriesSpec extends SparkSpec {

  test("normalize: two builds of the same query print the same plan") {
    assumeTestdata(sf001)
    def plan() = graft.SparkEntry.queries("tpch_revenue_monthly_sampled_u10")(spark, sf001)
      .queryExecution.explainString(FormattedMode)
    val (a, b) = (plan(), plan())
    assert(a !== b) // fresh expression ids and exchange plan ids
    assert(ExplainQueries.normalize(a) === ExplainQueries.normalize(b))
    assert(ExplainQueries.normalize(a).contains("graft_hash60("))
  }

  test("normalize: RDD ids and per-run JVM names") {
    assert(ExplainQueries.normalize(
      "Arguments: x.Multimodal$$$Lambda$6388/0x00007f70f18673c8@1d5ea30, " +
        "bloom(g#12L, [J@4afe1fdc, 7), [plan_id=431], MapPartitionsRDD[1078] at") ===
      "Arguments: x.Multimodal$$$Lambda$x@x, bloom(g#xL, [J@x, 7), [plan_id=x], " +
        "MapPartitionsRDD[x] at")
  }
}
