package graft.tools


/** Plan-audit helper: print the formatted physical plan of the named
  * declared queries (all of them when none are named) — the `.explain`
  * loop the build discipline calls for after each operator lands.
  * Expression ids (`#123L`), exchange `plan_id=` and RDD id counters
  * (`MapPartitionsRDD[1078]`) and the JVM's per-run names (lambda classes
  * `Lambda$6222/0x00007f3e2d7f9818`, identity hashes `[J@1b3bdde1`) are
  * normalized to `#x`, `plan_id=x`, `RDD[x]`, `Lambda$x` and `@x`, so the
  * output of two builds diffs empty wherever their plans are the same.
  * Usage: runMain graft.tools.ExplainQueries <sfDir> [queryName...]
  */
object ExplainQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.builder("local[4]", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      println(normalize(graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }

  /** `plan` with its per-session counters and per-run JVM names replaced
    * by placeholders.
    */
  def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x").replaceAll("@[0-9a-f]+\\b", "@x")
}
