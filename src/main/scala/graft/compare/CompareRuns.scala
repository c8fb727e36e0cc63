package graft.compare

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sampling.SamplingReport
import graft.sinks.TextKVSink

/** The reference's standalone cross-run comparator as a CLI surface
  * (RSMRResultComparator.java:35-88, invoked per README.md:48):
  * `graft.Main compare <commonPath> <r0> <r1> …` where each run directory is
  * the string concatenation `commonPath + rX` — exactly the reference's
  * `~/output/rate 1.0 0.5 0.25` convention.
  *
  * Per run it reads the key-sorted K1 output and the K2 report
  * (`result.txt`, machine-parsed back via [[SamplingReport.parse]] as the
  * reference did, RSMRResultComparator.java:91-109), then scores every
  * non-baseline run against run 0 with the reference's exact accumulation:
  *
  *   rate_i = Σ_keys(0) |c0 − c_i · r0/r_i|  /  Σ_keys(0) (c0 / r0)
  *
  * Baseline-driven like the reference's sorted merge: keys absent from run i
  * count 0; keys absent from run 0 are ignored (a sampled run's key set is a
  * subset of the exact run's, so this matches the merge loop's behavior).
  * The join key is the aggregate's group key, so the comparison is one
  * left-outer join + one aggregate per run — distributed, unlike the
  * reference's single-threaded reader, but computing the same number.
  */
object CompareRuns {

  final case class RunResult(
      name: String,
      ratio: Double,
      reportText: Option[String],
      dataErrorRate: Option[Double]) // None for the baseline run

  /** result.txt candidates: inside the run dir (the reference layout,
    * RSMRResultComparator.java:93) or the `<out>.result.txt` sibling
    * ([[graft.Main.runJob]]'s naming). Never the parent dir: a report-less
    * run sharing a parent with another run's result.txt would silently
    * score with the wrong designed rate instead of the documented
    * exact=1.0 default (ADVICE r5).
    */
  private def findReportText(runDir: String): Option[String] = {
    val f = new java.io.File(runDir)
    Seq(
      new java.io.File(f, "result.txt"),
      new java.io.File(f.getParentFile, f.getName + ".result.txt"))
      .find(_.isFile)
      .map(p => new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8"))
  }

  /** The reference's accumulation over one (baseline, run i) pair.
    * `scale` = r0/r_i; `r0` divides the denominator
    * (RSMRResultComparator.java:69-73).
    */
  private def refErrorRate(
      base: DataFrame, other: DataFrame, scale: Double, r0: Double): Double = {
    val b = base.select(col("key"), col("value").cast("double").as("c0"))
    val o = other.select(col("key"), col("value").cast("double").as("ci"))
    val row = b.join(o, Seq("key"), "left_outer")
      .agg(
        sum(abs(col("c0") - coalesce(col("ci"), lit(0.0)) * scale)).as("diff"),
        sum(col("c0") / r0).as("total"))
      .head()
    if (row.isNullAt(1) || row.getDouble(1) == 0.0) 0.0
    else row.getDouble(0) / row.getDouble(1)
  }

  /** Compare `runs` (first = baseline, largest ratio — the reference's
    * stated convention). A run without a result.txt is treated as exact
    * (ratio 1.0).
    */
  def compare(spark: SparkSession, commonPath: String, runs: Seq[String]): Seq[RunResult] = {
    require(runs.size >= 2, "compare needs a baseline run and at least one run to score")
    val dirs = runs.map(commonPath + _)
    val reports = dirs.map(findReportText)
    val ratios = reports.map(_.map(SamplingReport.parse(_).designedRate).getOrElse(1.0))
    // readParts, not read: the reference layout keeps result.txt INSIDE the
    // run dir beside part-r-00000 — it must not be ingested as K1 rows
    val kvs = dirs.map(TextKVSink.readParts(spark, _))
    runs.indices.map { i =>
      val rate =
        if (i == 0) None
        else Some(refErrorRate(kvs.head, kvs(i), ratios.head / ratios(i), ratios.head))
      RunResult(runs(i), ratios(i), reports(i), rate)
    }
  }

  /** The reference's stdout rendering: per-run header + result.txt lines,
    * with `[Data error rate]` appended to every scored run
    * (RSMRResultComparator.java:84-95).
    */
  def render(results: Seq[RunResult]): String =
    results.map { r =>
      val header = s"=== Result with sampling ratio ${r.ratio}==="
      val body = r.reportText.map(_.linesIterator.toSeq).getOrElse(Nil)
      val err = r.dataErrorRate.map(e => f"[Data error rate] ${e * 100}%.2f%%").toSeq
      (header +: (body ++ err)).mkString("\n")
    }.mkString("\n")
}
