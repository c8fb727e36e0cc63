package graft.compare

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-vs-approximate error measurement (operator T7) over in-memory
  * frames — the reference's sorted-merge comparator formula
  * (RSMRResultComparator.java:43-82) for an exact baseline, which the
  * sampling specs measure against. The on-disk cross-run comparator is
  * [[CompareRuns]]; it divides by Σ c0/r0 and ignores keys missing from
  * run 0, so the two differ when run 0 is itself sampled.
  *
  * The reference merges key-sorted text outputs and accumulates
  *   dataErrorRate = Σ|exact − sampled/ratio| / Σ exact
  * treating keys missing from the sampled run as 0. Here that is one
  * full-outer join + one aggregate; the join key is the group-by key, so at
  * scale it shuffles once on the same key the aggregation already used
  * (AQE picks broadcast automatically when one side is small).
  */
object ResultComparator {

  /** Data error rate of `approx` (already HT-scaled estimates) vs `exact`.
    *
    * @param keys     group-by key column(s), present in both inputs
    * @param exactCol name of the exact value column
    * @param estCol   name of the scaled-estimate column in `approx`
    */
  def dataErrorRate(
      exact: DataFrame,
      approx: DataFrame,
      keys: Seq[String],
      exactCol: String = "cnt",
      estCol: String = "est_cnt"): Double = {
    val joined = exact
      .withColumnRenamed(exactCol, "__exact")
      .join(approx.withColumnRenamed(estCol, "__est"), keys, "full_outer")
      .select(
        coalesce(col("__exact").cast("double"), lit(0.0)).as("e"),
        coalesce(col("__est").cast("double"), lit(0.0)).as("a"))
    val row = joined
      .agg(sum(abs(col("e") - col("a"))).as("diff"), sum(col("e")).as("total"))
      .head()
    if (row.isNullAt(1) || row.getDouble(1) == 0.0) 0.0
    else row.getDouble(0) / row.getDouble(1)
  }
}
