package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Correlated JOIN sampling — the universe sample pushed through a join
  * (Kandula et al., "Quickr: Lazily Approximating Complex AdHoc Queries
  * in BigData Clusters", SIGMOD 2016 §4: sample join INPUTS on the join
  * key, not the join output). Both sides keep a row iff the SAME
  * deterministic hash of the join key lands in the sampled range
  * ([[UniverseSampled.keep]]), so for a kept key the join is COMPLETE —
  * every order travels with all its lineitems — and a joined row's
  * inclusion probability is `p`, not `p²`: one first-order
  * Horvitz–Thompson scale `1/p` unbiases any additive aggregate. This is
  * the multi-table face of the engine's sampling core, and the reason
  * [[UniverseSampled]]'s unit atomicity exists at all.
  *
  * Contrast with the per-row samplers: Bernoulli-sampling each side
  * independently keeps a joined row with probability `p²` (100× the
  * variance at p = 0.1) and BREAKS per-key completeness (a kept order
  * sees a ~p-thinned subset of its lineitems, so per-key structure is
  * destroyed); and the deliberate no-sampled-Q3 note
  * ([[graft.queries.TpchQueries.q6Sampled]]) still stands — per-ORDER
  * estimates from ~4 lineitems are statistically useless. The estimator
  * offered here aggregates COARSELY (order months, each spanning ~1/84
  * of all orderkeys), where the per-group key population carries the
  * usual √((1−p)/(p·n)) relative error.
  *
  * Scale shape: the keep-predicate is a codegen'd scan-stage filter on
  * each side (one md5 per row, below the join's exchange on BOTH sides —
  * spec-pinned), so 1−p of both tables never reaches the shuffle; at
  * 100 TB the join moves 10× fewer bytes end-to-end. Determinism makes
  * the whole estimator oracle-gated: DuckDB replays keep-set, join, and
  * integer HT scale bit-for-bit.
  *
  * Fixture-scale honesty (the [[UniverseSampled]] decision rule applied
  * to joins): at sf0.1 the post-sample orders side fits a broadcast, so
  * the join moves no shuffle bytes either way; the sampled twin saves
  * only the join and aggregate work on 1−p of the rows, against one md5
  * per row. Monthly revenue at sf0.1 (4-core host, `TimeQuery`) runs
  * 0.62 s wall / 1.2 s CPU sampled vs 0.85 s / 1.9 s exact; on the
  * smaller `aqp_join` benchmark inputs it is break-even at 10 % (0.57 vs
  * 0.59 s) and a gain at 1 % (0.50 s). The shuffle-side win this
  * operator exists for appears exactly when neither side broadcasts (the
  * 100 TB case): then the sample cuts BOTH exchanges ×(1/p), which no
  * single-table sampler can do for a join.
  *
  * One spelling per estimator, the [[CongressionalSampled.estimateWithBounds]]
  * precedent: each join has ONE item-stream builder ([[monthlyItems]],
  * [[segmentItems]]) that the exact twin feeds whole and the sampled
  * twins feed universe-sampled; the sampled twin is that stream under the
  * ONE scaled estimate list ([[estimate]]), and the bounds twin is the
  * same list plus `n_keys` with `err_bound` on top. Each join's DuckDB
  * oracles come from one SQL template taking the keep-set and the select
  * list, so a change to a join or to the bound chain is a one-site edit.
  */
object JoinSampled {

  /** Revenue in 1e4 integer units (cents × percent, the TPC-H convention of
    * [[graft.queries.TpchQueries.q3]]) — the Column twin of [[RevE4Sql]];
    * the two spellings must change in lockstep.
    */
  private def revE4: Column = {
    val priceC = round(col("l_extendedprice") * 100).cast("long")
    val discP = round(col("l_discount") * 100).cast("long")
    priceC * (lit(100L) - discP)
  }

  /** `df` universe-sampled on `unit` at `pct`, or whole for the exact twin. */
  private def kept(df: DataFrame, unit: String, pct: Option[Int]): DataFrame =
    pct.fold(df)(UniverseSampled.sample(df, col(unit), _))

  /** The ONE spelling of the orders⋈lineitem item stream (one row per
    * lineitem, with its order month and `rev_e4`) — both sides sampled on
    * the JOIN KEY, orderkey, when `pct` is given.
    */
  private def monthlyItems(
      orders: DataFrame, lineitem: DataFrame, pct: Option[Int]): DataFrame =
    kept(orders, "o_orderkey", pct)
      .select(col("o_orderkey"), date_trunc("month", col("o_orderdate")).as("month"))
      .join(
        kept(lineitem, "l_orderkey", pct).select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))

  /** The ONE spelling of the customer⋈orders⋈lineitem item stream — the
    * first join's two sides sampled on custkey when `pct` is given, the
    * lineitem side always whole.
    */
  private def segmentItems(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      pct: Option[Int]): DataFrame =
    kept(customer, "c_custkey", pct).select(col("c_custkey"), col("c_mktsegment"))
      .join(
        kept(orders, "o_custkey", pct).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(
        lineitem.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))

  /** Exact roll-up of an item stream per `group`. */
  private def exact(items: DataFrame, group: String): DataFrame =
    items.groupBy(col(group))
      .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_items"))
      .orderBy(col(group))

  /** The HT roll-up of a sampled item stream: the exact sums ×(1/p) with
    * the integer-exact [[UniverseSampled.scaleFor]]. With a sampling
    * `unit`, also the reference's T4 achieved-error machinery per GROUP
    * ([[Stats.errorBound]] semantics): `n_keys` = distinct kept units, the
    * estimated unit population `n_hat = n_keys · (1/p)` (integer-exact),
    * and `err_bound = z · sqrt(0.25/n_keys) · sqrt((n_hat−n_keys)/(n_hat−1))`
    * through the one shared (N, n) chain [[Stats.errBoundCol]] — the same
    * double chain over two already-exact integers, evaluated in one fixed
    * order, so the bound replays bit-for-bit in DuckDB. Unlike
    * congressional (which derives rates from exact per-stratum counts), a
    * join sample never sees the true key population, so the
    * finite-population correction uses the HT-estimated `n_hat`; at
    * p = 0.1 the correction is ≈ sqrt(1−p) and the bound reduces to the
    * √((1−p)/(p·n)) per-group relative error with n = n_hat.
    */
  private def estimate(
      items: DataFrame, group: String, pct: Int,
      unit: Option[String] = None, confidence: Double = 0.95): DataFrame = {
    val m = UniverseSampled.scaleFor(pct)
    val est = Seq(
      (sum(col("rev_e4")) * m).as("est_revenue_e4"),
      (count(lit(1)) * m).as("est_items"))
    val byGroup = items.groupBy(col(group))
    unit.fold(byGroup.agg(est.head, est.tail: _*)) { u =>
      byGroup.agg(est.head, est.tail :+ countDistinct(col(u)).as("n_keys"): _*)
        .withColumn("err_bound",
          Stats.errBoundCol(col("n_keys") * m, col("n_keys"), confidence))
    }.orderBy(col(group))
  }

  /** Exact twin: revenue and item count per order month over
    * orders⋈lineitem.
    */
  def revenueMonthly(orders: DataFrame, lineitem: DataFrame): DataFrame =
    exact(monthlyItems(orders, lineitem, None), "month")

  /** The correlated-sample estimator: both sides universe-sampled on the
    * JOIN KEY (orderkey — the same salted hash string on both sides, so
    * the keep-sets coincide), aggregated identically, HT-scaled ×(1/p).
    * Months whose entire key population missed the sample are absent (an
    * estimator reports what it saw; at p = 0.1 over ~hundreds of orders
    * per month that is a measure-zero event on real fixtures).
    */
  def revenueMonthlySampledU(
      orders: DataFrame, lineitem: DataFrame, pct: Int = 10): DataFrame =
    estimate(monthlyItems(orders, lineitem, Some(pct)), "month", pct)

  /** [[revenueMonthlySampledU]] plus per-month T4 bounds ([[estimate]]):
    * the sampling UNIT is the join key (an order — rows ride atomically
    * with their key), so `n_keys` counts distinct kept orderkeys. Every
    * output column is a pure function of the kept rows — the whole frame
    * stays oracle-gated.
    */
  def revenueMonthlySampledUWithBounds(
      orders: DataFrame, lineitem: DataFrame, pct: Int = 10,
      confidence: Double = 0.95): DataFrame =
    estimate(monthlyItems(orders, lineitem, Some(pct)), "month", pct,
      Some("o_orderkey"), confidence)

  /** Exact twin of the CHAIN estimator: revenue and item count per market
    * segment over customer⋈orders⋈lineitem.
    */
  def revenueBySegment(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    exact(segmentItems(customer, orders, lineitem, None), "c_mktsegment")

  /** The FK-CHAIN estimator (Quickr §4's chain rule): sample on the key of
    * the FIRST join — customer and orders both keep by the same hash of
    * CUSTKEY — and let the rest of the chain ride COMPLETE: every kept
    * order joins ALL its lineitems with no hash on the lineitem side at
    * all, because orderkeys are functionally contained in kept custkeys
    * through the o⋈l foreign key. Inclusion probability of a joined row
    * stays `p` (decided once, at the customer), so the same first-order
    * ×(1/p) HT scale unbiases the per-segment roll-up (5 segments, each
    * spanning ~1/5 of all custkeys — the coarse-aggregate discipline).
    *
    * Honest scale note: the sample cuts the customer⋈orders exchange
    * ×(1/p) but NOT the lineitem scan/exchange — lineitem carries no
    * custkey to hash. At execution Spark's own runtime row-level filter
    * (InjectRuntimeFilter, the engine's semi-join reduction) can thin it
    * against the sampled orderkey set, and a production layout buckets
    * lineitem by orderkey anyway; the operator's own guarantee is
    * correctness of the estimator, not a free third-table scan.
    */
  def revenueBySegmentChainSampledU(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      pct: Int = 10): DataFrame =
    estimate(segmentItems(customer, orders, lineitem, Some(pct)), "c_mktsegment", pct)

  /** [[revenueBySegmentChainSampledU]] plus per-segment T4 bounds with the
    * CHAIN's sampling unit: the custkey (decided once at the first join),
    * so `n_keys` counts distinct kept custkeys per segment and every order/
    * lineitem rides inside its key's atom.
    */
  def revenueBySegmentChainSampledUWithBounds(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      pct: Int = 10, confidence: Double = 0.95): DataFrame =
    estimate(segmentItems(customer, orders, lineitem, Some(pct)), "c_mktsegment", pct,
      Some("c_custkey"), confidence)

  private val RevE4Sql =
    "CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** SQL twin of [[kept]]: `table` or its keep-set under the same name. */
  private def keptSql(table: String, unit: String, pct: Option[Int]): String =
    pct.fold(table)(p => s"(SELECT * FROM $table WHERE ${UniverseSampled.keepSql(unit, p)}) $table")

  /** DuckDB template of [[monthlyItems]] rolled up per month. */
  private def monthlySql(pct: Option[Int], select: String): String =
    s"""SELECT date_trunc('month', o_orderdate) AS month, $select
       |FROM ${keptSql("orders", "o_orderkey", pct)}
       |JOIN ${keptSql("lineitem", "l_orderkey", pct)} ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB template of [[segmentItems]] rolled up per segment. */
  private def segmentSql(pct: Option[Int], select: String): String =
    s"""SELECT c_mktsegment, $select
       |FROM ${keptSql("customer", "c_custkey", pct)}
       |JOIN ${keptSql("orders", "o_custkey", pct)} ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL twin of [[exact]]'s aggregate list. */
  private val ExactSql =
    s"CAST(sum($RevE4Sql) AS BIGINT) AS revenue_e4, count(*) AS n_items"

  /** SQL twin of [[estimate]]'s aggregate list — integer HT scale and the
    * double err_bound chain in the same operation order as the Column
    * spelling ([[CongressionalSampled]]'s bounds-oracle precedent).
    */
  private def estimateSql(
      pct: Int, unit: Option[String] = None, confidence: Double = 0.95): String = {
    val m = UniverseSampled.scaleFor(pct)
    val est = s"CAST(sum($RevE4Sql) AS BIGINT) * $m AS est_revenue_e4, count(*) * $m AS est_items"
    unit.fold(est) { u =>
      val n = s"count(DISTINCT $u)"
      s"$est, $n AS n_keys, ${Stats.errBoundSql(s"$n * $m", n, confidence)} AS err_bound"
    }
  }

  /** DuckDB oracle for [[revenueMonthly]]. */
  val revenueMonthlyOracleSql: String = monthlySql(None, ExactSql)

  /** DuckDB oracle for [[revenueBySegment]]. */
  val revenueBySegmentOracleSql: String = segmentSql(None, ExactSql)

  /** DuckDB oracle for [[revenueMonthlySampledU]]. */
  def revenueMonthlySampledUOracleSql(pct: Int = 10): String =
    monthlySql(Some(pct), estimateSql(pct))

  /** DuckDB oracle for [[revenueMonthlySampledUWithBounds]]. */
  def revenueMonthlySampledUWithBoundsOracleSql(
      pct: Int = 10, confidence: Double = 0.95): String =
    monthlySql(Some(pct), estimateSql(pct, Some("o_orderkey"), confidence))

  /** DuckDB oracle for [[revenueBySegmentChainSampledU]]. */
  def revenueBySegmentChainSampledUOracleSql(pct: Int = 10): String =
    segmentSql(Some(pct), estimateSql(pct))

  /** DuckDB oracle for [[revenueBySegmentChainSampledUWithBounds]]. */
  def revenueBySegmentChainSampledUWithBoundsOracleSql(
      pct: Int = 10, confidence: Double = 0.95): String =
    segmentSql(Some(pct), estimateSql(pct, Some("c_custkey"), confidence))
}
