package graft.sampling

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** Correlated join sampling: the properties that make a universe sample
  * pushed through a join an ESTIMATOR rather than a smaller wrong answer —
  * per-key completeness (a kept order keeps ALL its lineitems), keep-set
  * coincidence across the two sides, HT-unbiasedness against the exact
  * twin, and the plan shape (both keep-filters below the join's exchange,
  * so 1−p of both tables never reaches the shuffle).
  */
class JoinSampledSpec extends SparkSpec {

  private def orders = Tables.orders(spark, sf001)
  private def lineitem = Tables.lineitem(spark, sf001)

  test("per-key completeness: a kept order joins ALL its lineitems (p, not p²)") {
    assumeTestdata(sf001)
    val est = JoinSampled.revenueMonthlySampledU(orders, lineitem)
    // rebuild the sampled join's per-order item counts and compare with
    // the UNsampled lineitem table restricted to the kept keys — equality
    // means the lineitem side lost nothing for keys the orders side kept
    val keptOrders = UniverseSampled.sample(orders, col("o_orderkey"), 10)
      .select(col("o_orderkey"))
    val sampledItems = UniverseSampled.sample(lineitem, col("l_orderkey"), 10)
      .join(keptOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    val fullItems = lineitem
      .join(keptOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_full"))
    val mismatches = sampledItems
      .join(fullItems, "l_orderkey", "full_outer")
      .filter(not(col("n") <=> col("n_full")))
    assert(mismatches.count() === 0)
    assert(sampledItems.count() > 0)
    assert(est.count() > 0)
  }

  test("HT estimate tracks the exact twin on the global total") {
    assumeTestdata(sf001)
    val exact = JoinSampled.revenueMonthly(orders, lineitem)
      .agg(sum(col("revenue_e4")).as("t"), sum(col("n_items")).as("n"))
      .head()
    val est = JoinSampled.revenueMonthlySampledU(orders, lineitem)
      .agg(sum(col("est_revenue_e4")).as("t"), sum(col("est_items")).as("n"))
      .head()
    val relRev = math.abs(est.getLong(0) - exact.getLong(0)).toDouble / exact.getLong(0)
    val relN = math.abs(est.getLong(1) - exact.getLong(1)).toDouble / exact.getLong(1)
    // ~1.5 k orderkeys at sf0.001 → √((1−p)/(p·n)) ≈ 8 %; the sample is
    // deterministic, so this is a fixed number, not a flaky draw
    assert(relRev < 0.25, s"relative revenue error $relRev")
    assert(relN < 0.25, s"relative item-count error $relN")
  }

  test("chain completeness: a kept custkey keeps ALL its orders and lineitems") {
    assumeTestdata(sf001)
    val customer = Tables.customer(spark, sf001)
    val keptCust = UniverseSampled.sample(customer, col("c_custkey"), 10)
      .select(col("c_custkey"))
    // the chain's sampled middle: orders kept by the SAME custkey hash —
    // per kept customer, the sampled side must equal the unsampled side
    val sampledCnt = UniverseSampled.sample(orders, col("o_custkey"), 10)
      .join(keptCust, col("o_custkey") === col("c_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
    val fullCnt = orders
      .join(keptCust, col("o_custkey") === col("c_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_full"))
    val mismatches = sampledCnt
      .join(fullCnt, "c_custkey", "full_outer")
      .filter(not(col("n") <=> col("n_full")))
    assert(mismatches.count() === 0)
    assert(sampledCnt.count() > 0)
  }

  test("chain HT estimate tracks the exact twin on the global total") {
    assumeTestdata(sf001)
    val customer = Tables.customer(spark, sf001)
    val exact = JoinSampled.revenueBySegment(customer, orders, lineitem)
      .agg(sum(col("revenue_e4")).as("t")).head().getLong(0)
    val est = JoinSampled.revenueBySegmentChainSampledU(customer, orders, lineitem)
      .agg(sum(col("est_revenue_e4")).as("t")).head().getLong(0)
    val rel = math.abs(est - exact).toDouble / exact
    assert(rel < 0.35, s"relative revenue error $rel") // ~150 custkeys kept at sf0.001
  }

  test("independent Bernoulli sampling of both sides would thin kept keys (the contrast)") {
    assumeTestdata(sf001)
    // not a property of the operator — a pin on WHY it samples the join
    // key: independently sampled sides disagree on ~1−p of their keys
    val o = UniverseSampled.sample(orders, col("o_orderkey"), 10)
      .select(col("o_orderkey").as("k"))
    // a DIFFERENT unit spelling (salted differently by content) stands in
    // for an independent sample: keys kept by the orders-side hash but
    // not by a hash of a different column of the same row
    val l = UniverseSampled.sample(lineitem, col("l_orderkey") + 1, 10)
      .select(col("l_orderkey").as("k")).distinct()
    val agree = o.join(l, "k").count()
    val oCnt = o.count()
    // ~10 % coincidence, not ~100 %: correlation comes from hashing the
    // SAME key, not from luck
    assert(agree < oCnt / 2)
  }

  test("monthly bounds: est columns unchanged, n_keys counts kept orders, err_bound replays T4") {
    assumeTestdata(sf001)
    val base = JoinSampled.revenueMonthlySampledU(orders, lineitem).collect()
    val rows = JoinSampled.revenueMonthlySampledUWithBounds(orders, lineitem).collect()
    assert(rows.length === base.length)
    rows.zip(base).foreach { case (b, e) =>
      assert(b.getAs[java.sql.Timestamp]("month") === e.getAs[java.sql.Timestamp]("month"))
      assert(b.getAs[Long]("est_revenue_e4") === e.getAs[Long]("est_revenue_e4"))
      assert(b.getAs[Long]("est_items") === e.getAs[Long]("est_items"))
    }
    rows.foreach { r =>
      val nKeys = r.getAs[Long]("n_keys")
      assert(nKeys >= 1L)
      val nHat = nKeys * 10
      // same operation order as the Column spelling: z * sqrt(0.25/n) *
      // sqrt((N−n)/(N−1)) — exact double equality is the contract the
      // DuckDB oracle rides on
      val expected =
        if (nHat <= 1) 0.0
        else 1.96 * math.sqrt(0.25 / nKeys) *
          math.sqrt((nHat - nKeys).toDouble / (nHat - 1).toDouble)
      assert(r.getAs[Double]("err_bound") === expected)
      assert(r.getAs[Double]("err_bound") > 0.0 && r.getAs[Double]("err_bound") < 1.0)
    }
  }

  test("segment chain bounds: est columns unchanged and err_bound replays T4 over kept custkeys") {
    assumeTestdata(sf001)
    val customer = Tables.customer(spark, sf001)
    val base = JoinSampled
      .revenueBySegmentChainSampledU(customer, orders, lineitem).collect()
    val rows = JoinSampled
      .revenueBySegmentChainSampledUWithBounds(customer, orders, lineitem).collect()
    assert(rows.length === base.length)
    rows.zip(base).foreach { case (b, e) =>
      assert(b.getAs[String]("c_mktsegment") === e.getAs[String]("c_mktsegment"))
      assert(b.getAs[Long]("est_revenue_e4") === e.getAs[Long]("est_revenue_e4"))
      assert(b.getAs[Long]("est_items") === e.getAs[Long]("est_items"))
    }
    rows.foreach { r =>
      val nKeys = r.getAs[Long]("n_keys")
      val nHat = nKeys * 10
      val expected =
        if (nHat <= 1) 0.0
        else 1.96 * math.sqrt(0.25 / nKeys) *
          math.sqrt((nHat - nKeys).toDouble / (nHat - 1).toDouble)
      assert(r.getAs[Double]("err_bound") === expected)
    }
  }

  test("pct=100 twins equal their exact builders; the bounds twins report err_bound 0.0") {
    assumeTestdata(sf001)
    val customer = Tables.customer(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().toSeq
    Seq(
      ("month",
        JoinSampled.revenueMonthly(orders, lineitem),
        JoinSampled.revenueMonthlySampledU(orders, lineitem, pct = 100),
        JoinSampled.revenueMonthlySampledUWithBounds(orders, lineitem, pct = 100)),
      ("c_mktsegment",
        JoinSampled.revenueBySegment(customer, orders, lineitem),
        JoinSampled.revenueBySegmentChainSampledU(customer, orders, lineitem, pct = 100),
        JoinSampled.revenueBySegmentChainSampledUWithBounds(
          customer, orders, lineitem, pct = 100))
    ).foreach { case (group, exact, sampled, bounds) =>
      val want = rows(exact, group, "revenue_e4", "n_items")
      assert(want.nonEmpty)
      // m = 1: every est_* column is its exact column, group for group
      assert(rows(sampled, group, "est_revenue_e4", "est_items") === want)
      assert(rows(bounds, group, "est_revenue_e4", "est_items") === want)
      // n_hat = n_keys at full rate, so the FPC term (and the bound) is zero
      rows(bounds, "n_keys", "err_bound").foreach { r =>
        assert(r.getLong(0) >= 1L)
        assert(r.getDouble(1) === 0.0)
      }
    }
  }

  test("forced-shuffle regime: the sample cuts BOTH join exchanges ~×p (the 100 TB claim, measured)") {
    assumeTestdata(sf001)
    // At fixture scale the sampled orders side broadcasts, so the
    // operator's whole 100 TB rationale — both exchanges shrink ×p when
    // NEITHER side fits a broadcast — never executes on its own
    // (JoinSampled scaladoc; VERDICT r14 item 2). Forcing the shuffle
    // regime here turns that design argument into a measured byte ratio
    // on each exchange's dataSize metric.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      def joinInputBytes(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
        df.collect()
        val exch = allPlanNodes(df.queryExecution.executedPlan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.groupBy(_.id).map(_._2.head)
        exch.flatMap { e =>
          val names = e.output.map(_.name).toSet
          val side =
            if (names.contains("o_orderkey")) Some("orders")
            else if (names.contains("l_orderkey")) Some("lineitem")
            else None // agg/sort exchanges above the join
          side.map(_ -> e.metrics("dataSize").value)
        }.toMap
      }
      val exact = joinInputBytes(JoinSampled.revenueMonthly(orders, lineitem))
      val sampled = joinInputBytes(JoinSampled.revenueMonthlySampledU(orders, lineitem))
      Seq("orders", "lineitem").foreach { side =>
        assert(exact.contains(side),
          s"no shuffle exchange for $side in the exact plan — broadcast leaked into the forced regime")
        assert(sampled.contains(side),
          s"no shuffle exchange for $side in the sampled plan — broadcast leaked into the forced regime")
        val ratio = sampled(side).toDouble / exact(side)
        assert(ratio > 0.03 && ratio < 0.30,
          s"$side exchange bytes ratio $ratio (sampled=${sampled(side)} exact=${exact(side)}) — expected ~p=0.1")
      }
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("plan: both keep-filters sit below the join (scan-side, pre-shuffle)") {
    assumeTestdata(sf001)
    val df = JoinSampled.revenueMonthlySampledU(orders, lineitem)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val join = allPlanNodes(plan).find(_.nodeName.contains("Join"))
    assert(join.isDefined, plan.toString.take(3000))
    join.get.children.foreach { side =>
      // side.toString pretty-prints THROUGH nested stage boundaries, so a
      // keep-filter anywhere below this side is visible
      assert(side.toString.contains("graft_hash60"),
        s"keep-filter not below the join on side ${side.nodeName}:\n${side.toString.take(2000)}")
    }
  }
}
