package graft

import org.apache.spark.sql.DataFrame

import graft.compare.ResultComparator
import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.sampling.{SamplingConfig, SamplingReport}
import graft.sinks.TextKVSink
import graft.text.TextAnalysis

/** The full experiment protocol at sf0.001: every ratio through
  * Main.runJob, K1 outputs + result.txt reports, CompareRuns error rates —
  * and the reference's qualitative claim that error shrinks as the ratio
  * grows.
  */
class RatioLadderSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def tmp(name: String) = s"${System.getProperty("java.io.tmpdir")}/$name"

  private def kvTotal(dir: String): Double =
    TextKVSink.read(spark, dir).agg(sum(col("value").cast("double"))).head().getDouble(0)

  test("ladder runs end-to-end; error rates are finite and ordered sensibly") {
    val out = tmp("graft_ladder_test")
    val runs = RatioLadder.ladder(
      spark, sf001, out, Seq(1.0, 0.5, 0.1), Seq("randapachelog_host")).head._2
    assert(runs.map(_.ratio) === Seq(1.0, 0.5, 0.1))
    assert(runs.head.dataErrorRate.isEmpty) // the baseline
    val events = Tables.events(spark, sf001).count()
    runs.foreach { r =>
      assert(SamplingReport.parse(r.reportText.get).total === events)
      assert(new java.io.File(s"$out/randapachelog_host/r${r.ratio}.result.txt").isFile)
    }
    val errs = runs.tail.map(_.dataErrorRate.get)
    errs.foreach(e => assert(e >= 0.0 && e < 1.0 && e.isFinite))
    // more sample → less error (deterministic with the fixed seed)
    assert(errs(0) < errs(1))
    // K1 outputs exist and are non-empty
    assert(new java.io.File(s"$out/randapachelog_host/r1.0")
      .listFiles().exists(_.getName.endsWith(".txt")))
  }

  test("ladder across the reference's job families: word/char/CLF/wireless rungs " +
    "stay within the T4 bound on the additive total") {
    val out = tmp("graft_ladder_families")
    val names = Seq("randcharcount", "randapachelog_size", "randwireless", "randwordcount")
    RatioLadder.ladder(spark, sf001, out, Seq(1.0, 0.5), names).foreach { case (name, runs) =>
      val r = runs(1)
      assert(r.ratio === 0.5)
      val e = r.dataErrorRate.get
      assert(e >= 0.0 && e < 1.0, s"$name: per-key error")
      // the T4 bound speaks about the ADDITIVE TOTAL estimate (that's what
      // Cochran's formula bounds), so judge the HT-scaled total — read back
      // through the K1 sinks (which carry the reference's UNSCALED sample
      // counts) and apply the comparator's 1/ratio scale-up here
      val exactTotal = kvTotal(s"$out/$name/r1.0")
      val estTotal = kvTotal(s"$out/$name/r0.5") / r.ratio
      val relErr = math.abs(estTotal - exactTotal) / exactTotal
      val bound = SamplingReport.parse(r.reportText.get).errorRate
      // 3× the single-sd bound: deterministic with the fixed seed, and a
      // regression that breaks HT scaling or sampling lands far outside
      assert(relErr <= 3 * bound, s"$name ratio 0.5: total rel-err $relErr vs T4 bound $bound")
    }
    // the curation-layer AQP families (beyond the reference's surface):
    // quality histogram + corpus token total under the same estimator, so
    // the T4 bound is proven on the LLM-pipeline shapes too
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    Seq[(String, DataFrame => DataFrame, String, String)](
      ("text_quality", TextAnalysis.qualityDistribution(_), "bucket", "cnt"),
      ("text_tokens", TextAnalysis.tokenTotals(_), "key", "total"))
      .foreach { case (name, query, key, countCol) =>
        val exact = query(docs)
        val (s, est) = RQ.sampled(docs, SamplingConfig(ratio = 0.5), query, countCol)
        val e = ResultComparator.dataErrorRate(exact, est, Seq(key), countCol, s"est_$countCol")
        assert(e >= 0.0 && e < 1.0, s"$name: per-key error")
        val exactTotal = exact.agg(sum(col(countCol).cast("double"))).head().getDouble(0)
        val estTotal = est.agg(sum(col(s"est_$countCol").cast("double"))).head().getDouble(0)
        val relErr = math.abs(estTotal - exactTotal) / exactTotal
        val bound = s.report().errorRate
        assert(relErr <= 3 * bound, s"$name ratio 0.5: total rel-err $relErr vs T4 bound $bound")
      }
  }

  test("declared ladder query: exact rung reports zero error, sampled rungs " +
    "report positive kept counts and a T4 bound matching Stats.errorBound") {
    assumeTestdata(sf001)
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val rows = RatioLadder.wordcountLadderU(docs).orderBy(col("pct").desc).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(100L, 50L, 25L, 10L))
    val exactRung = rows.head
    // pct=100: keep-all, scale 1 — the comparator must measure exactly 0
    assert(exactRung.getLong(2) === 0L) // sum_abs_diff
    assert(exactRung.getLong(3) === 0L) // data_error_bp
    assert(exactRung.getLong(4) === exactRung.getLong(5)) // kept == total
    assert(exactRung.getDouble(6) === 0.0) // FPC zeroes the bound at n == N
    rows.tail.foreach { r =>
      val (nDocs, nKept) = (r.getLong(4), r.getLong(5))
      assert(nKept > 0 && nKept < nDocs, s"rung ${r.getLong(0)}")
      // same chain as the scalar reference implementation
      assert(r.getDouble(6) ===
        graft.sampling.Stats.errorBound(0.95, nDocs, nKept))
      // sum_exact is rung-invariant (it's the exact side of the join)
      assert(r.getLong(1) === exactRung.getLong(1))
    }
  }
}
