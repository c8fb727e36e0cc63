package graft.sampling

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.CosinePairs
import graft.similarity.{IvfIndex, PlaneBudget}
import graft.text.Decontaminate

/** Property tests for the in-plan parameter-derivation functions — the
  * pure integer kernels every derived-width/rate/cut oracle replays. This
  * is exactly the code class where example-based pins have missed real
  * bugs before (the r14 third review batch found `RangeMod/pct` silently
  * flooring at non-divisor rates and dividing by zero at pct = 0), so
  * each function gets its full contract checked on arbitrary inputs:
  * range, minimality (the derived value is the SMALLEST qualifying one),
  * qualification (it does the job below the cap), and monotonicity.
  * No SparkSession needed — these are plan-build-time scalar functions.
  */
class DerivationPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(500)

  test("scaleFor: exact inverse on divisor rates, loud rejection elsewhere") {
    val mod = UniverseSampled.RangeMod
    // all valid rates: divisors of RangeMod — exactness is total, not sampled
    (1L to mod).filter(mod % _ == 0).foreach { pct =>
      assert(UniverseSampled.scaleFor(pct.toInt) * pct === mod)
    }
    // arbitrary invalid rates (0, >mod, non-divisors) must throw, never floor
    val invalid = Gen.chooseNum(-1000, 1000)
      .suchThat(p => p < 1 || p > mod || mod % p != 0)
    val prop = Prop.forAll(invalid) { p =>
      Prop.throws(classOf[IllegalArgumentException])(UniverseSampled.scaleFor(p))
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
    // keep and the double-typed scale, which every sampled twin builds on:
    // any rate in [1, mod] is legal (non-divisors too), anything outside
    // fails at plan build — pct = 200 once kept every row at scale 0.5
    (1L to mod).foreach { pct =>
      UniverseSampled.keep(col("u"), pct.toInt)
      assert(UniverseSampled.scale(pct.toInt) === mod.toDouble / pct)
    }
    val outOfRange = Gen.chooseNum(-1000, 1000).suchThat(p => p < 1 || p > mod)
    val rejects = Prop.forAll(outOfRange) { p =>
      Prop.throws(classOf[IllegalArgumentException])(UniverseSampled.keep(col("u"), p)) &&
        Prop.throws(classOf[IllegalArgumentException])(UniverseSampled.scale(p))
    }
    val rejected = SCTest.check(params, rejects)
    assert(rejected.passed, rejected.status.toString)
  }

  test("bandBits: smallest qualifying width, clamped, monotone") {
    val n = Gen.chooseNum(1L, 1000000000000L)
    val prop = Prop.forAll(n) { v =>
      val b = PlaneBudget.bandBits(v)
      val inRange = b >= PlaneBudget.MinBits && b <= PlaneBudget.MaxBits
      // minimality: a narrower width would overfill the target bucket
      val minimal = b == PlaneBudget.MinBits ||
        (1L << (b - 1)) * PlaneBudget.TargetBucket < v
      // qualification below the cap: the chosen width holds occupancy
      val qualifies = b == PlaneBudget.MaxBits ||
        (1L << b) * PlaneBudget.TargetBucket >= v
      val monotone = PlaneBudget.bandBits(v + 1) >= b
      inRange && minimal && qualifies && monotone
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("mLogFor: smallest qualifying bloom width, clamped, monotone") {
    // BitsPerKey * n must not overflow: bound the generator well inside it
    val n = Gen.chooseNum(1L, 100000000000000L)
    val prop = Prop.forAll(n) { v =>
      val m = Decontaminate.mLogFor(v)
      val inRange = m >= Decontaminate.MinMLog && m <= Decontaminate.MaxMLog
      val minimal = m == Decontaminate.MinMLog ||
        (1L << (m - 1)) < Decontaminate.BitsPerKey * v
      val qualifies = m == Decontaminate.MaxMLog ||
        (1L << m) >= Decontaminate.BitsPerKey * v
      val monotone = Decontaminate.mLogFor(v + 1) >= m
      inRange && minimal && qualifies && monotone
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("maxDfFor: floored percentage cut, monotone") {
    val n = Gen.chooseNum(0L, 1000000000000L)
    val prop = Prop.forAll(n) { v =>
      val cut = CosinePairs.maxDfFor(v)
      val floored = cut >= CosinePairs.MinDfCap
      val pct = cut == math.max(CosinePairs.MinDfCap, v * CosinePairs.MaxDfPct / 100L)
      val monotone = CosinePairs.maxDfFor(v + 1) >= cut
      floored && pct && monotone
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("nlistFor: smallest qualifying power of two, clamped, monotone") {
    val n = Gen.chooseNum(1L, 1000000000000L)
    val prop = Prop.forAll(n) { v =>
      val l = IvfIndex.nlistFor(v).toLong
      val lo = 1L << IvfIndex.MinListLog
      val hi = 1L << IvfIndex.MaxListLog
      val inRange = l >= lo && l <= hi
      val powerOfTwo = (l & (l - 1)) == 0
      val minimal = l == lo || (l >> 1) * (l >> 1) < v
      val qualifies = l == hi || l * l >= v
      val monotone = IvfIndex.nlistFor(v + 1) >= l
      inRange && powerOfTwo && minimal && qualifies && monotone
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

}
