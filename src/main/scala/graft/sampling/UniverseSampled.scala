package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Hashing

/** Universe (hash-range) sampling: keep a row iff a deterministic 60-bit
  * content hash of its sampling UNIT lands in the first `pct` of
  * [[RangeMod]] residues — the Quickr-style universe sample (Kandula et
  * al., "Quickr: Lazily Approximating Complex AdHoc Queries in BigData
  * Clusters", SIGMOD 2016 §4) beside the seeded Bernoulli sampler
  * ([[Sampled]]).
  *
  * Two properties the Bernoulli sampler cannot offer:
  *
  *  1. '''Replayability.''' The predicate is a pure function of the data
  *     (md5-prefix hash, no RNG), so an external engine can reproduce the
  *     EXACT sampled row set — these are the only sampled queries the
  *     DuckDB oracle fully hash-gates, converting the engine's AQP core
  *     from spec-trusted to oracle-proven
  *     ([[graft.dedup.DedupRate]] proved the pattern in r8; this module
  *     generalizes it to the word-count/wireless/TPC-H/stratified/token-
  *     budget families).
  *  2. '''Unit atomicity.''' All rows sharing a unit value are kept or
  *     dropped together, so per-unit structure (duplicate clusters, join
  *     keys) survives sampling intact — the reason [[graft.dedup.DedupRate]]
  *     samples by content hash and Quickr samples join inputs by key.
  *
  * Scale shape: identical to the Bernoulli path — the predicate is a
  * codegen'd scan-stage filter (md5 of a short key string per row, read
  * straight off the digest bytes by [[graft.functions.Hash60]]), so
  * 1−p of a 100 TB corpus never leaves the scan loop, and Catalyst prunes
  * columns below it. Horvitz–Thompson scale-up is the same ×(1/p); the
  * trade-off vs `rand(seed)` is paying one md5 per row for determinism.
  *
  * The unit hash is salted (`"u:"`) so this sampling decision is
  * independent of every other hash60 use of the same column (MinHash
  * seeds, token-budget ordering, DedupRate's content ranges).
  *
  * ==Which sampler should I use?==
  * Decision rule (measured with `graft.tools.TimeQuery` at sf0.1 on a
  * 4-core host, median of 3 warm trials): when per-row DOWNSTREAM work
  * dominates — tokenize/explode/regex/join after the sample — the
  * universe (`_u10`) family wins AND is oracle-proven (wordcount 0.44 vs
  * 0.54 s exact, text_quality 0.50 vs 0.66, text_tokens 0.28 vs 0.48,
  * monthly revenue join 0.62 vs 0.85). When the query is SCAN-BOUND with
  * a single pushed-down aggregate (TPC-H Q6 shape), the keep predicate
  * cannot skip I/O and adds one md5 per row, so it still costs more than
  * it saves (q6 `_u10` 0.55 s vs 0.33 s exact): use the seeded Bernoulli
  * [[Sampled]] `_r10` twin there (0.19 s) — its `rand(seed)` filter is
  * nearly free per row. Universe sampling's extra properties (exact
  * replayability, unit atomicity, retry/re-split determinism) are what
  * you pay that hash for; pick by whether the shape amortizes it.
  */
object UniverseSampled {

  /** Residue modulus (percent granularity). */
  val RangeMod = 100L

  private val Salt = "u:"

  /** Integer Horvitz–Thompson scale 1/p = RangeMod/pct for the
    * integer-exact estimator paths. Valid ONLY for pct dividing
    * [[RangeMod]]: the exactness discipline demands an integer 1/p, and
    * an unchecked `RangeMod / pct` at, say, pct = 3 silently floors
    * 33.33→33 — a ~1 % systematic underestimate — while pct = 0 divides
    * by zero and pct > 100 scales by 0. Fail loudly at plan build.
    */
  def scaleFor(pct: Int): Long = {
    require(pct >= 1 && pct <= RangeMod && RangeMod % pct == 0,
      s"integer-exact HT scaling needs pct in [1, $RangeMod] dividing " +
        s"$RangeMod (got $pct); use the double-typed scale for other rates")
    RangeMod / pct
  }

  /** The salted unit hash's residue in [0, [[RangeMod]]) — [[keep]] is
    * `residue < pct`. Exposed so a multi-rung consumer (the ratio ladder)
    * can compute the residue ONCE per row and evaluate every rung as a
    * comparison against it, instead of one md5 per rung per row.
    */
  def residue(unit: Column): Column =
    Hashing.hash60(concat(lit(Salt), unit.cast("string"))) % RangeMod

  /** Plan-build guard shared by [[keep]], [[keepSql]] and [[scale]], so
    * every sampled twin inherits it: a rate above [[RangeMod]] keeps every
    * row yet scales by RangeMod/pct < 1 (pct = 200 halves the exact
    * answer), and pct ≤ 0 keeps nothing and scales to ∞ or NaN. Non-divisor
    * rates stay legal here; only [[scaleFor]] needs pct | RangeMod.
    */
  private def checkPct(pct: Int): Unit =
    require(pct >= 1 && pct <= RangeMod,
      s"universe sampling needs pct in [1, $RangeMod] (got $pct)")

  /** Keep-predicate: hash of the salted unit in [0, pct). */
  def keep(unit: Column, pct: Int): Column = {
    checkPct(pct)
    residue(unit) < pct
  }

  /** DuckDB text of [[keep]] for oracle generation; `unitExpr` is a SQL
    * expression for the unit column (cast to VARCHAR here, mirroring the
    * Spark-side string cast).
    */
  def keepSql(unitExpr: String, pct: Int): String = {
    checkPct(pct)
    s"${Hashing.hash60Sql(s"'$Salt' || CAST($unitExpr AS VARCHAR)")} % $RangeMod < $pct"
  }

  /** The `pct`-percent universe sample of `df` by `unit`. */
  def sample(df: DataFrame, unit: Column, pct: Int): DataFrame =
    df.filter(keep(unit, pct))

  /** Horvitz–Thompson scale factor 1/p (exact in IEEE 754 for the divisors
    * of 100 used here).
    */
  def scale(pct: Int): Double = {
    checkPct(pct)
    RangeMod.toDouble / pct
  }

  /** SQL literal of [[scale]] — e.g. "10.0", so `count(*) * 10.0` is a
    * DOUBLE in DuckDB exactly like Spark's `cnt * lit(10.0)`.
    */
  def scaleSql(pct: Int): String = scale(pct).toString
}
