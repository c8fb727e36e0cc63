package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkEntry
import graft.compare.CompareRuns
import graft.queries.{ReferenceQueries, Tables, TpchQueries}
import graft.sampling.{JoinSampled, Sampled, SamplingConfig, UniverseSampled}
import graft.sources.TextLines

/** What an op's check found: a digest of its result (compared across
  * passes), the result rows where a sampled-vs-exact pair needs them, a
  * failure message if a check failed, and named figures for the metrics.
  */
final case class Outcome(
    digest: String,
    rows: Seq[Row] = Nil,
    fields: Seq[String] = Nil,
    failure: Option[String] = None,
    values: Map[String, Double] = Map.empty)

/** One op of a pass. `run` makes the timed calls into the engine and
  * returns the op's check, which runs after the pass clock has stopped.
  */
final case class Op(name: String, run: SparkSession => (() => Outcome))

/** Sampled-vs-exact figures of one run. */
final case class Sampling(
    speedup10: Double, speedup1: Double, error10: Double, error1: Double,
    detail: Map[String, Double])

trait Workload {
  def name: String
  def generate(root: File, seed: Long): Inputs
  /** Ops of one pass, in a fixed order: an op's place in the pass moves its
    * time, so a seeded order would add variance the inputs do not cause.
    */
  def ops(in: Inputs, seed: Long, scratch: File): Seq[Op]
  /** From per-op median walls and each op's last outcome. */
  def sampling(walls: Map[String, Double], out: Map[String, Outcome], in: Inputs): Sampling
  /** Layer probes run outside the pass clock: a raw scan of every source, a
    * keep-only scan at 10 %, and rows scanned per row kept at 1 %.
    */
  def probes(spark: SparkSession, in: Inputs, seed: Long): Map[String, Double]
  /** Query-execution names that are the sampler's accounting pass and the sink write. */
  def accountingFuncs: Set[String] = Set.empty
  def sinkFuncs: Set[String] = Set.empty
}

object Workloads {

  val all: Seq[Workload] = Seq(RefLadder, AqpJoin, CurationIter)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def sha(parts: Iterable[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def rowsDigest(rows: Seq[Row]): String =
    sha(rows.map(_.toString).sorted.map(_.getBytes(StandardCharsets.UTF_8)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** A catalog-shaped op: build the frame, then collect its rows. */
  def queryOp(name: String, dir: String)(build: (SparkSession, String) => DataFrame): Op =
    Op(name, spark => {
      val df = Trace.span(name, "queries.build")(build(spark, dir))
      val rows = Trace.span(name, "exec")(df.collect().toSeq)
      () => Outcome(rowsDigest(rows), rows, df.schema.fieldNames.toSeq)
    })

  def catalogOp(name: String, dir: String): Op = queryOp(name, dir)(SparkEntry.queries(name))

  private def num(v: Any): Double = v match {
    case null => 0.0
    case n: java.lang.Number => n.doubleValue()
    case d: java.math.BigDecimal => d.doubleValue()
    case d: scala.math.BigDecimal => d.toDouble
    case other => other.toString.toDouble
  }

  /** Σ|exact − est| / Σ|exact| per estimated column, averaged over the
    * columns; the columns both results share are the group keys. A group the sample
    * missed counts as an estimate of 0. Returns (error, number of groups).
    */
  def pairError(exact: Outcome, sampled: Outcome): (Double, Int) = {
    // `est_<c>` estimates exact column `<c>`, or `n_<c>` for the graph counts
    val estimated = sampled.fields.filter(_.startsWith("est_")).flatMap { f =>
      Seq(f.drop(4), "n_" + f.drop(4)).find(exact.fields.contains).map(f -> _)
    }
    require(estimated.nonEmpty, "sampled result has no est_ column matching the exact result")
    val keys = exact.fields.filter(sampled.fields.contains)
    def key(r: Row, fields: Seq[String]): Seq[Any] = keys.map(k => r.get(fields.indexOf(k)))
    val est = sampled.rows.map(r => key(r, sampled.fields) -> r).toMap
    val perCol = estimated.map { case (ec, xc) =>
      val (ei, si) = (exact.fields.indexOf(xc), sampled.fields.indexOf(ec))
      var diff, total = 0.0
      exact.rows.foreach { r =>
        val e = num(r.get(ei))
        diff += math.abs(e - est.get(key(r, exact.fields)).map(s => num(s.get(si))).getOrElse(0.0))
        total += math.abs(e)
      }
      if (total == 0) 0.0 else diff / total
    }
    (perCol.sum / perCol.size, exact.rows.size)
  }

  /** Group-count-weighted mean of pair errors: an estimate over many groups
    * weighs more than a single total, whose error is one random draw.
    */
  def weighted(errors: Seq[(Double, Int)]): Double =
    errors.map { case (e, n) => e * n }.sum / errors.map(_._2).sum

  /** Exact wall over sampled wall, each summed over the pairs: a ratio of
    * sums averages more samples than a median of per-pair ratios.
    */
  def speedup(walls: Map[String, Double], pairs: Seq[(String, String)]): Double =
    pairs.map(p => walls(p._1)).sum / pairs.map(p => walls(p._2)).sum
}

import Workloads._

/** The reference's experiment protocol over its own raw input formats: each
  * job at three ratios through `graft.Main.runJob`, then the comparator.
  */
object RefLadder extends Workload {
  val name = "ref_ladder"
  val Ratios = Seq("1.0", "0.1", "0.01")

  /** (job, input subdir, log task) */
  private val Jobs = Seq(
    ("randwordcount", "text", None),
    ("randapachelog", "clf", Some("host")),
    ("randwireless", "wireless", None))

  private def linesKey(sub: String) = s"$sub.lines"

  def generate(root: File, seed: Long): Inputs = Inputs.ladder(root, seed)

  private def partBytes(dir: File): Seq[Array[Byte]] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).map(f => Files.readAllBytes(f.toPath))

  def ops(in: Inputs, seed: Long, scratch: File): Seq[Op] =
    Jobs.flatMap { case (job, sub, task) =>
      val src = s"${in.dir}/$sub"
      val base = new File(scratch, s"ladder/$job")
      val rungs = Ratios.map { r =>
        Op(s"$job@$r", spark => {
          val out = new File(base, s"r$r")
          val rpt = graft.Main.runJob(spark, job, src, out.getPath, task,
            SamplingConfig(ratio = r.toDouble, seed = seed))
          () => {
            val parts = partBytes(out)
            val lines = parts.flatMap(b => new String(b, StandardCharsets.UTF_8).linesIterator)
            val problems = Seq(
              Option.when(rpt.total != in.expected(linesKey(sub)))(
                s"report total ${rpt.total} != ${in.expected(linesKey(sub))} input lines"),
              Option.when(r == "1.0" && lines.size != in.expected(s"$job.keys"))(
                s"exact keys ${lines.size} != ${in.expected(s"$job.keys")}"),
              Option.when(r == "1.0" &&
                lines.map(_.split('\t')(1).toLong).sum != in.expected(s"$job.total"))(
                s"exact total != ${in.expected(s"$job.total")}")).flatten
            Outcome(sha(parts), failure = problems.headOption,
              values = Map("output_bytes" -> parts.map(_.length.toLong).sum.toDouble))
          }
        })
      }
      val compare = Op(s"$job@compare", spark => {
        val res = Trace.span(s"$job@compare", "compare")(
          CompareRuns.compare(spark, s"${base.getPath}/r", Ratios))
        () => {
          val errs = res.drop(1).map(r => r.ratio -> r.dataErrorRate)
          Outcome(
            sha(Seq(errs.toString.getBytes(StandardCharsets.UTF_8))),
            failure = errs.collectFirst { case (ratio, e) if !e.exists(_.isFinite) => s"no error at $ratio" },
            values = errs.collect { case (ratio, Some(e)) => s"error@$ratio" -> e }.toMap)
        }
      })
      rungs :+ compare
    }

  def sampling(walls: Map[String, Double], out: Map[String, Outcome], in: Inputs): Sampling = {
    val jobs = Jobs.map(_._1)
    def err(ratio: String) = weighted(jobs.map(j =>
      (out(s"$j@compare").values(s"error@$ratio"), in.expected(s"$j.keys").toInt)))
    Sampling(
      speedup10 = speedup(walls, jobs.map(j => (s"$j@1.0", s"$j@0.1"))),
      speedup1 = speedup(walls, jobs.map(j => (s"$j@1.0", s"$j@0.01"))),
      error10 = err("0.1"), error1 = err("0.01"),
      detail = jobs.flatMap(j => Ratios.drop(1).map(r => s"$j.error@$r" ->
        out(s"$j@compare").values(s"error@$r"))).toMap)
  }

  def probes(spark: SparkSession, in: Inputs, seed: Long): Map[String, Double] = {
    val sources = Jobs.map { case (_, sub, _) => TextLines.readLines(spark, s"${in.dir}/$sub") }
    val onePct = sources.map(Sampled(_, 0.01, seed))
    Map(
      "sources.scan_s" -> sources.map(noopSeconds).sum,
      "sampling.keep_s" -> sources.map(s => noopSeconds(Sampled(s, 0.1, seed).data)).sum,
      "sampling.rows_scanned_per_kept" ->
        onePct.map(_.totalCount).sum.toDouble / onePct.map(_.sampledCount).sum)
  }

  override val accountingFuncs = Set("head", "count")
  override val sinkFuncs = Set("save", "command", "text")
}

/** Exact and universe-sampled twins of the join and graph estimators, run by
  * name from the catalog; the 1 % twins call the same builders at pct = 1.
  */
object AqpJoin extends Workload {
  val name = "aqp_join"

  private val Exact = Seq("tpch_q6", "tpch_revenue_monthly", "tpch_revenue_segment", "graph_triangles")
  private val U10 = Exact.map(_ + "_sampled_u10")
  private val U1: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "tpch_q6_sampled_u1" -> ((s, d) => TpchQueries.q6SampledUniverse(Tables.lineitem(s, d), 1)),
    "tpch_revenue_monthly_sampled_u1" -> ((s, d) =>
      JoinSampled.revenueMonthlySampledU(Tables.orders(s, d), Tables.lineitem(s, d), 1)),
    "tpch_revenue_segment_sampled_u1" -> ((s, d) => JoinSampled.revenueBySegmentChainSampledU(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d), 1)),
    "graph_triangles_sampled_u1" -> ((s, d) => graft.graphs.Triangles.statsSampledU(Tables.events(s, d), 1)))

  def generate(root: File, seed: Long): Inputs = Inputs.join(root, seed)

  def ops(in: Inputs, seed: Long, scratch: File): Seq[Op] =
    (Exact ++ U10).map(catalogOp(_, in.dir)) ++ U1.map { case (n, b) => queryOp(n, in.dir)(b) }

  private def pairs(suffix: String) = Exact.map(e => e -> s"${e}_sampled_$suffix")

  def sampling(walls: Map[String, Double], out: Map[String, Outcome], in: Inputs): Sampling = {
    def errs(suffix: String) = pairs(suffix).map { case (e, s) => s -> pairError(out(e), out(s)) }
    val (e10, e1) = (errs("u10"), errs("u1"))
    Sampling(
      speedup10 = speedup(walls, pairs("u10")), speedup1 = speedup(walls, pairs("u1")),
      error10 = weighted(e10.map(_._2)), error1 = weighted(e1.map(_._2)),
      detail = (e10 ++ e1).map { case (n, (e, _)) => s"$n.error" -> e }.toMap)
  }

  private def lineUnit = concat(col("l_orderkey").cast("string"), lit(":"), col("l_linenumber").cast("string"))

  def probes(spark: SparkSession, in: Inputs, seed: Long): Map[String, Double] = {
    val t = Seq("lineitem", "orders", "customer", "events").map(Tables.read(spark, in.dir, _))
    val (li, o, c) = (t(0), t(1), t(2))
    Map(
      "sources.scan_s" -> t.map(noopSeconds).sum,
      "sampling.keep_s" -> Seq(
        UniverseSampled.sample(li, lineUnit, 10),
        UniverseSampled.sample(o, col("o_orderkey"), 10),
        UniverseSampled.sample(c, col("c_custkey"), 10)).map(noopSeconds).sum,
      "sampling.rows_scanned_per_kept" ->
        li.count().toDouble / UniverseSampled.sample(li, lineUnit, 1).count())
  }
}

/** The iterative, build-heavy curation queries run by name, plus the
  * corpus word-count profile with its universe-sampled twins, which gives
  * this workload its sampled-vs-exact figures.
  */
object CurationIter extends Workload {
  val name = "curation_iter"

  private val Iterative = Seq("dedup_clusters", "docs_training_shard_neardup", "graph_kcore")

  def generate(root: File, seed: Long): Inputs = Inputs.curation(root, seed)

  def ops(in: Inputs, seed: Long, scratch: File): Seq[Op] =
    (Iterative ++ Seq("wordcount", "wordcount_sampled_u10")).map(catalogOp(_, in.dir)) :+
      queryOp("wordcount_sampled_u1", in.dir)((s, d) =>
        ReferenceQueries.sampledUniverse(Tables.documents(s, d), col("doc_id"), 1, ReferenceQueries.wordCount(_))
          .orderBy("word"))

  def sampling(walls: Map[String, Double], out: Map[String, Outcome], in: Inputs): Sampling = {
    val (e10, e1) = (pairError(out("wordcount"), out("wordcount_sampled_u10")),
      pairError(out("wordcount"), out("wordcount_sampled_u1")))
    Sampling(
      speedup10 = speedup(walls, Seq("wordcount" -> "wordcount_sampled_u10")),
      speedup1 = speedup(walls, Seq("wordcount" -> "wordcount_sampled_u1")),
      error10 = e10._1, error1 = e1._1,
      detail = Map.empty)
  }

  def probes(spark: SparkSession, in: Inputs, seed: Long): Map[String, Double] = {
    val docs = Tables.documents(spark, in.dir)
    Map(
      "sources.scan_s" -> Seq(docs, Tables.read(spark, in.dir, "events")).map(noopSeconds).sum,
      "sampling.keep_s" -> noopSeconds(UniverseSampled.sample(docs, col("doc_id"), 10)),
      "sampling.rows_scanned_per_kept" ->
        docs.count().toDouble / UniverseSampled.sample(docs, col("doc_id"), 1).count())
  }
}
