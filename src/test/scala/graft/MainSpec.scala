package graft

import org.apache.spark.sql.functions._

import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.sampling.{SamplingConfig, SamplingReport}
import graft.sinks.TextKVSink
import graft.sources.AccessLog

/** The CLI jobs end-to-end: table-dir mode and the reference's RAW input
  * formats, exact-mode output equality, and the K2 report protocol.
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = s"${System.getProperty("java.io.tmpdir")}/$name"

  test("randwordcount (table dir, exact): K1 equals the word-count query; report parses") {
    val out = tmp("graft_main_wc")
    val rpt = Main.runJob(spark, "randwordcount", sf001, out, None, SamplingConfig.Exact)
    assert(rpt.sampled === rpt.total && rpt.total > 0)
    val kv = TextKVSink.read(spark, out)
      .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
    val expect = RQ.wordCount(Tables.documents(spark, sf001))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kv === expect)
    val parsed = SamplingReport.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out.result.txt")))
    assert(parsed.total === rpt.total)
  }

  test("randapachelog host over RAW CLF lines equals the events-table pipeline") {
    val raw = tmp("graft_main_clf_raw")
    if (!new java.io.File(raw, "_SUCCESS").exists()) {
      AccessLog.synthesize(Tables.events(spark, sf001))
        .coalesce(1).withColumnRenamed("line", "value")
        .write.mode("overwrite").text(raw)
    }
    val out = tmp("graft_main_clf_out")
    Main.runJob(spark, "randapachelog", raw, out, Some("host"), SamplingConfig.Exact)
    val kv = TextKVSink.read(spark, out)
      .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
    val expect = RQ.clfHost(RQ.clfParsed(Tables.events(spark, sf001)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kv === expect)
  }

  test("randwireless over RAW csv: lexicographic string pairs, malformed dropped") {
    val raw = tmp("graft_main_wl_raw")
    Seq("a,b,x", "b,a", "c,d,9,9", "justonefield", ",b")
      .toDF("value").coalesce(1).write.mode("overwrite").text(raw)
    val out = tmp("graft_main_wl_out")
    Main.runJob(spark, "randwireless", raw, out, None, SamplingConfig.Exact)
    val kv = TextKVSink.read(spark, out)
      .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
    assert(kv === Map("b->a" -> 2L, "d->c" -> 1L))
  }

  test("sampled mode (ratio 0.5) reports the achieved rate and writes fewer total counts") {
    val out = tmp("graft_main_wc_sampled")
    val rpt = Main.runJob(
      spark, "randwordcount", sf001, out, None, SamplingConfig(ratio = 0.5, seed = 42))
    assert(rpt.sampled > 0 && rpt.sampled < rpt.total)
    assert(math.abs(rpt.actualRate - 0.5) < 0.2)
    val sampledTotal = TextKVSink.read(spark, out)
      .agg(sum(col("value").cast("long"))).head().getLong(0)
    val exactTotal = RQ.wordCount(Tables.documents(spark, sf001))
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(sampledTotal < exactTotal) // unscaled sample counts, as the reference wrote
  }

  test("compare subcommand scores runJob outputs with the reference formula") {
    import graft.compare.{CompareRuns, ResultComparator}
    val base = tmp("graft_cmp_")
    Main.runJob(spark, "randwordcount", sf001, base + "1.0", None, SamplingConfig.Exact)
    Main.runJob(
      spark, "randwordcount", sf001, base + "0.5", None, SamplingConfig(ratio = 0.5, seed = 42))
    val results = CompareRuns.compare(spark, base, Seq("1.0", "0.5"))
    assert(results.head.ratio === 1.0 && results.head.dataErrorRate.isEmpty)
    assert(results(1).ratio === 0.5)
    // must equal the in-memory comparator over the run scaled by 1/0.5
    val expected = ResultComparator.dataErrorRate(
      RQ.wordCount(Tables.documents(spark, sf001)),
      TextKVSink.read(spark, base + "0.5")
        .select(col("key").as("word"), (col("value").cast("long") / 0.5).as("est_cnt")),
      Seq("word"))
    assert(math.abs(results(1).dataErrorRate.get - expected) < 1e-9)
    val text = CompareRuns.render(results)
    assert(text.contains("=== Result with sampling ratio 0.5==="))
    assert(text.contains("[Designed sample rate]")) // report lines replayed
    assert(text.contains("[Data error rate]"))
  }

  test("compare handles the reference's result.txt-inside-run-dir layout") {
    import graft.compare.CompareRuns
    // Build the EXACT reference layout (RSMRResultComparator.java:93):
    // <run>/part-r-00000 + <run>/result.txt, both inside the run dir.
    val base = tmp("graft_cmp_ref_")
    Main.runJob(spark, "randwordcount", sf001, base + "1.0", None, SamplingConfig.Exact)
    Main.runJob(
      spark, "randwordcount", sf001, base + "0.5", None, SamplingConfig(ratio = 0.5, seed = 42))
    for (r <- Seq("1.0", "0.5")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(base + r + ".result.txt"),
        java.nio.file.Paths.get(base + r, "result.txt"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val results = CompareRuns.compare(spark, base, Seq("1.0", "0.5"))
    // the in-dir report is found AND its lines are NOT ingested as K1 rows:
    // the scored rate must equal the sibling-layout run's (previous test)
    assert(results.head.ratio === 1.0)
    assert(results(1).ratio === 0.5)
    val sibling = CompareRuns.compare(spark, tmp("graft_cmp_"), Seq("1.0", "0.5"))
    assert(math.abs(results(1).dataErrorRate.get - sibling(1).dataErrorRate.get) < 1e-9)
    // K1 read excludes result.txt: no report-label keys leak into the rows
    val keys = graft.sinks.TextKVSink.readParts(spark, base + "1.0")
      .select("key").collect().map(_.getString(0))
    assert(!keys.exists(_.startsWith("[")))
  }

  test("a report-less run dir does NOT inherit a sibling result.txt (exact default)") {
    import graft.compare.CompareRuns
    // parent dir holds result.txt + two plain run dirs; the parent's report
    // must not apply to either, so both score as exact
    val parent = tmp("graft_cmp_orphan")
    val p = java.nio.file.Paths.get(parent)
    for (r <- Seq("a", "b")) {
      TextKVSink.write(
        RQ.wordCount(Tables.documents(spark, sf001)), "word", "cnt", s"$parent/$r")
    }
    java.nio.file.Files.writeString(
      p.resolve("result.txt"),
      Main.runJob(spark, "randwordcount", sf001, tmp("graft_cmp_orphan_src"), None,
        SamplingConfig(ratio = 0.5, seed = 42)).toString)
    val results = CompareRuns.compare(spark, s"$parent/", Seq("a", "b"))
    assert(results.forall(_.ratio === 1.0)) // NOT the sibling's 0.5
    assert(results(1).dataErrorRate.get === 0.0) // identical exact runs
  }

  test("unknown job / missing task fail loudly") {
    intercept[IllegalArgumentException](
      Main.runJob(spark, "nope", sf001, tmp("x1"), None, SamplingConfig.Exact))
    intercept[IllegalArgumentException](
      Main.runJob(spark, "randapachelog", sf001, tmp("x2"), None, SamplingConfig.Exact))
  }
}
