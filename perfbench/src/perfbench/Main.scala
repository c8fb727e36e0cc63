package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate the seeded inputs, set up three times (a
  * fresh session, an empty codegen class cache and one untimed warm-up pass
  * each), then run timed passes over the workload's ops in a closed loop
  * with one client until `--seconds` have elapsed. Prints the run's metrics
  * as the last line of stdout and writes the full record, raw per-op
  * samples included, under `<work>/results`.
  *
  * With `--trace 1` the run sets up once, alternates traced and untraced
  * passes, and reports per-layer metrics instead.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, cpus: Int, memory: String, source: String, commit: String)

  final case class Pass(
      kind: String, traced: Boolean, wall: Double, cpu: Double,
      ops: Seq[(String, Double)], outcomes: Map[String, Outcome],
      heapMb: Double, metaspaceMb: Double, compiles: Long, compileMs: Double,
      jitMs: Long, gcMs: Long, layers: Map[String, Double])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), m.getOrElse("cpus", "4").toInt, m.getOrElse("memory", "?"),
      m.getOrElse("source", ""), m.getOrElse("commit", ""))
  }

  private def now: Double = System.nanoTime() / 1e9

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU of the JVM's Java threads: the driver and the executor task
    * threads. JIT compiler and GC threads are left out; the JIT alone still
    * takes a large and run-dependent share of the process this early in its
    * life. Pooled task threads outlive a pass, so pass deltas are whole.
    */
  private def cpuSeconds: Double =
    threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum / 1e9

  private def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  /** JIT compiler time and stop-the-world GC time so far, in ms. */
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private def session(a: Args, scratch: File): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[${a.cpus}]", a.cpus.toString)
      .appName("perfbench")
      .config("spark.local.dir", new File(scratch, "spark").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  def main(argv: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler", org.apache.logging.log4j.Level.OFF)
    val a = parse(argv)
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload} (${Workloads.all.map(_.name).mkString(", ")})")
      sys.exit(2)
    }
    val scratch = new File(a.work, s"scratch-${ProcessHandle.current().pid()}")
    scratch.mkdirs()
    val ok = try run(a, wl, scratch) finally Inputs.deleteTree(scratch)
    sys.exit(if (ok) 0 else 1)
  }

  private def run(a: Args, wl: Workload, scratch: File): Boolean = {
    val g0 = now
    val in = wl.generate(new File(scratch, "inputs"), a.seed)
    val generateS = now - g0
    val ops = wl.ops(in, a.seed, scratch)

    val digests = mutable.HashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var lastOutcomes = Map.empty[String, Outcome]

    def runPass(spark: SparkSession, kind: String, traced: Boolean): Pass = {
      Trace.on = traced
      val firstSpan = Trace.nextSpanId
      val (c0, cpu0, jit0, gc0, t0) = (compiles.getCount, cpuSeconds, jitMs, gcMs, now)
      val timed = ops.map { op =>
        attempted += 1
        val s0 = now
        val check =
          try Right(Trace.span(op.name, "op")(op.run(spark)))
          catch { case e: Exception => Left(e) }
        val wall = now - s0
        spark.catalog.clearCache()
        (op.name, wall, check)
      }
      val (wall, cpu, nCompiles) = (now - t0, cpuSeconds - cpu0, compiles.getCount - c0)
      val (jit, gc) = (jitMs - jit0, gcMs - gc0)
      Trace.on = false
      val layers =
        if (traced) Trace.passLayers(firstSpan, wl.accountingFuncs, wl.sinkFuncs) else Map.empty[String, Double]
      val outcomes = timed.map { case (name, _, check) =>
        val o = check.flatMap(f => try Right(f()) catch { case e: Exception => Left(e) })
          .fold(e => Outcome("", failure = Some(message(e))), identity)
        val first = digests.getOrElseUpdate(name, o.digest)
        o.failure.orElse(Option.when(first != o.digest)(s"result digest ${o.digest} != $first of an earlier pass"))
          .foreach(f => failures += s"$kind $name: $f")
        name -> o
      }.toMap
      lastOutcomes = outcomes
      Inputs.deleteTree(new File(scratch, "ladder"))
      // broadcast blocks are released by Spark's cleaner only after a GC
      // finds them unreachable: collect, let it run, collect again
      System.gc()
      Thread.sleep(300)
      System.gc()
      val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName == "Metaspace")
        .map(_.getUsage.getUsed).sum
      // only the latest pass keeps result rows, so the heap figure does not
      // grow with the number of passes the benchmark itself remembers
      Pass(kind, traced, wall, cpu, timed.map(t => t._1 -> t._2), outcomes.map { case (n, o) => n -> o.copy(rows = Nil) },
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6, metaspace / 1e6,
        nCompiles, nCompiles * compiles.getSnapshot.getMean, jit, gc, layers)
    }

    // set-up: session start through the end of the warm-up pass
    val setups = mutable.ArrayBuffer.empty[Pass]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to (if (a.trace) 1 else 3)) {
      if (spark != null) stop(spark)
      org.apache.spark.sql.perfbench.SparkInternals.clearCodegenCache()
      val t0 = now
      spark = session(a, scratch)
      if (a.trace) Trace.install(spark)
      setups += runPass(spark, s"setup$k", a.trace)
      setupS += now - t0
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = now + a.seconds
    while (now < deadline || passes.size < (if (a.trace) 2 else 1))
      passes += runPass(spark, "timed", a.trace && passes.size % 2 == 0)

    import Workloads.median
    val opWalls = passes.flatMap(_.ops).groupBy(_._1).map { case (n, ws) => n -> median(ws.map(_._2).toSeq) }
    val samp =
      try Right(wl.sampling(opWalls, lastOutcomes, in))
      catch { case e: Exception => failures += s"sampling figures: ${message(e)}"; Left(message(e)) }
    val probes = if (a.trace) {
      val reps = (1 to 3).map(_ => wl.probes(spark, in, a.seed))
      reps.head.keys.map(k => k -> median(reps.map(_(k)))).toMap
    } else Map.empty[String, Double]
    stop(spark)

    val samples = passes.flatMap(_.ops.map(_._2)).sorted.toSeq
    val failed = failures.size
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupS.toSeq), "s"),
      "pass_s" -> (median(passes.map(_.wall).toSeq), "s"),
      "op_p50_s" -> (median(samples), "s"),
      "cpu_s" -> (median(passes.map(_.cpu).toSeq), "s"),
      "heap_retained_mb" -> (median(passes.map(_.heapMb).toSeq), "MB"),
      "metaspace_mb" -> (median(passes.map(_.metaspaceMb).toSeq), "MB"))
    samp.foreach { s =>
      endToEnd ++= Seq(
        "speedup_10pct" -> (s.speedup10, "ratio"), "speedup_1pct" -> (s.speedup1, "ratio"),
        "error_10pct" -> (s.error10, "fraction"), "error_1pct" -> (s.error1, "fraction"))
    }
    val opsFailed = failed.toDouble / attempted

    val traced = passes.filter(_.traced)
    val layers: Map[String, (Double, String)] = if (!a.trace) Map.empty else {
      val keys = traced.head.layers.keys
      val passLayers = keys.map(k => k -> median(traced.map(_.layers(k)).toSeq)).toMap
      def unit(k: String) =
        if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
        else if (k.endsWith("per_kept")) "ratio" else "count"
      val untracedPass = median(passes.filterNot(_.traced).map(_.wall).toSeq)
      val tracedPass = median(traced.map(_.wall).toSeq)
      (passLayers ++ probes ++ Map(
        "sources.input_mb" -> in.bytes / 1e6,
        "sources.records" -> in.records.toDouble,
        "sinks.output_mb" -> median(traced.map(_.outcomes.values.flatMap(_.values.get("output_bytes")).sum / 1e6).toSeq),
        "codegen.compiles" -> setups.head.compiles.toDouble,
        "codegen.compile_ms" -> setups.head.compileMs,
        "codegen.compiles_warm" -> median(passes.map(_.compiles.toDouble).toSeq),
        "trace.pass_s" -> tracedPass,
        "trace.untraced_pass_s" -> untracedPass,
        "trace.overhead_s" -> (tracedPass - untracedPass)))
        .map { case (k, v) => k -> (v, unit(k)) }
    }

    val metrics = if (a.trace) layers else endToEnd.toMap
    val record = scala.collection.immutable.ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "master" -> s"local[${a.cpus}]", "driver_memory" -> a.memory,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION, "source_digest" -> a.source, "git_commit" -> a.commit,
      "inputs" -> in, "generate_s" -> generateS,
      "ops_attempted" -> attempted, "ops_failed" -> opsFailed, "failures" -> failures,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "sampling_detail" -> samp.map(_.detail).getOrElse(Map.empty),
      "op_samples" -> samples.size,
      "setup_s" -> setupS,
      "passes" -> (setups ++ passes).map(p => scala.collection.immutable.ListMap(
        "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpu,
        "heap_retained_mb" -> p.heapMb, "metaspace_mb" -> p.metaspaceMb, "compiles" -> p.compiles,
        "jit_ms" -> p.jitMs, "gc_ms" -> p.gcMs,
        "ops" -> p.ops.map { case (n, w) => Seq(n, w) }, "layers" -> p.layers)),
      "digests" -> digests,
      "spans" -> (if (a.trace) Trace.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.start, s.end)) else Nil))
    val results = new File(a.work, "results")
    results.mkdirs()
    val path = new File(results, s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json")
    java.nio.file.Files.writeString(path.toPath, Json(record))

    failures.take(20).foreach(f => System.err.println(s"check failed: $f"))
    println(s"record: ${path.getPath}")
    if (!a.trace) println(Json(Map("ops_failed" -> Map("value" -> opsFailed, "unit" -> "fraction"))))
    println(Json(scala.collection.immutable.ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
    Console.out.flush()
    failed == 0
  }
}
