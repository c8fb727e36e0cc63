package perfbench

import java.io.{BufferedWriter, File, FileInputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. The program under test only ever sees the files
  * written here, and every file is a pure function of the seed and the size
  * constants below, so the same seed gives byte-identical inputs on any
  * commit that shares this generator.
  *
  * Tables are single parquet files with one row group, the layout of the
  * engine's usual inputs; text inputs are split over [[LadderParts]] files.
  * Each generated set lands in `<root>/<workload>-s<seed>-<digest>`, where
  * the digest covers every byte written. Session-lifetime memos in the
  * engine (the parquet listing memo, the parallelism-floor memo) key on the
  * path, so a path never names two different contents.
  */
final case class Inputs(
    dir: String,
    digest: String,
    bytes: Long,
    records: Long,
    /** Counts the generator took while writing, checked against exact results. */
    expected: Map[String, Long])

object Inputs {

  /** Raw-format inputs of the reference's jobs (ref_ladder). */
  val LadderTextLines = 80000
  val LadderLogLines = 120000
  val LadderWirelessLines = 120000
  val LadderParts = 8

  /** TPC-H-style tables and an events link graph (aqp_join). */
  val JoinCustomers = 6000
  val JoinOrders = 40000
  val JoinEvents = 30000
  val JoinMonths = 360

  /** Documents corpus and events link graph (curation_iter). */
  val CurationDocs = 1200
  val CurationEvents = 10000

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Distinct 5-letter word for every id below 26^5 (7919 is a unit mod 26^5). */
  private def word(id: Int): String = {
    var v = (id.toLong * 7919L) % 11881376L
    val sb = new StringBuilder(5)
    for (_ <- 0 until 5) { sb.append(Letters.charAt((v % 26).toInt)); v /= 26 }
    sb.toString
  }

  /** Zipf(1.1) sampler over `n` ranks by inverse CDF. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, 1.1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def writeLines(file: File)(body: BufferedWriter => Unit): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(
      new OutputStreamWriter(Files.newOutputStream(file.toPath), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  /** Text lines, CLF lines and sender/receiver CSV lines, each split over
    * [[LadderParts]] files so the scan runs one task per file.
    */
  def ladder(root: File, seed: Long): Inputs = {
    val tmp = staging(root, "ref_ladder")
    val rnd = new SplittableRandom(seed)
    val words = new Zipf(5000)
    val wordCounts = scala.collection.mutable.HashSet.empty[Int]
    var nWords = 0L
    for (p <- 0 until LadderParts) writeLines(new File(tmp, s"text/part-$p.txt")) { w =>
      for (_ <- 0 until LadderTextLines / LadderParts) {
        val ids = Array.fill(4 + rnd.nextInt(13))(words.draw(rnd))
        val base = ids.map(word).mkString(" ")
        // a line holding a digit is dropped whole by the word count
        val line = if (rnd.nextInt(33) == 0) s"$base x${rnd.nextInt(10000)}" else {
          ids.foreach(wordCounts += _); nWords += ids.length; base
        }
        w.write(line); w.write('\n')
      }
    }
    val hosts = new Zipf(2000)
    val hostSet = scala.collection.mutable.HashSet.empty[Int]
    val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    var nLog = 0L
    for (p <- 0 until LadderParts) writeLines(new File(tmp, s"clf/part-$p.log")) { w =>
      for (i <- 0 until LadderLogLines / LadderParts) {
        if (rnd.nextInt(97) == 0) w.write(s"corrupt $p-$i")
        else {
          val h = hosts.draw(rnd)
          hostSet += h; nLog += 1
          val path = s"/${word(rnd.nextInt(400))}/item${rnd.nextInt(50)}"
          w.write(f"h$h.example.com - - [${1 + rnd.nextInt(28)}%02d/${months(rnd.nextInt(12))}/2013:" +
            f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d +0000] " +
            s""""GET $path HTTP/1.1" ${if (rnd.nextInt(10) == 0) 404 else 200} ${rnd.nextInt(50000)}""")
        }
        w.write('\n')
      }
    }
    val devices = new Zipf(300)
    val links = scala.collection.mutable.HashSet.empty[(String, String)]
    for (p <- 0 until LadderParts) writeLines(new File(tmp, s"wireless/part-$p.csv")) { w =>
      for (_ <- 0 until LadderWirelessLines / LadderParts) {
        val (s, r) = (s"d${devices.draw(rnd)}", s"d${devices.draw(rnd)}")
        links += (if (s >= r) (s, r) else (r, s))
        w.write(s"$s,$r,${-30 - rnd.nextInt(60)},${Integer.toHexString(rnd.nextInt())}\n")
      }
    }
    publish(root, tmp, "ref_ladder", seed,
      LadderTextLines.toLong + LadderLogLines + LadderWirelessLines,
      Map(
        "text.lines" -> LadderTextLines.toLong, "clf.lines" -> LadderLogLines.toLong,
        "wireless.lines" -> LadderWirelessLines.toLong,
        "randwordcount.total" -> nWords, "randwordcount.keys" -> wordCounts.size.toLong,
        "randapachelog.total" -> nLog, "randapachelog.keys" -> hostSet.size.toLong,
        "randwireless.total" -> LadderWirelessLines.toLong, "randwireless.keys" -> links.size.toLong))
  }

  /** One single-row-group SNAPPY parquet file, the layout of the engine's
    * usual input tables. `fields` is the body of a parquet message type.
    */
  private final class Table(file: File, fields: String) {
    private val schema = MessageTypeParser.parseMessageType(s"message t { $fields }")
    private val names = schema.getFields.asScala.map(_.getName).toArray
    private val writer = ExampleParquetWriter.builder(new LocalOutputFile(file.toPath))
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(1L << 30).build()
    private val groups = new SimpleGroupFactory(schema)
    var rows = 0L
    def add(values: Any*): Unit = {
      val g = groups.newGroup()
      values.zipWithIndex.foreach {
        case (v: Long, i) => g.append(names(i), v)
        case (v: Int, i) => g.append(names(i), v)
        case (v: Double, i) => g.append(names(i), v)
        case (v: String, i) => g.append(names(i), v)
        case (v, i) => throw new IllegalArgumentException(s"${names(i)}: $v")
      }
      writer.write(g)
      rows += 1
    }
    def close(): Unit = writer.close()
  }

  private val DayMicros = 86400L * 1000000L
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Link-graph events in the engine's `events` schema: sender `user_id`,
    * receiver `props.k`.
    */
  private def events(dir: File, n: Int, users: Int, receivers: Int, r: SplittableRandom): Long = {
    val t = new Table(new File(dir, "events.parquet"),
      "optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,false)); optional int64 user_id; " +
        "optional binary event_type (STRING); optional double value; optional binary props (STRING);")
    val types = Array("click", "error", "purchase", "signup", "view")
    val t0 = LocalDate.of(2024, 1, 1).toEpochDay * DayMicros
    for (i <- 0 until n)
      t.add(i.toLong, t0 + (i * 26L + r.nextInt(26)) * 1000000L, r.nextInt(users).toLong,
        types(r.nextInt(5)), r.nextInt(20000) / 100.0, s"""{"k": ${r.nextInt(receivers)}}""")
    t.close()
    t.rows
  }

  /** TPC-H-style customer, orders and lineitem tables (orders spread over
    * [[JoinMonths]] months from 1980) plus a link-graph events table.
    */
  def join(root: File, seed: Long): Inputs = {
    val tmp = staging(root, "aqp_join")
    val r = new SplittableRandom(seed)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val c = new Table(new File(tmp, "customer.parquet"),
      "optional int64 c_custkey; optional binary c_name (STRING); optional int32 c_nationkey; " +
        "optional double c_acctbal; optional binary c_mktsegment (STRING);")
    for (i <- 0 until JoinCustomers)
      c.add(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99), segments(r.nextInt(5)))
    c.close()
    val o = new Table(new File(tmp, "orders.parquet"),
      "optional int64 o_orderkey; optional int64 o_custkey; optional binary o_orderstatus (STRING); " +
        "optional double o_totalprice; optional int64 o_orderdate (TIMESTAMP(MICROS,false)); " +
        "optional binary o_orderpriority (STRING);")
    val l = new Table(new File(tmp, "lineitem.parquet"),
      "optional int64 l_orderkey; optional int64 l_partkey; optional int64 l_suppkey; " +
        "optional int32 l_linenumber; optional double l_quantity; optional double l_extendedprice; " +
        "optional double l_discount; optional double l_tax; optional binary l_returnflag (STRING); " +
        "optional binary l_linestatus (STRING); optional int64 l_shipdate (TIMESTAMP(MICROS,false));")
    val statuses = Array("F", "O", "P")
    val (returnFlags, lineStatuses) = (Array("A", "N", "R"), Array("F", "O"))
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val day0 = LocalDate.of(1980, 1, 1).toEpochDay
    for (i <- 0 until JoinOrders) {
      val day = day0 + r.nextInt(JoinMonths * 30)
      o.add(i.toLong, r.nextInt(JoinCustomers).toLong, statuses(r.nextInt(3)), cents(r, 1000, 500000),
        day * DayMicros, priorities(r.nextInt(5)))
      for (line <- 1 to 1 + r.nextInt(7)) {
        val qty = 1 + r.nextInt(50)
        l.add(i.toLong, r.nextInt(40000).toLong, r.nextInt(2000).toLong, line, qty.toDouble,
          math.round(qty * cents(r, 900, 2900) * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          returnFlags(r.nextInt(3)), lineStatuses(r.nextInt(2)), (day + 1 + r.nextInt(121)) * DayMicros)
      }
    }
    o.close(); l.close()
    val nEvents = events(tmp, JoinEvents, 1500, 100, r)
    publish(root, tmp, "aqp_join", seed, c.rows + o.rows + l.rows + nEvents, Map.empty)
  }

  /** Documents in the engine's `documents` schema (dense ids, as the dedup
    * corpus augmentation requires) plus a link-graph events table.
    */
  def curation(root: File, seed: Long): Inputs = {
    val tmp = staging(root, "curation_iter")
    val r = new SplittableRandom(seed)
    val vocab = new Zipf(3000)
    val langs = Array("de", "en", "en", "en", "es", "fr", "zh")
    val d = new Table(new File(tmp, "documents.parquet"),
      "optional int64 doc_id; optional binary text (STRING); optional binary lang (STRING); " +
        "optional binary source (STRING); optional int64 n_chars;")
    for (i <- 0 until CurationDocs) {
      val text = Array.fill(12 + r.nextInt(60))(word(vocab.draw(r))).mkString(" ")
      d.add(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    d.close()
    val nEvents = events(tmp, CurationEvents, 1000, 100, r)
    publish(root, tmp, "curation_iter", seed, d.rows + nEvents, Map.empty)
  }

  private def staging(root: File, workload: String): File = {
    val d = new File(root, s".staging-$workload-${ProcessHandle.current().pid()}")
    deleteTree(d)
    d.mkdirs()
    d
  }

  /** Every file under `dir` with its relative path, in a stable order. */
  private def dataFiles(dir: File): Seq[(String, File)] = {
    val base = dir.toPath
    Files.walk(base).iterator().asScala.map(_.toFile).filter(_.isFile)
      .map(f => base.relativize(f.toPath).toString -> f).toSeq.sortBy(_._1)
  }

  /** Digest every byte, then move the staging dir to its content-named home. */
  private def publish(
      root: File, tmp: File, workload: String, seed: Long, records: Long,
      expected: Map[String, Long]): Inputs = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    var bytes = 0L
    dataFiles(tmp).foreach { case (rel, f) =>
      md.update(rel.getBytes(StandardCharsets.UTF_8))
      val in = new FileInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); bytes += n; n = in.read(buf) }
      } finally in.close()
    }
    val digest = md.digest().take(8).map("%02x".format(_)).mkString
    val dest = new File(root, s"$workload-s$seed-$digest")
    Files.move(tmp.toPath, dest.toPath)
    Inputs(dest.getPath, digest, bytes, records, expected)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
