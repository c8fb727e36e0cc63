package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** The native `graft_hash60` kernel must equal the built-in spelling it
  * replaced, `conv(substring(md5(x), 1, 15), 16, 10)` cast to long, on
  * every input — any Unicode string, empty strings, invalid UTF-8, binary,
  * null — in generated code, in interpreted evaluation, and inside a
  * `transform` lambda; its driver-side scalar [[Hash60.of]] must give the
  * same value; and a non-string, non-binary argument must fail at
  * analysis.
  */
class Hash60Spec extends SparkSpec {

  private def builtin(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val strGen: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Arbitrary.arbitrary[String], // any UTF-16 units, lone surrogates too
    Gen.listOf(Gen.choose(0x10000, 0x10FFFF)) // supplementary planes only
      .map(cps => new String(cps.toArray, 0, cps.length)),
    Gen.listOf(Gen.choose(0, 0x10FFFF).suchThat(cp => cp < 0xD800 || cp > 0xDFFF))
      .map(cps => new String(cps.toArray, 0, cps.length)))

  private val rowGen: Gen[(Option[String], Option[Array[Byte]])] = for {
    s <- Gen.frequency(1 -> Gen.const(None), 6 -> strGen.map(Some(_)))
    b <- Gen.frequency(1 -> Gen.const(None),
      6 -> Gen.listOf(Arbitrary.arbitrary[Byte]).map(bs => Some(bs.toArray)))
  } yield (s, b)

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("b", BinaryType)))

  /** An RDD-backed frame: a local-Seq frame's projection is folded on the
    * driver by ConvertToLocalRelation and would never reach generated code.
    */
  private def frame(rows: Seq[(Option[String], Option[Array[Byte]])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (s, b) => Row(s.orNull, b.orNull) }, 4),
      schema)

  /** `s`, `b`, and `b` cast to string (raw bytes, so invalid UTF-8). */
  private val inputs = Seq(col("s"), col("b"), col("b").cast("string"))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def propertyHolds(expectCodegen: Boolean): Unit = {
    val prop = Prop.forAll(Gen.listOf(rowGen)) { rows =>
      val df = frame(rows).select(
        inputs.map(Hash60.hash60) ++ inputs.map(builtin) :+ col("s"): _*)
      val wholeStage = df.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      val out = df.collect()
      val n = inputs.size
      wholeStage == expectCodegen && out.length == rows.size && out.forall { r =>
        (0 until n).forall(i => r.get(i) == r.get(n + i)) &&
          (r.isNullAt(2 * n) || r.getLong(0) == Hash60.of(r.getString(2 * n)))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: equals the built-in md5 spelling under whole-stage codegen") {
    // fallback off: a generated class that fails to compile throws here
    // instead of silently running interpreted
    withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      propertyHolds(expectCodegen = true)
    }
  }

  test("property: equals the built-in md5 spelling interpreted (NO_CODEGEN)") {
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false") {
      propertyHolds(expectCodegen = false)
    }
  }

  test("inside a transform lambda (interpreted eval on task threads)") {
    val rows = Gen.listOfN(400, rowGen).sample.get
    val strs = array(col("s"), col("b").cast("string"))
    val out = frame(rows).select(
      transform(strs, x => Hash60.hash60(x)), transform(strs, x => builtin(x)),
      transform(array(col("b")), x => Hash60.hash60(x)),
      transform(array(col("b")), x => builtin(x))).collect()
    assert(out.length === 400)
    out.foreach { r =>
      assert(r.getSeq[Any](0) === r.getSeq[Any](1))
      assert(r.getSeq[Any](2) === r.getSeq[Any](3))
    }
  }

  test("pinned values, null in gives null out, SQL name graft_hash60") {
    // md5("") = d41d8cd98f00b204..., md5("abc") = 900150983cd24fb0...
    assert(Hash60.of("") === java.lang.Long.parseLong("d41d8cd98f00b20", 16))
    assert(Hash60.of("abc") === java.lang.Long.parseLong("900150983cd24fb", 16))
    val r = spark.sql(
      "SELECT graft_hash60('abc'), graft_hash60(CAST(NULL AS STRING)), " +
        "graft_hash60(X'616263')").head()
    assert(r.getLong(0) === Hash60.of("abc"))
    assert(r.isNullAt(1))
    assert(r.getLong(2) === Hash60.of("abc"))
  }

  test("a non-string, non-binary argument fails at analysis") {
    val e = intercept[AnalysisException](spark.range(1).select(Hash60.hash60(col("id"))))
    assert(e.getMessage.contains("graft_hash60"))
    intercept[AnalysisException](spark.sql("SELECT graft_hash60(array('a'))"))
  }
}
