package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-group regex extraction in ONE match —
  * `regex_groups(str, regex, "g1,g2,…")` returns
  * `[group(g1), group(g2), …]` of the FIRST match of `regex` in `str`
  * (the `Matcher.find` convention `regexp_extract` uses), or an EMPTY
  * array when the string does not match.
  *
  * Why a kernel (guide §1.2 per-task work, r18): extracting N fields of
  * one line with N `regexp_extract` calls runs the full regex N times per
  * row — the CLF access-log parse ([[graft.sources.AccessLog.parse]])
  * paid 5 anchored-regex matches per line across the entire log-analysis
  * family. One match, N group reads is the same answer at 1/N of the
  * regex cost.
  *
  * Semantics match `regexp_extract` exactly: a group that matched nothing
  * (null group) yields "" — the only shape difference is that a
  * NON-matching string yields an empty ARRAY where N separate
  * `regexp_extract` calls yield N ""s; callers use `size(...) = N` as
  * their matched-line filter (the CLF parse's malformed-line drop).
  *
  * `regex` and the group list are foldable string literals — the compiled
  * Pattern is built once per executor ([[RegexGroups.compute]]'s lazy),
  * not per row.
  */
case class RegexGroups(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, StringType, StringType)
          if second.foldable && third.foldable =>
        checkGroups()
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, foldable string regex, foldable " +
            s"string group list), got " +
            Seq(first, second, third).map(_.dataType.sql).mkString(", "))
    }

  /** A bad regex or group list fails here, at analysis, not per row: each
    * listed group must be an int in `0..groupCount` of the pattern.
    */
  private def checkGroups(): TypeCheckResult = {
    val regex = Option(second.eval(null)).map(_.toString)
    val list = Option(third.eval(null)).map(_.toString)
    val groupCount = regex.flatMap(r =>
      scala.util.Try(java.util.regex.Pattern.compile(r).matcher("").groupCount).toOption)
    val bad = list.toSeq.flatMap(_.split(",", -1)).filterNot(g =>
      g.trim.toIntOption.exists(i => i >= 0 && groupCount.exists(i <= _)))
    if (groupCount.isEmpty)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: invalid regex ${regex.orNull}")
    else if (list.isEmpty || bad.nonEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: group list ${list.orNull} must be comma-separated ints in " +
          s"0..${groupCount.get}; bad: ${bad.mkString(", ")}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "regex_groups"

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      second.eval(null).asInstanceOf[UTF8String].toString)

  @transient private lazy val groups: Array[Int] =
    third.eval(null).asInstanceOf[UTF8String].toString
      .split(",").map(_.trim.toInt)

  /** One compiled match, N group reads. */
  def compute(s: UTF8String): ArrayData = {
    val m = pattern.matcher(s.toString)
    if (!m.find()) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](groups.length)
    var i = 0
    while (i < groups.length) {
      val g = m.group(groups(i))
      out(i) = if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(s: Any, r: Any, g: Any): Any =
    compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ctx.addReferenceObj("regexGroups", this, classOf[RegexGroups].getName)
    nullSafeCodeGen(ctx, ev, (s, _, _) => s"${ev.value} = $obj.compute($s);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RegexGroups {

  /** Registration descriptor for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("regex_groups"),
    new ExpressionInfo(classOf[RegexGroups].getName, "regex_groups"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "regex_groups takes exactly 3 arguments")
      RegexGroups(children(0), children(1), children(2))
    })

  /** Column-API entry point — self-registers in the active session like
    * [[GramHashes.gramHashes]].
    */
  def regexGroups(str: Column, regex: String, groups: Seq[Int]): Column = {
    val registry = org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
    val (ident, info, builder) = descriptor
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    call_function("regex_groups", str, lit(regex), lit(groups.mkString(",")))
  }
}
