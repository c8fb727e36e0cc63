package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's 60-bit md5 hash as a NATIVE CODEGEN'D Catalyst expression:
  * `graft_hash60(x)` = the first 8 bytes of `md5(x)` read big-endian,
  * shifted right by 4 — the same value as the built-in spelling
  * `conv(substring(md5(x), 1, 15), 16, 10)` cast to long, and as the
  * DuckDB oracle's `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`
  * ([[graft.dedup.Hashing.hash60Sql]]): 15 hex chars are the top 60 bits
  * of the digest.
  *
  * Why a kernel: every universe-sample keep predicate and every md5-family
  * hash (MinHash, decontamination, bucketing) runs this once per row. The
  * built-in spelling renders the digest as a 32-char hex string, takes a
  * substring, converts it base 16 → base 10 as a string and parses that
  * string into a long. Here the digest bytes are read directly: one md5,
  * no strings. On a 160 k-row lineitem scan (one task) the keep filter
  * took 0.37 s the string way and 0.21 s this way, against a 0.17 s floor
  * for the scan plus building the unit string.
  *
  * Input is a string (its UTF-8 bytes, the bytes `md5` digests) or a
  * binary; a null input gives null. `MessageDigest` is stateful, so no
  * digest is shared across threads: generated code holds one per
  * generated instance, and the interpreted path (`eval`, e.g. inside a
  * `transform` lambda) and the driver-side [[Hash60.of]] take one per
  * thread.
  *
  * Registered as SQL function `graft_hash60` through
  * [[graft.plans.GraftExtensions]] (`injectFunction`).
  */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string or binary input, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_hash60"

  override protected def nullSafeEval(v: Any): Any = v match {
    case b: Array[Byte] => Hash60.ofBytes(Hash60.localMd5.get, b)
    case s: UTF8String => Hash60.ofUtf8(Hash60.localMd5.get, s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // DigestUtils.getMd5Digest, not MessageDigest.getInstance: the latter
    // throws a checked exception, which Janino rejects in generated code
    val md5 = ctx.addMutableState(classOf[MessageDigest].getName, "md5",
      v => s"$v = ${classOf[DigestUtils].getName}.getMd5Digest();")
    val of = if (child.dataType == BinaryType) "ofBytes" else "ofUtf8"
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = ${classOf[Hash60].getName}.$of($md5, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Hash60 {

  private val localMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => DigestUtils.getMd5Digest())

  /** Top 60 bits of a digest: its first 8 bytes big-endian, `>>> 4`. */
  private def top60(md: MessageDigest): Long = {
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 8) {
      h = (h << 8) | (d(i) & 0xffL)
      i += 1
    }
    h >>> 4
  }

  /** The hash of a string's UTF-8 bytes, read in place. */
  def ofUtf8(md: MessageDigest, s: UTF8String): Long = {
    md.update(s.getByteBuffer)
    top60(md)
  }

  def ofBytes(md: MessageDigest, b: Array[Byte]): Long = {
    md.update(b)
    top60(md)
  }

  /** Driver-side scalar: the value `graft_hash60` gives for `s`. */
  def of(s: String): Long = ofUtf8(localMd5.get, UTF8String.fromString(s))

  /** Registration descriptor for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_hash60"),
    new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_hash60 takes exactly 1 argument")
      Hash60(children.head)
    })

  /** Column-API entry point — self-registers in the active session like
    * [[GramHashes.gramHashes]].
    */
  def hash60(c: Column): Column = {
    val registry = org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
    val (ident, info, builder) = descriptor
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    call_function("graft_hash60", c)
  }
}
