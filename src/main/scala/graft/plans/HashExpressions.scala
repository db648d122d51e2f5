package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused portable 60-bit md5 hash: digest the UTF-8 bytes of
  * `prefix ++ child` and return the first 15 hex digits as a long.
  *
  * Semantically identical to the SQL chain
  * `conv(substring(md5(concat(prefix, c)), 1, 15), 16, 10)::long`
  * (the first 15 hex chars of a big-endian digest are the first 8 bytes
  * shifted right by one nibble), but skips the 32-char hex string, the
  * substring, and the radix parse — one digest and one shift per row.
  * The md5-chain form measured ~5-10 µs/row in the dedup pipelines (the
  * dominant suite cost); this fuses it into whole-stage codegen with
  * zero intermediate allocations beyond the digest itself.
  *
  * `prefix` covers the seeded-MinHash form `md5("<seed>|" || value)`
  * without a per-row concat: the prefix bytes are digested first.
  * Portability contract unchanged — any engine computing
  * `('0x' || substr(md5(...), 1, 15))::BIGINT` gets the same value.
  */
case class Md5Long60(child: Expression, prefix: String = "")
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "md5_long60"

  @transient private lazy val prefixBytes =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(input: Any): Any =
    Md5Long60.hash(prefixBytes, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val pfx = ctx.addReferenceObj("md5l60prefix", prefixBytes, "byte[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Long60.hash($pfx, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Md5Long60 = copy(child = newChild)
}

object Md5Long60 {
  // MessageDigest is stateful and not thread-safe; one per task thread
  // beats commons-codec's per-call getInstance
  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  def hash(prefix: Array[Byte], s: UTF8String): Long = {
    val d = digests.get()
    d.reset()
    if (prefix.length > 0) d.update(prefix)
    d.update(s.getBytes)
    val out = d.digest()
    // first 15 hex digits = first 8 big-endian bytes >>> one nibble;
    // unsigned shift keeps the value in [0, 2^60)
    (((out(0) & 0xffL) << 56) |
      ((out(1) & 0xffL) << 48) |
      ((out(2) & 0xffL) << 40) |
      ((out(3) & 0xffL) << 32) |
      ((out(4) & 0xffL) << 24) |
      ((out(5) & 0xffL) << 16) |
      ((out(6) & 0xffL) << 8) |
      (out(7) & 0xffL)) >>> 4
  }
}

/** Two longs as one 16-byte big-endian binary: the exact 128-bit row hash
  * `DiffEngine` compares, stored and shuffled in 16 bytes (a struct of two
  * longs costs twice that per row, and casting a long to binary is not
  * allowed under ANSI).
  */
case class LongPairBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two bigint inputs")
  }

  override def dataType: DataType = BinaryType

  override def prettyName: String = "long_pair_bytes"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongPairBytes.bytes(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.LongPairBytes.bytes($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongPairBytes =
    copy(left = newLeft, right = newRight)
}

object LongPairBytes {
  def bytes(a: Long, b: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(16).putLong(a).putLong(b).array()
}
