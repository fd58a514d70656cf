package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Runtime kernel for the portable-hash expressions: one MD5 digest per
  * input, hex-nibble slices read straight off the 16 digest bytes.
  *
  * Equivalent by construction to the SQL-function formulation
  * `conv(substring(md5(x), 1 + start, len), 16, 10)` — hex digit `j` of
  * the md5 string is nibble `j` of the digest (high nibble of byte j/2
  * when j is even) — but without materializing the 32-char hex string or
  * running a base-16 string parse per slice. Bit-parity with the DuckDB
  * oracle idiom `CAST(('0x' || substr(md5(x), …)) AS BIGINT)` is pinned
  * by Md5HashSpec.
  *
  * Methods are called from generated code via the object's static
  * forwarders, so the expressions stay inside whole-stage codegen.
  */
object Md5HashUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private[functions] def digest(bytes: Array[Byte]): Array[Byte] = {
    val m = md.get(); m.reset(); m.digest(bytes)
  }

  /** Hex nibbles [startNibble, startNibble + nNibbles) of `d` as a long
    * (nNibbles ≤ 15, so the value is always non-negative). */
  private[functions] def slice(d: Array[Byte], startNibble: Int, nNibbles: Int): Long = {
    var v = 0L
    var j = 0
    while (j < nNibbles) {
      val idx = startNibble + j
      val b = d(idx >> 1) & 0xff
      v = (v << 4) | (if ((idx & 1) == 0) b >>> 4 else b & 0xf)
      j += 1
    }
    v
  }

  /** First 15 hex digits of md5 as a long — [[graft.functions.Portable.hash60]]. */
  def hash60(bytes: Array[Byte]): Long = slice(digest(bytes), 0, 15)

  /** `n` overlapping 4·`len`-bit slices at nibble stride `stride` from ONE
    * digest — the MinHash signature components. */
  def slices(bytes: Array[Byte], n: Int, len: Int, stride: Int): ArrayData = {
    val d = digest(bytes)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = slice(d, i * stride, len); i += 1 }
    ArrayData.toArrayData(out)
  }
}

private[graft] trait Md5Binary extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY argument, got ${t.simpleString}")
  }
}

/** Native 60-bit portable hash: `hash60(x)` = first 15 hex digits of
  * md5(x) as a long, one fused codegen'd call — replaces the
  * conv(substring(md5(x),1,15),16,10) chain in [[Portable.hash60]]'s hot
  * path (per-token/per-shingle) without changing a single output value. */
case class Md5Hash60(child: Expression) extends Md5Binary {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash60"

  override def nullSafeEval(input: Any): Any =
    Md5HashUtil.hash60(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5HashUtil.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All `n` MinHash slice components from ONE digest as ARRAY<BIGINT> —
  * slice i covers hex digits [1+stride·i, 1+stride·i+len) (1-based), the
  * exact value of `conv(substring(md5(x), 1+stride·i, len), 16, 10)`.
  * One expression per shingle instead of `n` substring+conv parses. */
case class Md5Slices(child: Expression, n: Int, len: Int, stride: Int)
    extends Md5Binary {
  require(stride * (n - 1) + len <= 32, s"slices overrun the 32-nibble digest")
  require(len <= 15, "a slice longer than 15 nibbles can overflow a signed long")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_md5_slices"

  override def nullSafeEval(input: Any): Any =
    Md5HashUtil.slices(input.asInstanceOf[Array[Byte]], n, len, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5HashUtil.slices($c, $n, $len, $stride)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
