package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Runtime for the per-document text-signature expressions: one pass over
  * a document's words per row, no intermediate arrays handed back to
  * Catalyst, no higher-order lambdas, no explode + doc_id regroup.
  *
  * Inputs are the already-normalized `lower(trim(text))` (the expression's
  * child), split with `UTF8String.split("\\s+", -1)` — the very call
  * Spark's `split` makes — so words, shingles and their bytes are the ones
  * the column formulations in [[Portable]] produce, by construction.
  * Hashing reuses [[Md5HashUtil]]'s digest and nibble slices.
  * TextSignatureSpec pins every kernel to its column spec. Called from
  * generated code through the object's static forwarders. */
object TextSignatureUtil {
  private val WsRegex = UTF8String.fromString("\\s+")
  private val Space = ' '.toByte

  /** MinHash component j is md5 nibbles [SliceStride·j, SliceStride·j +
    * SliceLen) — the `graft_md5_slices(x, k, 14, 2)` geometry. */
  private val SliceLen = 14
  private val SliceStride = 2
  private[functions] val MaxMinhashes = (32 - SliceLen) / SliceStride + 1

  private def words(s: UTF8String): Array[UTF8String] = s.split(WsRegex, -1)

  /** Shingle `i`: words [i, i+n) joined by single spaces — the bytes of
    * `concat(w_i, ' ', …, w_{i+n-1})`. */
  private def shingle(ws: Array[UTF8String], i: Int, n: Int): UTF8String = {
    var len = n - 1
    var j = i
    while (j < i + n) { len += ws(j).numBytes; j += 1 }
    val out = new Array[Byte](len)
    var off = 0
    j = i
    while (j < i + n) {
      if (j > i) { out(off) = Space; off += 1 }
      ws(j).writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + off)
      off += ws(j).numBytes
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Distinct word n-grams of `s` in first-occurrence order; `s` itself
    * when it has fewer than `n` words; `[null]` for a null `s` (the column
    * form's `array(lower(trim(null)))`). */
  def shingleSet(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return new GenericArrayData(Array[Any](null))
    val ws = words(s)
    if (ws.length < n) return new GenericArrayData(Array[Any](s.copy()))
    val m = ws.length - n + 1
    val seen = new java.util.HashSet[UTF8String](2 * m)
    val out = new Array[Any](m)
    var k = 0
    var i = 0
    while (i < m) {
      val sh = shingle(ws, i, n)
      if (seen.add(sh)) { out(k) = sh; k += 1 }
      i += 1
    }
    new GenericArrayData(if (k == m) out else out.slice(0, k))
  }

  /** The `k` MinHash components of `s`: per component, the minimum over
    * its n-gram shingles (or `s` itself, under `n` words) of one md5
    * nibble slice. Duplicate shingles cannot move a minimum, so they are
    * hashed as they come rather than de-duplicated first. */
  def minhashSig(s: UTF8String, n: Int, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    def fold(bytes: Array[Byte]): Unit = {
      val d = Md5HashUtil.digest(bytes)
      var j = 0
      while (j < k) {
        val v = Md5HashUtil.slice(d, SliceStride * j, SliceLen)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    val ws = words(s)
    if (ws.length < n) fold(s.getBytes)
    else {
      var i = 0
      while (i <= ws.length - n) { fold(shingle(ws, i, n).getBytes); i += 1 }
    }
    ArrayData.toArrayData(mins)
  }

  /** `bits`-bit SimHash of `s`: bit b is set when more than half of the
    * distinct words' [[Md5HashUtil.hash60]] values have bit b set. */
  def simhashSig(s: UTF8String, bits: Int): Long = {
    val ws = words(s)
    val seen = new java.util.HashSet[UTF8String](2 * ws.length)
    val ones = new Array[Int](bits)
    var n = 0
    var i = 0
    while (i < ws.length) {
      if (seen.add(ws(i))) {
        n += 1
        val h = Md5HashUtil.hash60(ws(i).getBytes)
        var b = 0
        while (b < bits) { ones(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (ones(b) * 2 > n) sig |= 1L << b; b += 1 }
    sig
  }
}

private[graft] trait TextInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${t.simpleString}")
  }
}

/** Distinct word `n`-gram shingles of a normalized text, first occurrence
  * first — `array_distinct` of [[Portable.shingles]] in one call. Not
  * null-propagating: a null text yields `[null]`, as the column form
  * does. */
case class ShingleSet(child: Expression, n: Int) extends TextInput {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_set"

  override def eval(input: InternalRow): Any =
    TextSignatureUtil.shingleSet(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.TextSignatureUtil.shingleSet(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `k` per-document MinHash components of a normalized text over its
  * word `n`-gram shingles as ARRAY<BIGINT> — component j equals
  * [[Portable.minhash]]`(j, shingles)`, without the shingle array, the
  * per-component lambda or the md5 hex string. Null in, null out. */
case class MinhashSig(child: Expression, n: Int, k: Int) extends TextInput {
  require(n >= 1, s"shingle width must be positive, got $n")
  require(k >= 1 && k <= TextSignatureUtil.MaxMinhashes,
    s"$k minhashes overrun the 32-nibble digest")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    TextSignatureUtil.minhashSig(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSignatureUtil.minhashSig($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bits`-bit SimHash of a normalized text: the majority vote over its
  * distinct words' 60-bit hashes — [[Portable.simhash32]] of the hashed
  * distinct words, for any width up to 60. Null in, null out. */
case class SimhashSig(child: Expression, bits: Int) extends TextInput {
  require(bits >= 1 && bits <= 60, s"a SimHash of hash60 votes has 1..60 bits, got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(input: Any): Any =
    TextSignatureUtil.simhashSig(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSignatureUtil.simhashSig($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
