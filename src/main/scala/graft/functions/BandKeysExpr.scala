package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the LSH band keys of a signature, one
  * per band — band `b`'s key is the lowercase md5 hex of the
  * comma-joined decimal rendering of elements `[b·rows, (b+1)·rows)`
  * (a slice past the end is short or empty; null elements are
  * skipped, as `concat_ws` skips them).
  *
  * The bytes are those of `md5(concat_ws(',', transform(slice(sig,
  * b·rows + 1, rows), cast string)))`, which an external SQL engine
  * replays; one loop per row builds them all, where that composition
  * ran `bands` branches of interpreted `transform` lambdas. Null
  * signature → null (no band rows after `posexplode`).
  */
case class BandKeysExpr(child: Expression, bands: Int, rows: Int) extends UnaryExpression {

  require(bands >= 1 && rows >= 1, "band_keys: bands and rows must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_keys requires array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "band_keys"

  override def nullSafeEval(input: Any): Any =
    BandKeysExpr.compute(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandKeysExpr.compute($c, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): BandKeysExpr =
    copy(child = newChild)
}

object BandKeysExpr {

  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  private val MinLong = Long.MinValue.toString.getBytes("US-ASCII")

  /** Interpreted + codegen shared kernel. */
  def compute(sig: ArrayData, bands: Int, rows: Int): GenericArrayData = {
    val md5 = MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](rows * 21) // 20 chars of Long.MinValue + ','
    val hex = new Array[Byte](32)
    val n = sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var len = 0
      var i = b * rows
      val end = math.min(n.toLong, b.toLong * rows + rows).toInt
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = ','; len += 1 }
          len = putLong(buf, len, sig.getLong(i))
        }
        i += 1
      }
      md5.update(buf, 0, len)
      val d = md5.digest()
      var k = 0
      while (k < 16) {
        hex(2 * k) = Hex((d(k) >> 4) & 0xf)
        hex(2 * k + 1) = Hex(d(k) & 0xf)
        k += 1
      }
      out(b) = UTF8String.fromBytes(hex.clone())
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Decimal rendering of `v` at `buf(pos)`; the position after it. */
  private def putLong(buf: Array[Byte], pos: Int, v: Long): Int = {
    if (v == Long.MinValue) {
      System.arraycopy(MinLong, 0, buf, pos, MinLong.length)
      return pos + MinLong.length
    }
    var p = pos
    var x = v
    if (x < 0) { buf(p) = '-'; p += 1; x = -x }
    val first = p
    while ({ buf(p) = ('0' + x % 10).toByte; p += 1; x /= 10; x > 0 }) ()
    var lo = first
    var hi = p - 1
    while (lo < hi) {
      val t = buf(lo); buf(lo) = buf(hi); buf(hi) = t
      lo += 1; hi -= 1
    }
    p
  }
}
