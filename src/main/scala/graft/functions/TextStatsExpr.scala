package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the per-document counts under the
  * text-quality features, from one pass over the UTF-8 bytes.
  *
  * Fields: `n_tokens` and `token_chars` (summed token length in code
  * points) of the whitespace tokenization `TextAnalysis.tokens` —
  * `trim` strips only `' '`, the split is on `\s+` =
  * `[ \t\n\x0B\f\r]` with limit −1 (a leading or trailing whitespace
  * run leaves an empty edge token), blank text has no tokens;
  * `stop_hits`, the tokens byte-equal to one of `stops`; `n_chars`,
  * the code points of the whole text (SQL `length`); `n_punct`, its
  * ASCII `\p{Punct}` characters. Null text → null.
  *
  * It replaces a composition that regex-split every document several
  * times and folded the tokens through interpreted `aggregate`,
  * `transform` and `filter` lambdas, plus a `regexp_replace`; the
  * features stay Catalyst arithmetic over these fields, so every
  * double they yield is unchanged.
  */
case class TextStatsExpr(child: Expression, stops: Seq[String]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_stats requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = TextStatsExpr.Schema
  override def prettyName: String = "text_stats"

  @transient private lazy val stopsByLen = TextStatsExpr.byLength(stops)

  override def nullSafeEval(input: Any): Any =
    TextStatsExpr.compute(input.asInstanceOf[UTF8String], stopsByLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("textStops", stopsByLen, "byte[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsExpr.compute($c, $sRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStatsExpr {

  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("token_chars", LongType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))

  /** Stop words' UTF-8 bytes, bucketed by byte length: a token probes
    * only the words of its own length. */
  def byLength(stops: Seq[String]): Array[Array[Array[Byte]]] = {
    val bytes = stops.filter(_ != null).distinct.map(_.getBytes(StandardCharsets.UTF_8))
    val maxLen = if (bytes.isEmpty) -1 else bytes.map(_.length).max
    Array.tabulate(maxLen + 1)(len => bytes.filter(_.length == len).toArray)
  }

  // ASCII byte classes: `\s` = [ \t\n\x0B\f\r] and `\p{Punct}` =
  // !"#$%&'()*+,-./:;<=>?@[\]^_`{|}~, both without UNICODE_CHARACTER_CLASS
  private val Space: Byte = 1
  private val Punct: Byte = 2
  private val Ascii: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (c == ' ' || (c >= '\t' && c <= '\r')) Space
    else if ((c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')) Punct
    else 0
  }

  /** Interpreted + codegen shared kernel. */
  def compute(text: UTF8String, stops: Array[Array[Array[Byte]]]): InternalRow = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    // `trim` strips ' ' only
    var s = 0
    while (s < n && Platform.getByte(base, off + s) == ' ') s += 1
    var e = n
    while (e > s && Platform.getByte(base, off + e - 1) == ' ') e -= 1
    var nChars = s + (n - e)
    var nPunct = 0
    var nTokens = 0
    var tokenChars = 0L
    var stopHits = 0
    if (s < e) {
      var start = s // the current token's first byte
      var chars = 0 // its code points so far
      var i = s
      while (i < e) {
        val b = Platform.getByte(base, off + i)
        if (b >= 0) {
          val cls = Ascii(b)
          nChars += 1
          i += 1
          if (cls == Space) {
            // a whitespace run ends the token: `split` with limit −1
            // keeps an empty edge token
            nTokens += 1
            tokenChars += chars
            if (isStop(base, off + start, i - 1 - start, stops)) stopHits += 1
            while (i < e && { val c = Platform.getByte(base, off + i); c >= 0 && Ascii(c) == Space }) {
              nChars += 1
              i += 1
            }
            start = i
            chars = 0
          } else {
            if (cls == Punct) nPunct += 1
            chars += 1
          }
        } else {
          nChars += 1
          chars += 1
          i += UTF8String.numBytesForFirstByte(b)
        }
      }
      nTokens += 1
      tokenChars += chars
      if (isStop(base, off + start, e - start, stops)) stopHits += 1
    }
    new GenericInternalRow(Array[Any](nTokens, tokenChars, stopHits, nChars, nPunct))
  }

  private def isStop(base: AnyRef, at: Long, len: Int,
      stops: Array[Array[Array[Byte]]]): Boolean = {
    if (len >= stops.length) return false
    val cands = stops(len)
    var k = 0
    while (k < cands.length) {
      val w = cands(k)
      var j = 0
      while (j < len && w(j) == Platform.getByte(base, at + j)) j += 1
      if (j == len) return true
      k += 1
    }
    false
  }
}
