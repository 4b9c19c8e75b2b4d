package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word n-gram shingling over an ALREADY-LOWERCASED string —
  * the byte-level twin of the Column algebra it replaces
  * (`TextAnalysis.shinglesHof`, pinned value-identical by
  * `ShinglesParitySpec`):
  *
  *   tokens  = array_remove(split(lower(trim(text)), "\\s+"), "")
  *   shingle = size < n  → array(array_join(tokens, " "))
  *             otherwise → sliding windows of n tokens, space-joined
  *
  * Why it exists (r19, guide §4): the HOF form —
  * `transform(sequence(...), i => concat_ws(...element_at...))` over a
  * bound token array — is a Catalyst higher-order function, which runs
  * INTERPRETED (CodegenFallback) with per-shingle lambda dispatch and
  * per-element `element_at` calls. It sits at the head of every
  * MinHash/SimHash/dedup/decontamination path in the engine (the same
  * interpreted-HOF wall class the ArgMinCentroid/PqEncode/SimHash64/
  * BpeMergeChain rewrites retired in r17/r18). This expression tokenizes
  * the UTF-8 bytes once (token boundaries are the six ASCII `\s` bytes,
  * which never occur inside multi-byte UTF-8 sequences, so byte scanning
  * is exact) and builds each shingle with one allocation.
  *
  * Parity notes, item by item:
  *   - `trim` (space-only) + `split("\\s+")` + `array_remove(_, "")`
  *     reduce to "maximal runs of non-`\s` bytes" — leading/trailing
  *     separators produce empty fragments that array_remove deletes;
  *   - Java's default `\s` is ASCII-only: space, \t, \n, \x0B, \f, \r;
  *   - lowercasing stays OUTSIDE (callers pass `lower(text)`), exactly
  *     like [[NormalizeCollapse]], so Unicode lowercasing semantics are
  *     Spark's own;
  *   - zero tokens → single empty-string shingle (callers filter it);
  *   - NULL text → NULL array (the HOF composition also null-propagates,
  *     and every caller explodes, so NULL → zero rows either way).
  */
object WordShinglesImpl {
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def shingles(lowered: UTF8String, n: Int): ArrayData = {
    val bytes = lowered.getBytes
    val len = bytes.length
    // token spans: starts(i) inclusive, ends(i) exclusive
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var m = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val s = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (m == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(m) = s
        ends(m) = i
        m += 1
      }
    }
    def joined(from: Int, count: Int): UTF8String = {
      if (count == 0) return UTF8String.EMPTY_UTF8
      var size = count - 1
      var k = from
      while (k < from + count) { size += ends(k) - starts(k); k += 1 }
      val out = new Array[Byte](size)
      var pos = 0
      k = from
      while (k < from + count) {
        if (k > from) { out(pos) = ' '; pos += 1 }
        val tl = ends(k) - starts(k)
        System.arraycopy(bytes, starts(k), out, pos, tl)
        pos += tl
        k += 1
      }
      UTF8String.fromBytes(out)
    }
    if (m < n) {
      new GenericArrayData(Array[AnyRef](joined(0, m)))
    } else {
      val out = new Array[AnyRef](m - n + 1)
      var w = 0
      while (w <= m - n) {
        out(w) = joined(w, n)
        w += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Catalyst expression wrapper for [[WordShinglesImpl]] — codegen emits a
  * direct static call, keeping the shingle pass inside whole-stage
  * codegen (the [[NormalizeCollapse]] pattern). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects a string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WordShinglesImpl.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordShinglesImpl.shingles($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Single-pass ASCII char-class count over a string's UTF-8 bytes —
  * the value of `size(regexp_extract_all(s, '[lo-hi]'))` for an ASCII
  * byte range (single-char matches = matching chars; multi-byte UTF-8
  * sequences never contain bytes < 0x80, so counting bytes is exact).
  * Replaces the regex form in the quality-score hot path, where
  * `regexp_extract_all` materializes one single-char UTF8String PER
  * MATCHING CHARACTER before `size` throws the array away. */
case class CountCharRange(child: Expression, lo: Byte, hi: Byte)
    extends UnaryExpression {
  require(lo >= 0 && hi >= lo && hi <= 0x7f, "ASCII range required")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "count_char_range"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"count_char_range expects a string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    CountCharRange.count(input.asInstanceOf[UTF8String], lo, hi)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CountCharRange.count($c, (byte) $lo, (byte) $hi)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object CountCharRange {
  def count(s: UTF8String, lo: Byte, hi: Byte): Int = {
    val bytes = s.getBytes
    var n = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= lo && b <= hi) n += 1
      i += 1
    }
    n
  }
}

/** Count of whitespace-separated non-empty tokens — the value of
  * `size(array_remove(split(lower(trim(text)), "\\s+"), ""))` (case
  * never changes token boundaries: no lowercase mapping produces
  * whitespace, so the count over the RAW text is identical). One byte
  * pass, no array materialization. */
case class WsTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "ws_token_count"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ws_token_count expects a string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WsTokenCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WsTokenCount.count($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** The non-empty whitespace-separated tokens of an ALREADY-LOWERCASED
  * string as one codegen'd byte pass — the value of
  * `array_remove(split(lower(trim(text)), "\\s+"), "")` (callers wrap
  * `lower(...)`, the [[WordShingles]]/[[NormalizeCollapse]] contract).
  * Zero tokens → EMPTY array (note: [[WordShingles]] with n=1 yields
  * [""] there — the array_join-of-nothing shingle — which is why this
  * is its own expression). Replaces the regex split + array_remove
  * composition at the head of every tokens() consumer (BM25 postings,
  * perplexity LM, doc stats, CMS sketch, token budget...). */
case class WsTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ws_tokens expects a string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WsTokens.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WsTokens.tokens($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object WsTokens {
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def tokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var cap = 8
    var out = new Array[AnyRef](cap)
    var m = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (m == cap) {
          cap *= 2
          out = java.util.Arrays.copyOf(out, cap)
        }
        val tok = new Array[Byte](i - start)
        System.arraycopy(bytes, start, tok, 0, i - start)
        out(m) = UTF8String.fromBytes(tok)
        m += 1
      }
    }
    new GenericArrayData(
      if (m == cap) out else java.util.Arrays.copyOf(out, m))
  }
}

object WsTokenCount {
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def count(s: UTF8String): Int = {
    val bytes = s.getBytes
    var n = 0
    var i = 0
    var inTok = false
    while (i < bytes.length) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) { n += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    n
  }
}

object TextShingleFunctions {
  import org.apache.spark.sql.GraftSqlShims.{columnOf, expressionOf}
  import org.apache.spark.sql.Column

  def countCharRange(text: Column, lo: Char, hi: Char): Column =
    columnOf(CountCharRange(expressionOf(text), lo.toByte, hi.toByte))

  def wsTokenCount(text: Column): Column =
    columnOf(WsTokenCount(expressionOf(text)))

  /** Column form of [[WsTokens]]. `loweredText` must already be
    * lowercased (callers wrap `lower(...)`). */
  def wsTokens(loweredText: Column): Column =
    columnOf(WsTokens(expressionOf(loweredText)))
}
