package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the TEXT-tier hot path (the r18
  * optimization round's guide-§4 pass): the tokenize → 3-gram → hash60
  * (→ winnow window-min) chain behind the shingle/winnow index tiers and
  * every delta screen, and the bare whitespace token count behind the
  * quantile/stats tiers.
  *
  * Why: the declarative forms are built from higher-order functions
  * (`filter`, `transform` with lambdas) — semantically exact but
  * INTERPRETED per array element (HOFs take no codegen), plus a regex
  * `split` and a per-gram `concat_ws` string materialization. Measured at
  * sf0.1 they put the shingle-family map stages at ~60 µs/token of pure
  * expression interpretation. Each expression here is one fused walk over
  * the document bytes, invoked once per row from codegen (or interpreted
  * eval) — no lambda dispatch, no intermediate token/gram arrays beyond
  * the output.
  *
  * Bit-parity contract (differential-tested in VectorExprsSpec against
  * the declarative forms, both hash modes, adversarial unicode /
  * whitespace / degenerate inputs, plus the real corpus in the oracle
  * gates):
  *
  *  - Tokens are maximal runs of non-whitespace in the LOWERCASED text,
  *    where whitespace is exactly Java regex `\s` = [ \t\n\x0B\f\r] (all
  *    ASCII bytes, so the byte walk never splits a multi-byte UTF-8
  *    sequence) and lowercasing is `UTF8String.toLowerCase` — the same
  *    call Spark's `lower` makes under the default UTF8_BINARY collation.
  *    This equals `filter(split(lower(text), "\\s+"), _ != "")`: a regex
  *    split yields the same runs plus leading/trailing empties, which the
  *    filter drops.
  *  - Grams are the w3 shingles of [[graft.functions.TextFns.shingles3All]]:
  *    token triples joined by a single 0x20, with the <3-token degenerate
  *    case emitting ONE whole-doc gram (all tokens space-joined; the
  *    empty string for an empty/whitespace-only doc).
  *  - hash60 matches [[graft.functions.TextFns.hash60]] in both modes:
  *    xxhash64 tier = `XXH64(bytes, seed 42) >>> 4` (identical to Spark's
  *    `xxhash64(gram)` on the same bytes); md5 tier = the first 15 hex
  *    chars of the digest as a long, computed directly as the big-endian
  *    first 8 digest bytes `>>> 4` — bit-identical to
  *    `conv(substring(md5(s), 1, 15), 16, 10)` without the hex/string
  *    round trip.
  *  - Winnow minima (w > 0) reproduce the r17 array form: one value per
  *    position p in [0, max(nGrams − w, 0)], the min of the hash window
  *    [p, p + w − 1] clipped to the array end (reachable only for the
  *    single p = 0 window of a short doc).
  */
object TextNative {

  /** Java regex `\s` — exactly these six ASCII bytes. */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0b || b == 0x0c || b == 0x0d

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** hash60 of a byte range: see the parity contract above. */
  private def hash60(bytes: Array[Byte], off: Int, len: Int, md5Mode: Boolean): Long =
    if (md5Mode) {
      val d = md5Local.get()
      d.reset()
      d.update(bytes, off, len)
      val h = d.digest()
      (((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) | ((h(2) & 0xffL) << 40) |
        ((h(3) & 0xffL) << 32) | ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
        ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)) >>> 4
    } else {
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, 42L) >>> 4
    }

  /** Count of whitespace-separated tokens. Lowercasing cannot change the
    * count (no Unicode lowercase mapping produces or removes `\s` chars),
    * so the walk runs over the RAW bytes.
    */
  def tokenCount(s: UTF8String): Int = {
    val b = s.getBytes
    var i = 0
    var n = 0
    while (i < b.length) {
      if (isWs(b(i))) i += 1
      else {
        n += 1
        while (i < b.length && !isWs(b(i))) i += 1
      }
    }
    n
  }

  /** The token ARRAY itself — lowercased maximal non-`\s` runs, the
    * `filter(split(lower(text), "\\s+"), _ != "")` drop-in. Slices of one
    * lowered byte array (no per-token string copies beyond the slice
    * headers).
    */
  def tokens(s: UTF8String): ArrayData = {
    val b = s.toLowerCase.getBytes
    var n = 0
    var out = new Array[AnyRef](8)
    var i = 0
    while (i < b.length) {
      if (isWs(b(i))) i += 1
      else {
        val st = i
        while (i < b.length && !isWs(b(i))) i += 1
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        out(n) = UTF8String.fromBytes(b, st, i - st)
        n += 1
      }
    }
    new GenericArrayData(if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }

  /** Fused tokenize → 3-gram → hash60 (→ winnow min) walk. `w <= 0`
    * returns the non-distinct gram hashes ([[graft.functions.TextFns.shingles3All]]
    * + hash, in gram order); `w > 0` returns the winnow window minima.
    */
  def shingleFps(text: UTF8String, w: Int, md5Mode: Boolean): ArrayData = {
    val b = text.toLowerCase.getBytes
    // token spans over the lowered bytes
    var nTok = 0
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var i = 0
    while (i < b.length) {
      if (isWs(b(i))) i += 1
      else {
        val s = i
        while (i < b.length && !isWs(b(i))) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s
        ends(nTok) = i
        nTok += 1
      }
    }
    val nGrams = if (nTok >= 3) nTok - 2 else 1
    val hs = new Array[Long](nGrams)
    if (nTok >= 3) {
      // scratch gram buffer, grown to the widest triple once
      var cap = 0
      var g = 0
      while (g < nGrams) {
        val len = (ends(g) - starts(g)) + (ends(g + 1) - starts(g + 1)) +
          (ends(g + 2) - starts(g + 2)) + 2
        if (len > cap) cap = len
        g += 1
      }
      val buf = new Array[Byte](cap)
      g = 0
      while (g < nGrams) {
        var p = 0
        var t = g
        while (t <= g + 2) {
          if (t > g) { buf(p) = 0x20; p += 1 }
          val l = ends(t) - starts(t)
          System.arraycopy(b, starts(t), buf, p, l)
          p += l
          t += 1
        }
        hs(g) = hash60(buf, 0, p, md5Mode)
        g += 1
      }
    } else {
      // whole-doc fallback gram: all tokens joined by a single space
      var len = 0
      var t = 0
      while (t < nTok) { len += ends(t) - starts(t); t += 1 }
      if (nTok > 1) len += nTok - 1
      val buf = new Array[Byte](len)
      var p = 0
      t = 0
      while (t < nTok) {
        if (t > 0) { buf(p) = 0x20; p += 1 }
        val l = ends(t) - starts(t)
        System.arraycopy(b, starts(t), buf, p, l)
        p += l
        t += 1
      }
      hs(0) = hash60(buf, 0, p, md5Mode)
    }
    if (w <= 0) return new GenericArrayData(hs)
    // winnow minima: min over [p, p+w-1] clipped to the array end
    val nPos = math.max(nGrams - w, 0) + 1
    val out = new Array[Long](nPos)
    var p = 0
    while (p < nPos) {
      var m = hs(p)
      var j = p + 1
      val hi = math.min(p + w, nGrams)
      while (j < hi) {
        if (hs(j) < m) m = hs(j)
        j += 1
      }
      out(p) = m
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Whitespace token count of a string — the `size(toks(text))` drop-in.
  * NULL in, NULL out: the ANSI `size()` contract this engine's sessions
  * run under (the legacy non-ANSI `size(NULL) = -1` does not apply), so
  * a null text drops out of sums and averages as it would under `size`.
  */
case class WsTokenCount(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ws_token_count"

  override def nullSafeEval(input: Any): Any =
    TextNative.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TextNative.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused shingle/winnow fingerprint array of a document — the
  * `transform(shingles3All(toks(text)), hash60)` (+ window-min) drop-in.
  * `w <= 0`: non-distinct gram hash60s in gram order. `w > 0`: winnow
  * window minima. NULL text yields NULL (the declarative chain's one
  * observable difference is `[null]` vs null, which `explode_outer` —
  * the only consumer shape — maps to the same single null row).
  */
case class ShingleFps(child: Expression, w: Int, md5Mode: Boolean)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "shingle_fps"

  override def nullSafeEval(input: Any): Any =
    TextNative.shingleFps(input.asInstanceOf[UTF8String], w, md5Mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextNative.shingleFps($c, $w, $md5Mode);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Lowercased whitespace tokens — the `filter(split(lower(text), "\\s+"),
  * _ != "")` drop-in: same array (elements, order, empty-drop, null-in →
  * null-out), one fused byte walk instead of a regex split plus an
  * interpreted per-element filter lambda.
  */
case class WsTokens(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def nullSafeEval(input: Any): Any =
    TextNative.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextNative.tokens($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  /** Column API for the native token count (int; callers cast as needed). */
  def wsTokenCount(text: Column): Column =
    ExpressionUtils.column(WsTokenCount(ExpressionUtils.expression(text)))

  /** Column API for the native token array. */
  def wsTokens(text: Column): Column =
    ExpressionUtils.column(WsTokens(ExpressionUtils.expression(text)))

  /** Column API for the native shingle/winnow fingerprint array. */
  def shingleFps(text: Column, w: Int, md5Mode: Boolean): Column =
    ExpressionUtils.column(
      ShingleFps(ExpressionUtils.expression(text), w, md5Mode))
}
