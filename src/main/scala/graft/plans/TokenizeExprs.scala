package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Mutable (start,end) boundary-scratch holder: confined to its `owner`
  * thread, fetched once per task via [[TokenizeRuntime.threadBounds]]
  * (top-level class so generated Java code can name it without a `$`). */
final class TokenBounds(val owner: Long) {
  var a: Array[Int] = new Array[Int](512)
}

/** Thread-guarded handle to the per-thread [[TokenBounds]] scratch, for
  * codegen'd expressions: the generated class caches ONE handle, and get()
  * re-fetches the underlying ThreadLocal only when the cached holder is
  * owned by another thread — so an instance constructed on one thread but
  * driven from another (e.g. Python-UDF writer threads consuming a
  * partition iterator) can never share another thread's scratch and race on
  * its boundary array. The guard is one reference read: the owner is a
  * final field of the holder itself, so a thread cannot pair another
  * thread's holder with its own id. Steady-state cost per call is one
  * Thread.currentThread().getId compare, far below the per-call ThreadLocal
  * map probe this construction avoids. */
final class TokenBoundsHandle {
  private var tb: TokenBounds = _
  def get(): TokenBounds = {
    val cur = tb
    if (cur != null && cur.owner == Thread.currentThread().getId) cur
    else { val mine = TokenizeRuntime.threadBounds(); tb = mine; mine }
  }
}

/** The sentence and token scanners: the only implementation of the pinned
  * boundaries (TextModel.SentenceSplitRegex / TokenSplitRegex), regex-free
  * and exactly equivalent to the java.util.regex forms they replace:
  *  - [[sentences]] == Pattern.compile("(?<=[.!?])\\s+").split(s, -1)
  *    (Spark's split(col, re) keeps trailing empties — limit -1 — unlike
  *    Java String.split's default);
  *  - [[tokensLower]] == the non-empty elements of
  *    Pattern.compile("[^\\p{L}\\p{Nd}]+").split(lower(s), -1), i.e. the
  *    maximal runs of Unicode letter/decimal-digit CODE POINTS
  *    (supplementary-plane letters are one token char, like the regex
  *    treats them).
  *
  * A plain object so Scala emits static forwarders the generated Java can
  * call. Both scanners walk the UTF-8 BYTES and emit `fromAddress` views into
  * the input buffer — zero decode, zero String, zero byte copies (the
  * round-4 JFR put ~10% of executor CPU in this stage's toString/substring/
  * fromString churn). Same lifetime contract as `UnsafeRow.getUTF8String`'s
  * zero-copy views: downstream operators copy bytes when they materialize
  * output rows, before the input buffer can advance. The byte walk is exact:
  *  - every sentence-boundary char ('.','!','?', the 5 ASCII ws) is a
  *    single ASCII byte, and UTF-8 continuation/lead bytes are all >= 0x80,
  *    so the byte walk sees exactly the chars a String walk would see;
  *  - token runs are maximal letter/digit CODE-POINT runs — the walk
  *    decodes each code point from its 1-4 bytes and slices at code-point
  *    boundaries.
  * TokenizeEquivalenceSpec fuzzes both against the regex forms, and the
  * Stages A4/A5 expressions against Spark's built-in split/lower/filter. */
object TokenizeRuntime {

  // \s without UNICODE_CHARACTER_CLASS is ASCII-only: [ \t\n\x0B\f\r]
  private def isSentWsB(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private def isBoundaryB(b: Int): Boolean = b == '.' || b == '!' || b == '?'

  /** \p{L} | \p{Nd} for ASCII, precomputed from the Character predicates
    * themselves (the table IS the definition for cp < 128). The token scan
    * classifies every code point of every sentence, and the generic
    * Character.isLetter/isDigit dispatch pair on that path was 8.5% of
    * executor CPU in the round-4 JFR profile — webtext is overwhelmingly
    * ASCII, so the classification becomes one bounds-checked load. */
  private val AsciiTokenCp: Array[Boolean] =
    Array.tabulate(128)(c => Character.isLetter(c) || Character.isDigit(c))

  /** \p{L} | \p{Nd} on a code point (java.util.regex category semantics). */
  private def isTokenCp(cp: Int): Boolean =
    if (cp < 128) AsciiTokenCp(cp)
    else Character.isLetter(cp) || Character.isDigit(cp)

  /** Per-thread (start,end) boundary scratch: both scanners first collect
    * byte spans here, then allocate the output array at its EXACT size —
    * the grow-and-trim Arrays.copyOf pattern this replaces was ~10% of
    * executor CPU (round-4 JFR: one trim copy per sentence). The runtime
    * object is shared across executor threads, hence ThreadLocal — but the
    * codegen'd expressions fetch the holder ONCE per generated-class
    * instance (per task) via [[threadBounds]] and pass it per call:
    * ThreadLocal map probing on per-sentence get()s read ~12% of executor
    * CPU in the round-5 JFR even with a static ThreadLocal. */
  private val scratch = new ThreadLocal[TokenBounds] {
    override def initialValue(): TokenBounds = new TokenBounds(Thread.currentThread().getId)
  }

  /** The calling thread's boundary scratch — fetch once per task, pass to
    * the two-arg scanners. The holder must stay on its thread. */
  def threadBounds(): TokenBounds = scratch.get()

  private def grow(h: TokenBounds): Array[Int] = {
    val b = java.util.Arrays.copyOf(h.a, h.a.length * 2)
    h.a = b
    b
  }

  private def slices(s: UTF8String, bounds: Array[Int], m: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new Array[AnyRef](m)
    var k = 0
    while (k < m) {
      out(k) = UTF8String.fromAddress(base, off + bounds(2 * k), bounds(2 * k + 1) - bounds(2 * k))
      k += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** Sentence split: a separator is a maximal ASCII-whitespace run whose
    * first char immediately follows '.', '!' or '?'. Matches can never be
    * adjacent (each needs a non-ws char before it), so empties only appear
    * as the single trailing element Pattern.split(-1) would keep. */
  def sentences(s: UTF8String): ArrayData = sentences(s, scratch.get())

  def sentences(s: UTF8String, h: TokenBounds): ArrayData = {
    val nb = s.numBytes
    var bounds = h.a
    var m = 0
    def emit(a: Int, b: Int): Unit = {
      if (2 * m == bounds.length) bounds = grow(h)
      bounds(2 * m) = a
      bounds(2 * m + 1) = b
      m += 1
    }
    var start = 0
    var i = 1
    while (i < nb) {
      if (isSentWsB(s.getByte(i) & 0xFF) && isBoundaryB(s.getByte(i - 1) & 0xFF)) {
        emit(start, i)
        i += 1
        while (i < nb && isSentWsB(s.getByte(i) & 0xFF)) i += 1
        start = i
        i += 1 // a match cannot start AT `start` (preceded by whitespace)
      } else i += 1
    }
    emit(start, nb)
    slices(s, bounds, m)
  }

  /** lower + token split + empty filter in one call, bit-identical to
    * filter(split(lower(sent), TokenSplitRegex), t => length(t) > 0)
    * (TokenizeEquivalenceSpec fuzzes both paths against the regex form).
    *
    * Pure-ASCII sentences — the overwhelming webtext case — take a fused
    * single pass: lowercase (A–Z + 32, exactly UTF8String.toLowerCase's
    * result for full-ASCII input) and token classification stream through
    * the bytes once into one output buffer, instead of toLowerCase's
    * separate scan+copy followed by our scan (the two-pass form plus its
    * per-char Character.toLowerCase dispatch was ~3% of executor CPU in the
    * round-4 JFR). Any byte >= 0x80 aborts to the generic path, which
    * delegates to UTF8String.toLowerCase — the SAME call Spark's Lower
    * makes for the default collation. */
  def tokensLower(s: UTF8String): ArrayData = tokensLower(s, scratch.get())

  def tokensLower(s: UTF8String, h: TokenBounds): ArrayData = {
    val nb = s.numBytes
    val buf = new Array[Byte](nb)
    var bounds = h.a
    var m = 0
    var start = -1
    var i = 0
    while (i < nb) {
      val b0 = s.getByte(i) & 0xFF
      if (b0 >= 0x80) return tokensLowerGeneric(s, h) // non-ASCII: generic path
      val lb = if (b0 >= 'A' && b0 <= 'Z') b0 + 32 else b0
      buf(i) = lb.toByte
      if (AsciiTokenCp(lb)) { if (start < 0) start = i }
      else if (start >= 0) {
        if (2 * m == bounds.length) bounds = grow(h)
        bounds(2 * m) = start
        bounds(2 * m + 1) = i
        m += 1
        start = -1
      }
      i += 1
    }
    if (start >= 0) {
      if (2 * m == bounds.length) bounds = grow(h)
      bounds(2 * m) = start
      bounds(2 * m + 1) = nb
      m += 1
    }
    val out = new Array[AnyRef](m)
    var k = 0
    while (k < m) {
      out(k) = UTF8String.fromBytes(buf, bounds(2 * k), bounds(2 * k + 1) - bounds(2 * k))
      k += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  private def tokensLowerGeneric(s: UTF8String, h: TokenBounds): ArrayData = {
    val low = s.toLowerCase
    val nb = low.numBytes
    var bounds = h.a
    var m = 0
    var start = -1
    var i = 0
    while (i < nb) {
      val b0 = low.getByte(i) & 0xFF
      var w = 1
      var isTok = false
      if (b0 < 0x80) {
        // ASCII fast path: table lookup, no code-point decode
        isTok = AsciiTokenCp(b0)
      } else {
        var cp = b0
        if (b0 < 0xE0) {
          w = 2; cp = ((b0 & 0x1F) << 6) | (low.getByte(i + 1) & 0x3F)
        } else if (b0 < 0xF0) {
          w = 3; cp = ((b0 & 0x0F) << 12) | ((low.getByte(i + 1) & 0x3F) << 6) |
            (low.getByte(i + 2) & 0x3F)
        } else {
          w = 4; cp = ((b0 & 0x07) << 18) | ((low.getByte(i + 1) & 0x3F) << 12) |
            ((low.getByte(i + 2) & 0x3F) << 6) | (low.getByte(i + 3) & 0x3F)
        }
        isTok = isTokenCp(cp)
      }
      if (isTok) { if (start < 0) start = i }
      else if (start >= 0) {
        if (2 * m == bounds.length) bounds = grow(h)
        bounds(2 * m) = start
        bounds(2 * m + 1) = i
        m += 1
        start = -1
      }
      i += w
    }
    if (start >= 0) {
      if (2 * m == bounds.length) bounds = grow(h)
      bounds(2 * m) = start
      bounds(2 * m + 1) = nb
      m += 1
    }
    slices(low, bounds, m)
  }
}

private[plans] trait TokenizeLikeExpr extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
}

/** split(text, TextModel.SentenceSplitRegex) as a native scanner expression
  * (identical array, including the possible trailing empty element). */
case class SplitSentencesExpr(child: Expression) extends TokenizeLikeExpr {
  override def prettyName: String = "split_sentences"
  override def nullSafeEval(input: Any): Any =
    TokenizeRuntime.sentences(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // per-task-instance THREAD-GUARDED scratch handle: the underlying
    // ThreadLocal is probed only on thread change, not per sentence
    val h = ctx.addMutableState("graft.plans.TokenBoundsHandle", "tokBounds",
      v => s"$v = new graft.plans.TokenBoundsHandle();")
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenizeRuntime.sentences($c, $h.get())")
  }
  override protected def withNewChildInternal(newChild: Expression): SplitSentencesExpr =
    copy(child = newChild)
}

/** filter(split(lower(sent), TextModel.TokenSplitRegex), t => length(t) > 0)
  * as one native scanner expression. */
case class TokenizeLowerExpr(child: Expression) extends TokenizeLikeExpr {
  override def prettyName: String = "tokenize_lower"
  override def nullSafeEval(input: Any): Any =
    TokenizeRuntime.tokensLower(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addMutableState("graft.plans.TokenBoundsHandle", "tokBounds",
      v => s"$v = new graft.plans.TokenBoundsHandle();")
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenizeRuntime.tokensLower($c, $h.get())")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenizeLowerExpr =
    copy(child = newChild)
}
