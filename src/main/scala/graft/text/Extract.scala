package graft.text

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic, total, locale-free HTML-to-text extraction, UTF-8 bytes in
  * → UTF-8 bytes out.
  *
  * This is the byte-identical contract of SURVEY.md §7.2: the fixture
  * generator computes the `text` column of the `webpages` table with
  * [[text]], the pipeline recomputes it with [[textU8]] (the same code,
  * through graft.plans.ExtractTextExpr), and PipelineSpec "byte-identical
  * extracted text per url" asserts the two agree per url. The reference
  * snapshot is empty (SURVEY.md §0), so this pinned spec is normative.
  *
  * Pinned algorithm (order matters):
  *  1. Decode UTF-8 with U+FFFD replacement for malformed input (total on any
  *     byte array).
  *  2. Remove, case-insensitively and non-greedily, in ONE left-to-right
  *     pass: <script...>...</script>, <style...>...</style>, <!-- ... -->
  *     (leftmost alternative wins; an unclosed construct does not match and
  *     falls through to step 3's tag handling).
  *  3. ONE left-to-right tag pass: each "<" up to the next ">" is replaced by
  *     "\n" when the tag name is block-level (p div br li ul ol h1..h6 tr
  *     table section article header footer blockquote), by "" otherwise.
  *  4. Decode exactly these entities: &amp; &lt; &gt; &quot; &#39;
  *     &nbsp; (to a plain space), plus numeric &#NNN; / &#xHH; for code points
  *     in [1, 0xFFFF] excluding the surrogate range — anything else is left
  *     verbatim (fixed whitelist: determinism over fidelity).
  *  5. Normalize whitespace: CR/CRLF -> LF; within each line collapse runs of
  *     space/tab/U+00A0 to one space and trim; drop empty lines; join with
  *     "\n".
  *
  * Steps 2–3 in their java.util.regex form (the scanners below have exactly
  * these semantics; the regex engine's per-page cost dominated the
  * pipeline's CPU profile):
  *   noise:  (?is)<(script|style)\b[^>]*>.*?</\1[^>]*>|<!--.*?-->
  *   tag:    (?s)<[^>]*>   → "\n" when BLOCK, "" otherwise
  *   block:  (?is)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|
  *                   header|footer|blockquote)\b[^>]*>
  * \b is java.util.regex's default word boundary; (?i) without UNICODE_CASE
  * folds ASCII only (so U+017F 'ſ' does NOT match 's').
  *
  * Steps 2–5 run on the UTF-8 bytes: every structural character the
  * scanners test ('<', '>', '&', ';', '-', '/', '!', CR, LF, space, tab) is a
  * single ASCII byte, and UTF-8 continuation/lead bytes are all >= 0x80, so a
  * byte walk sees exactly the characters a char walk over the decoded string
  * sees; the only multi-byte cases are handled explicitly (U+00A0 line-space
  * = C2 A0, \b word-chars and entity bodies decode their code point locally).
  * Step 1 is the identity on strictly valid UTF-8 ([[isValidUtf8]]);
  * anything else is decoded with replacement and re-encoded first. The JDK
  * decoder never emits a lone surrogate, so the re-encoded bytes are valid
  * UTF-8 and the same scanners apply.
  *
  * This is the only implementation; ExtractSpec, ExtractBytesSpec,
  * StripEquivalenceSpec and FixtureSpec check it against the plain test-side
  * reference (graft.ExtractReference: the regexes and the unfused steps).
  */
object Extract {
  private val BlockNames = Array(
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "table", "section", "article", "header", "footer", "blockquote")

  /** Step 1 — total UTF-8 decode. */
  def decodeUtf8(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    try dec.decode(ByteBuffer.wrap(bytes)).toString
    catch { case _: CharacterCodingException => "" } // unreachable with REPLACE; belt+braces
  }

  /** Strict RFC-3629 UTF-8 validation: correct continuation counts, no
    * overlongs, no surrogates, max U+10FFFF — exactly the inputs
    * java.nio's decoder maps without any U+FFFD replacement. */
  def isValidUtf8(b: Array[Byte]): Boolean = {
    val n = b.length
    var i = 0
    while (i < n) {
      val b0 = b(i) & 0xFF
      if (b0 < 0x80) i += 1
      else if (b0 >= 0xC2 && b0 <= 0xDF) {
        if (i + 1 >= n || (b(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (b0 >= 0xE0 && b0 <= 0xEF) {
        if (i + 2 >= n) return false
        val b1 = b(i + 1) & 0xFF
        val lo = if (b0 == 0xE0) 0xA0 else 0x80
        val hi = if (b0 == 0xED) 0x9F else 0xBF
        if (b1 < lo || b1 > hi || (b(i + 2) & 0xC0) != 0x80) return false
        i += 3
      } else if (b0 >= 0xF0 && b0 <= 0xF4) {
        if (i + 3 >= n) return false
        val b1 = b(i + 1) & 0xFF
        val lo = if (b0 == 0xF0) 0x90 else 0x80
        val hi = if (b0 == 0xF4) 0x8F else 0xBF
        if (b1 < lo || b1 > hi || (b(i + 2) & 0xC0) != 0x80 || (b(i + 3) & 0xC0) != 0x80)
          return false
        i += 4
      } else return false
    }
    true
  }

  /** The step-4 whitelist: replacement for an entity body (the text between
    * '&' and ';'), or null when the body is not accepted and the '&' stays
    * verbatim. The deliberate Integer.parseInt quirks (unicode digits,
    * leading signs) are part of the pinned semantics. */
  private def entityReplacement(body: String): String = body match {
    case "amp"  => "&"
    case "lt"   => "<"
    case "gt"   => ">"
    case "quot" => "\""
    case "nbsp" => " "
    case b if b.length >= 2 && b.charAt(0) == '#' =>
      val numStr = b.substring(1)
      val cp: Int =
        try {
          if ((numStr.charAt(0) == 'x' || numStr.charAt(0) == 'X') && numStr.length > 1)
            Integer.parseInt(numStr.substring(1), 16)
          else Integer.parseInt(numStr, 10)
        } catch { case _: NumberFormatException => -1 }
      if (cp >= 1 && cp <= 0xFFFF && !(cp >= 0xD800 && cp <= 0xDFFF)) cp.toChar.toString
      else null
    case _ => null
  }

  private final class Builder(capacity: Int) {
    var a = new Array[Byte](math.max(capacity, 16))
    var len = 0
    def add(b: Byte): Unit = {
      if (len == a.length) a = java.util.Arrays.copyOf(a, len * 2)
      a(len) = b; len += 1
    }
    def addRange(src: Array[Byte], from: Int, until: Int): Unit = {
      val m = until - from
      if (len + m > a.length)
        a = java.util.Arrays.copyOf(a, math.max(len + m, len * 2))
      System.arraycopy(src, from, a, len, m)
      len += m
    }
  }

  private def indexOf(s: Array[Byte], n: Int, from: Int, target: Byte): Int = {
    var i = math.max(from, 0)
    while (i < n) { if (s(i) == target) return i; i += 1 }
    -1
  }

  /** ASCII-ci region match against a lowercase ASCII literal (the exact
    * folding of Pattern.CASE_INSENSITIVE without UNICODE_CASE; non-ASCII
    * bytes never fold to ASCII). */
  private def asciiCi(s: Array[Byte], n: Int, from: Int, lit: String): Boolean = {
    if (from < 0 || from + lit.length > n) return false
    var k = 0
    while (k < lit.length) {
      val c = s(from + k) & 0xFF
      val f = if (c >= 'A' && c <= 'Z') c + 32 else c
      if (f != lit.charAt(k).toInt) return false
      k += 1
    }
    true
  }

  /** java.util.regex's \b word-char test (without UNICODE_CHARACTER_CLASS)
    * at byte position i, a char start: '_' or Character.isLetterOrDigit of
    * the UTF-16 char (a quirk: \w stays ASCII-only, but Pattern.Bound uses
    * the Unicode predicate). A 4-byte (supplementary) char is two surrogates
    * to the regex, and surrogates are never letter-or-digit, so it is
    * non-word here too. */
  private def isWordCharAt(s: Array[Byte], n: Int, i: Int): Boolean = {
    val b0 = s(i) & 0xFF
    if (b0 < 0x80)
      b0 == '_' || Character.isLetterOrDigit(b0.toChar)
    else if (b0 < 0xE0) {
      val cp = ((b0 & 0x1F) << 6) | (s(i + 1) & 0x3F)
      Character.isLetterOrDigit(cp.toChar)
    } else if (b0 < 0xF0) {
      val cp = ((b0 & 0x0F) << 12) | ((s(i + 1) & 0x3F) << 6) | (s(i + 2) & 0x3F)
      Character.isLetterOrDigit(cp.toChar)
    } else false
  }

  /** Step 2 — one left-to-right pass removing script/style elements and
    * comments; leftmost alternative wins, an unclosed construct falls
    * through (its interior is then scanned too, exactly like the regex).
    * Steps 2 and 3 stay two passes: noise removal can create new tag
    * adjacencies that the tag pass must then see, e.g. "<" + "<!--x-->" +
    * "b>". */
  private def stripNoise(s: Array[Byte], n: Int): (Array[Byte], Int) = {
    var p = indexOf(s, n, 0, '<')
    if (p < 0) return (s, n)
    var out: Builder = null
    var last = 0
    while (p >= 0) {
      var end = -1 // exclusive end of a noise match starting at p, or -1
      // alt 1: <(script|style)\b[^>]*>.*?</\1[^>]*>
      val name =
        if (asciiCi(s, n, p + 1, "script")) "script"
        else if (asciiCi(s, n, p + 1, "style")) "style"
        else null
      if (name != null) {
        val nameEnd = p + 1 + name.length
        // \b: next char must exist and be non-word ([^>]*> needs a '>' later
        // anyway, so end-of-input fails either way)
        if (nameEnd < n && !isWordCharAt(s, n, nameEnd)) {
          val openEnd = indexOf(s, n, nameEnd, '>')
          if (openEnd >= 0) {
            // non-greedy close: EARLIEST "</name" (ascii-ci) with a '>' after
            var q = openEnd + 1
            while (end < 0 && q >= 0) {
              q = indexOf(s, n, q, '<')
              if (q >= 0) {
                if (q + 1 < n && s(q + 1) == '/' && asciiCi(s, n, q + 2, name)) {
                  val gt = indexOf(s, n, q + 2 + name.length, '>')
                  if (gt >= 0) end = gt + 1
                  else q = -1 // no '>' anywhere later: alt 1 fails outright
                } else q += 1
              }
            }
          }
        }
      }
      // alt 2: <!--.*?-->
      if (end < 0 && p + 3 < n && s(p + 1) == '!' && s(p + 2) == '-' && s(p + 3) == '-') {
        // indexOf("-->", p + 4)
        var q = p + 4
        var close = -1 // -1 searching, -2 failed, >=0 found
        while (close == -1 && q + 2 < n) {
          q = indexOf(s, n, q, '-')
          if (q < 0 || q + 2 >= n) close = -2
          else if (s(q + 1) == '-' && s(q + 2) == '>') close = q
          else q += 1
        }
        if (close >= 0) end = close + 3
      }
      if (end >= 0) {
        if (out == null) out = new Builder(n)
        out.addRange(s, last, p)
        last = end
        p = if (end < n) indexOf(s, n, end, '<') else -1
      } else p = indexOf(s, n, p + 1, '<')
    }
    if (out == null) (s, n)
    else { out.addRange(s, last, n); (out.a, out.len) }
  }

  /** Step 3 — one left-to-right pass: every "<...>" (interior '>'-free)
    * becomes "\n" when the tag word is block-level, "" otherwise; a '<'
    * with no later '>' stays verbatim. */
  private def stripTags(s: Array[Byte], n: Int): (Array[Byte], Int) = {
    var p = indexOf(s, n, 0, '<')
    if (p < 0) return (s, n)
    val out = new Builder(n)
    var last = 0
    while (p >= 0) {
      val gt = indexOf(s, n, p + 1, '>')
      if (gt < 0) p = -1 // no closing '>' left: no further tags possible
      else {
        out.addRange(s, last, p)
        if (isBlockTag(s, n, p + 1, gt)) out.add('\n')
        last = gt + 1
        p = indexOf(s, n, gt + 1, '<')
      }
    }
    out.addRange(s, last, n)
    (out.a, out.len)
  }

  private def charWidth(b0: Int): Int =
    if (b0 < 0x80) 1 else if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4

  /** Block test over the tag interior s[start, gt): optional '/', then a
    * maximal word run that must equal a block name (the regex \b makes the
    * alternation equivalent to whole-word set membership). The run's length
    * is in bytes: a run holding a non-ASCII char never equals an all-ASCII
    * block name, and for pure-ASCII runs bytes and chars coincide. */
  private def isBlockTag(s: Array[Byte], n: Int, start: Int, gt: Int): Boolean = {
    var i = start
    if (i < gt && s(i) == '/') i += 1
    var j = i
    while (j < gt && isWordCharAt(s, n, j)) j += charWidth(s(j) & 0xFF)
    val len = j - i
    if (len < 1 || len > 10) return false // longest name: "blockquote"
    var b = 0
    while (b < BlockNames.length) {
      val bn = BlockNames(b)
      if (bn.length == len && asciiCi(s, n, i, bn)) return true
      b += 1
    }
    false
  }

  /** Steps 4+5 fused into one scan: entities decode into the line/space
    * state machine directly, saving one full copy per page. An entity body
    * is decoded to a (tiny, rare) String for [[entityReplacement]], and the
    * 8-char distance limit from '&' to ';' counts CHARS, so the walk counts
    * char starts while scanning for ';'. */
  private def decodeAndNormalize(s: Array[Byte], n: Int): (Array[Byte], Int) = {
    val out = new Builder(n)
    var pendingSpace = false
    var wroteChar = false   // a non-space char written on the current line
    var wroteLine = false   // any non-empty line written so far
    var pendingNewline = false

    def emitNewline(): Unit = {
      if (wroteChar) pendingNewline = true
      wroteChar = false
      pendingSpace = false
    }
    def emitSpace(): Unit = pendingSpace = wroteChar // leading spaces dropped
    def emitRegularFirst(b: Byte): Unit = {
      if (!wroteChar && wroteLine && pendingNewline) { out.add('\n'); pendingNewline = false }
      if (pendingSpace) { out.add(' '); pendingSpace = false }
      out.add(b)
      wroteChar = true
      wroteLine = true
    }
    /** Route a decoded entity char through the same classification as an
      * input char, encoding it to UTF-8. */
    def emitChar(c: Char): Unit = {
      if (c == '\n' || c == '\r') emitNewline()
      else if (c == ' ' || c == '\t' || c == '\u00A0') emitSpace()
      else if (c < 0x80) emitRegularFirst(c.toByte)
      else if (c < 0x800) {
        emitRegularFirst((0xC0 | (c >> 6)).toByte)
        out.add((0x80 | (c & 0x3F)).toByte)
      } else {
        emitRegularFirst((0xE0 | (c >> 12)).toByte)
        out.add((0x80 | ((c >> 6) & 0x3F)).toByte)
        out.add((0x80 | (c & 0x3F)).toByte)
      }
    }

    var i = 0
    while (i < n) {
      val b0 = s(i) & 0xFF
      if (b0 == '&') {
        // first ';' — usable only when its char distance from '&' is <= 8
        // (the longest accepted body fits in 7 chars)
        var semi = -1
        var d = 0
        var j = i + 1
        while (semi < 0 && j < n && d <= 8) {
          if ((s(j) & 0xC0) != 0x80) {
            d += 1
            if (s(j) == ';' && d <= 8) semi = j
          }
          j += 1
        }
        var advanced = false
        if (semi > i) {
          val body = new String(s, i + 1, semi - i - 1, StandardCharsets.UTF_8)
          val rep = entityReplacement(body)
          if (rep != null) {
            var k = 0
            while (k < rep.length) { emitChar(rep.charAt(k)); k += 1 }
            i = semi + 1
            advanced = true
          }
        }
        if (!advanced) { emitRegularFirst('&'); i += 1 }
      } else if (b0 == '\r') {
        // CR and CRLF both normalize to one line break
        if (i + 1 < n && s(i + 1) == '\n') i += 1
        emitNewline(); i += 1
      } else if (b0 == '\n') { emitNewline(); i += 1 }
      else if (b0 == ' ' || b0 == '\t') { emitSpace(); i += 1 }
      else if (b0 == 0xC2) {
        if (i + 1 < n && (s(i + 1) & 0xFF) == 0xA0) { emitSpace(); i += 2 }
        else {
          // 0xC2 leading a non-NBSP char: regular 2-byte char
          emitRegularFirst(s(i))
          if (i + 1 < n) out.add(s(i + 1))
          i += 2
        }
      } else {
        // batch the whole run of regular bytes up to the next special byte:
        // per-char state transitions after the first are identity (flags
        // already non-pending), so one flush + one arraycopy is equivalent
        emitRegularFirst(s(i))
        var r = i + 1
        while (r < n && {
          val b = s(r) & 0xFF
          b != '&' && b != '\r' && b != '\n' && b != ' ' && b != '\t' && b != 0xC2
        }) r += 1
        out.addRange(s, i + 1, r)
        i = r
      }
    }
    (out.a, out.len)
  }

  /** The pinned end-to-end extraction, UTF-8 bytes → UTF8String. Total:
    * never throws on any input. */
  def textU8(html: Array[Byte]): UTF8String = {
    if (html == null) return UTF8String.EMPTY_UTF8
    val valid = if (isValidUtf8(html)) html else decodeUtf8(html).getBytes(StandardCharsets.UTF_8)
    val (a1, n1) = stripNoise(valid, valid.length)
    val (a2, n2) = stripTags(a1, n1)
    val (a3, n3) = decodeAndNormalize(a2, n2)
    UTF8String.fromBytes(a3, 0, n3)
  }

  /** [[textU8]] as a String: the fixture generator's `text` column. */
  def text(html: Array[Byte]): String = textU8(html).toString
}
