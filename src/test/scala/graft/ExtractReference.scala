package graft

import java.nio.ByteBuffer
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.util.regex.Pattern

/** The pinned HTML→text spec (SURVEY.md §7.2, quoted in
  * [[graft.text.Extract]]'s scaladoc) written plainly, independent of the
  * shipped byte scanners: the JDK decoder, the step-2/3 regexes, and steps 4
  * and 5 as two separate String passes. */
object ExtractReference {

  private val NoiseRe = Pattern.compile(
    "(?is)<(script|style)\\b[^>]*>.*?</\\1[^>]*>|<!--.*?-->")
  private val TagRe = Pattern.compile("(?s)<[^>]*>")
  private val BlockRe = Pattern.compile(
    "(?is)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|header|footer|blockquote)\\b[^>]*>")

  /** Step 1 — UTF-8 decode, U+FFFD for malformed input. */
  def decode(bytes: Array[Byte]): String =
    if (bytes == null) ""
    else StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
      .decode(ByteBuffer.wrap(bytes)).toString

  /** Steps 2–3 — drop noise, then each tag becomes "\n" (block) or "". */
  def stripMarkup(html: String): String = {
    val noNoise = NoiseRe.matcher(html).replaceAll("")
    val m = TagRe.matcher(noNoise)
    val sb = new java.lang.StringBuilder(noNoise.length)
    var last = 0
    while (m.find()) {
      sb.append(noNoise, last, m.start())
      if (BlockRe.matcher(m.group()).matches()) sb.append('\n')
      last = m.end()
    }
    sb.append(noNoise, last, noNoise.length)
    sb.toString
  }

  /** The step-4 whitelist; None leaves the '&' verbatim. */
  private def entity(body: String): Option[String] = body match {
    case "amp"  => Some("&")
    case "lt"   => Some("<")
    case "gt"   => Some(">")
    case "quot" => Some("\"")
    case "nbsp" => Some(" ")
    case b if b.length >= 2 && b.charAt(0) == '#' =>
      val num = b.substring(1)
      val cp =
        try {
          if ((num.charAt(0) == 'x' || num.charAt(0) == 'X') && num.length > 1)
            Integer.parseInt(num.substring(1), 16)
          else Integer.parseInt(num, 10)
        } catch { case _: NumberFormatException => -1 }
      if (cp >= 1 && cp <= 0xFFFF && !(cp >= 0xD800 && cp <= 0xDFFF)) Some(cp.toChar.toString)
      else None
    case _ => None
  }

  /** Step 4 — at each '&', the body up to the first ';' (at most 8 chars
    * on) decodes when whitelisted; one pass, no re-decode. */
  def decodeEntities(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val semi = if (s.charAt(i) == '&') s.indexOf(';', i + 1) else -1
      val rep = if (semi > i && semi - i <= 8) entity(s.substring(i + 1, semi)) else None
      rep match {
        case Some(r) => sb.append(r); i = semi + 1
        case None => sb.append(s.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** Step 5 — CR/CRLF → LF; per line, runs of space/tab/U+00A0 → one
    * space, trimmed; empty lines dropped; joined with "\n". */
  def normalizeWhitespace(s: String): String =
    s.replace("\r\n", "\n").replace('\r', '\n').split("\n", -1).iterator
      .map(_.replaceAll("[ \\t\\u00A0]+", " ").stripPrefix(" ").stripSuffix(" "))
      .filter(_.nonEmpty)
      .mkString("\n")

  def text(html: Array[Byte]): String =
    normalizeWhitespace(decodeEntities(stripMarkup(decode(html))))
}
