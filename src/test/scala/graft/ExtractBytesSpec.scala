package graft

import graft.fixtures.{Gen, SplitMix64}
import graft.text.Extract
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Differential: the byte-level extractor [[Extract.textU8]] must be
  * UTF-8-byte-identical to the plain [[ExtractReference]] on EVERY input —
  * fixture corpus, handpicked entity/markup edges, unicode fuzz, and
  * malformed-byte fuzz (which it decodes with replacement and re-encodes
  * before scanning). */
class ExtractBytesSpec extends AnyFunSuite {

  private def check(bytes: Array[Byte], label: => String): Unit = {
    val ref = UTF8String.fromString(ExtractReference.text(bytes))
    val got = Extract.textU8(bytes)
    assert(got == ref, s"divergence on $label")
  }

  private def checkS(s: String): Unit =
    check(s.getBytes(StandardCharsets.UTF_8),
      s.map(c => if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x").mkString)

  test("fixture corpus pages are byte-identical") {
    (0 until 400).foreach { i =>
      check(Gen.renderHtml(Gen.pagePlan(i.toLong)), s"fixture page $i")
    }
  }

  test("handpicked markup, entity and whitespace edges") {
    val cases = Seq(
      "", "x", "<", "&", "&;", "&amp;", "&amp", "&AMP;", "&nbsp;x&nbsp;",
      "&#65;", "&#x41;", "&#X41;", "&#x;", "&#;", "&#0;", "&#55296;",
      "&#65535;", "&#65536;", "&#+65;", "&#-65;", "&#x+41;", "&#00065;",
      "&#٦٥;", "&#x٤١;", "&#xAfterLimit123;", "&toolongbody;",
      "&#10;a", "a&#13;b", "&#160;x", "&#9;y", "b&#173;c",
      "<p>a</p>\r\nb\rc", "  lead&nbsp;&nbsp;  ", "  ",
      "a b", "é 漢", "<p>é</p><div>漢字</div>",
      "<ſcript>x</ſcript>", "<p ſ>y</p>", "<é>z</é>",
      "<script>var a='<p>'</script>rest", "<!--c-->d",
      "<<!--x-->p>block?", "𝔘nicode 𝟙<br>𝟚", "&#xD7FF;&#xE000;",
      "tag<h1 class='x'>T</h1>end", "a  \t b   c",
      "﻿bom", "mixed&quot;quotes&#39;here")
    cases.foreach(checkS)
  }

  test("fuzz: HTML-ish unicode soup, 6000 strings") {
    val rng = new SplitMix64(0xB17E5L)
    val frags = Array(
      "<p>", "</p>", "<div id='x'>", "</div>", "<br>", "<script>", "</script>",
      "<style>", "</style>", "<!--", "-->", "<h1>", "</h1>", "<span>", "</span>",
      "&amp;", "&lt;", "&nbsp;", "&#65;", "&#x3b1;", "&#", ";", "&", "<", ">",
      "word", "é", "Ωλ", "漢字", "𝔘", " ", " ", "\t", "\r\n", "\n", "\r",
      ".", "!", "x y", "_", "ſ")
    for (trial <- 1 to 6000) {
      val n = rng.nextInt(18)
      val s = (0 until n).map(_ => frags(rng.nextInt(frags.length))).mkString
      checkS(s)
    }
  }

  test("fuzz: random byte arrays (mostly malformed) take the fallback, 4000 arrays") {
    val rng = new SplitMix64(0xBAD8F7E5L)
    for (trial <- 1 to 4000) {
      val n = rng.nextInt(40)
      val b = Array.fill(n)(rng.nextInt(256).toByte)
      check(b, s"random bytes trial $trial: ${b.map(x => f"$x%02x").mkString(" ")}")
    }
  }

  test("isValidUtf8 agrees with the JDK decoder's no-replacement set") {
    val rng = new SplitMix64(0x5AFEB17EL)
    var validSeen = 0
    for (_ <- 1 to 4000) {
      val n = rng.nextInt(24)
      // bias towards valid sequences so both branches get real coverage
      val sb = new java.io.ByteArrayOutputStream()
      (0 until n).foreach { _ =>
        rng.nextInt(6) match {
          case 0 => sb.write(rng.nextInt(256))
          case 1 => sb.write("é".getBytes(StandardCharsets.UTF_8))
          case 2 => sb.write("漢".getBytes(StandardCharsets.UTF_8))
          case 3 => sb.write("𝔘".getBytes(StandardCharsets.UTF_8))
          case _ => sb.write('a' + rng.nextInt(26))
        }
      }
      val b = sb.toByteArray
      // decode→re-encode is the identity iff the decoder replaced nothing:
      // any malformed unit becomes U+FFFD whose encoding differs from it
      // (EF BF BD itself is valid input), so round-tripping == validity
      val decoded = new String(b, StandardCharsets.UTF_8)
      val roundTrips = java.util.Arrays.equals(decoded.getBytes(StandardCharsets.UTF_8), b)
      assert(Extract.isValidUtf8(b) == roundTrips,
        s"validation mismatch on ${b.map(x => f"$x%02x").mkString(" ")}")
      if (Extract.isValidUtf8(b)) validSeen += 1
    }
    assert(validSeen > 500, s"fuzz produced too few valid arrays ($validSeen)")
  }
}
