package graft

import graft.fixtures.SplitMix64
import graft.text.Extract
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Unit + property tests for the pinned byte-identical extractor
  * (SURVEY.md §5.2 ExtractSpec, §7.2 contract); the fuzz tests also compare
  * it with the plain [[ExtractReference]]. Fuzzing is a deterministic
  * SplitMix64 loop (the scalatest/scalacheck bridge is not in the offline
  * cache, and determinism is a fixture invariant anyway). */
class ExtractSpec extends AnyFunSuite {

  private def x(html: String): String =
    Extract.text(html.getBytes(StandardCharsets.UTF_8))

  test("plain text is idempotent") {
    assert(x("hello world.") == "hello world.")
    assert(x(x("hello  world.")) == "hello world.")
  }

  test("scripts, styles and comments are removed entirely") {
    assert(x("a<script>var x = '<p>no</p>';</script>b") == "ab")
    assert(x("a<style>p { color: red }</style>b") == "ab")
    assert(x("a<!-- hidden <b>bold</b> -->b") == "ab")
    assert(x("a<SCRIPT type=\"x\">y</SCRIPT>b") == "ab")
  }

  test("block tags become line breaks; inline tags vanish") {
    assert(x("<p>one</p><p>two</p>") == "one\ntwo")
    assert(x("<div>a</div><li>b</li><h2>c</h2>") == "a\nb\nc")
    assert(x("x <b>y</b> z") == "x y z")
    assert(x("a<br>b") == "a\nb")
  }

  test("whitelisted entities decode; unknown entities stay verbatim") {
    assert(x("a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;") == "a & b <c> \"d\" 'e'")
    assert(x("a&nbsp;b") == "a b")
    assert(x("&#65;&#x42;") == "AB")
    assert(x("&bogus; &#x110000; &#0;") == "&bogus; &#x110000; &#0;")
  }

  test("whitespace: collapse runs, trim lines, drop empty lines") {
    assert(x("  a \t b  \n\n\n c ") == "a b\nc")
    assert(x("<p>  </p><p>x</p>") == "x")
    assert(x("a\r\nb\rc") == "a\nb\nc")
  }

  test("invalid UTF-8 is replaced, never thrown") {
    val bad = "ok <p>".getBytes(StandardCharsets.UTF_8) ++
      Array[Byte](0xC3.toByte, 0x28.toByte) ++ "end".getBytes(StandardCharsets.UTF_8)
    val out = Extract.text(bad)
    assert(out.contains("ok"))
    assert(out.contains("�"))
  }

  test("null and empty input") {
    assert(Extract.text(null) == "")
    assert(Extract.text(Array.emptyByteArray) == "")
  }

  test("total + deterministic on 2000 random byte arrays (fuzz)") {
    val rng = new SplitMix64(0xE7_7E_57L)
    for (_ <- 1 to 2000) {
      val n = rng.nextInt(512)
      val bytes = Array.fill(n)(rng.nextLong().toByte)
      val a = Extract.text(bytes) // must not throw
      val b = Extract.text(bytes.clone())
      assert(a == b)
      assert(a == ExtractReference.text(bytes))
      assert(!a.contains('\r') && !a.contains('\t'))
    }
  }

  test("fused entity decode + whitespace steps == the unfused reference (fuzz)") {
    val rng = new SplitMix64(0xF05EDL)
    val frags = Vector("a", "b c", "&amp;", "&#13;", "&#10;", "&nbsp;", "&#9;", "&bogus;",
      " ", "  ", "\t", "\n", "\r\n", "\r", "&", ";", "&#x41;", "word", ".", "&#xD800;")
    for (_ <- 1 to 3000) {
      val s = (0 until rng.nextInt(24)).map(_ => frags(rng.nextInt(frags.length))).mkString
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      assert(Extract.text(bytes) == ExtractReference.text(bytes),
        s"divergence on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("fuzzed HTML-ish strings: no residual full tags, no CR/tab") {
    val rng = new SplitMix64(0xBEEFL)
    val frags = Vector("<p>", "</p>", "<div >", "<script>", "</script>", "&amp;",
      "&#77;", "word", " ", "\n", "<b>", "</b>", "<!--", "-->", "<", ">", "&", ";")
    for (_ <- 1 to 1000) {
      val s = (0 until rng.nextInt(40)).map(_ => frags(rng.nextInt(frags.length))).mkString
      val out = x(s)
      assert(!"(?s)<[^>]*>".r.findFirstIn(out).isDefined, s"residual tag in '$out' from '$s'")
      assert(!out.contains('\r') && !out.contains('\t'))
      assert(out == x(s)) // deterministic
    }
  }
}
