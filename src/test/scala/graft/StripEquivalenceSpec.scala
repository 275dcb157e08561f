package graft

import graft.fixtures.SplitMix64
import graft.text.Extract
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Differential test of markup stripping (steps 2–3): the shipped
  * extractor vs [[ExtractReference]], whose steps 2–3 are the pinned
  * java.util.regex forms quoted in Extract's scaladoc. They must match on
  * every input — including the ASCII-only case-folding and word-boundary
  * edge cases of Pattern.CASE_INSENSITIVE without UNICODE_CASE. */
class StripEquivalenceSpec extends AnyFunSuite {

  private def check(s: String): Unit = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    assert(Extract.text(bytes) == ExtractReference.text(bytes),
      s"divergence on <<${s.map(c => if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x").mkString}>>")
  }

  test("handpicked edge cases match the regex reference") {
    val cases = Seq(
      "", "<", ">", "<>", "a<b", "a>b", "plain text, no tags",
      "<p>one</p><p>two</p>", "<DIV>a</DIV>", "a<br>b", "<ph>x</ph>",
      "<script>var x = '<p>no</p>';</script>", "<SCRIPT a=b>x</SCRIPT>",
      "<style>p{}</style>done", "<script>unclosed",
      "<scriptx>not noise</scriptx>", "<styleX>u</styleX>",
      "<script/x>y</script>", "<script>a</scriptfoo>b", // \1[^>]*> closes
      "<script>a</script", "<script>a</script x='1'>b",
      "<!-- comment <b>x</b> -->y", "<!-- unclosed", "<!--->", "<!---->",
      "<!-- a --><!-- b -->", "a<!--b-->c<!--d-->e",
      "<script a='<!--'>body</script>", // comment inside closed script: removed with it
      "<script a='<!--'>no close here -->tail", // unclosed script, inner comment then matches
      "<<!--x-->b>", // noise removal creates a NEW tag for pass 3
      "<ScRiPt>cased</sCrIpT>", "<STYLE >x</STYLE>",
      "<ſcript>not script (unicode long s)</ſcript>",
      "<scriptſ>boundary char is non-ascii-word</script>",
      "<h1>a</h1><h7>b</h7>", "<header>h</header>", "<head>h</head>",
      "</ p>", "</p >", "<p/>", "</>", "<_tag>", "<tag_>x</tag_>",
      "<p<div>", "<a<b>", "<table><tr><td>x</td></tr></table>",
      "<blockquote cite='q'>q</blockquote>", "<blockquotes>q</blockquotes>",
      "<script>nested <script>inner</script> tail</script>",
      "<style>a</style><style>b</style>", "<style>a<b></style>")
    cases.foreach(check)
  }

  test("fuzzed HTML-ish strings match the regex reference (8000 cases)") {
    val rng = new SplitMix64(0x57121FL)
    val frags = Vector(
      "<script", "<style", "</script>", "</style>", "<script>", "<style >",
      "<SCRIPT>", "</ScRiPt>", "scriptx", ">", "<", "<!--", "-->", "<!-",
      "<p>", "</p>", "<div a='b'>", "<br/>", "<h3>", "</h6>", "<li", "<ul>",
      "<header>", "<heady>", "<tr>", "</table>", "<blockquote>", "<b>",
      "</b>", "<_>", "</>", "<>", "word", " ", "\n", "\t", "&", ";", "/",
      "=", "'", "\"", "-", "--", "!", "ſ", "é", "x>y", "a<b")
    for (_ <- 1 to 8000) {
      val s = (0 until rng.nextInt(30)).map(_ => frags(rng.nextInt(frags.length))).mkString
      check(s)
    }
  }

  test("fuzzed random char soup matches the regex reference (4000 cases)") {
    val rng = new SplitMix64(0xC0FFEEL)
    val alphabet = "<>/!-scriptyleSCRIPTYLEpdivbrh123_ \n\"'=xXſ"
    for (_ <- 1 to 4000) {
      val n = rng.nextInt(80)
      val s = (0 until n).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
      check(s)
    }
  }
}
