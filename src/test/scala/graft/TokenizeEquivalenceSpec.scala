package graft

import graft.fixtures.{Gen, SplitMix64}
import graft.text.{Extract, TextModel, Tokenize}
import org.scalatest.funsuite.AnyFunSuite
import java.util.regex.Pattern

/** Differential tests for the hand-rolled sentence/token scanners against
  * the pinned regex semantics (TextModel), at two levels:
  *  1. pure JVM: Tokenize.* vs Pattern.split(s, -1) on fuzz + edge inputs;
  *  2. Spark: the Stages A4/A5 native expressions vs the original built-in
  *     split/lower/filter composites, on real fixture page texts — this also
  *     pins the lower() fidelity (UTF8String.toLowerCase) for non-ASCII. */
class TokenizeEquivalenceSpec extends AnyFunSuite with SharedSpark {

  private val SentRe = Pattern.compile(TextModel.SentenceSplitRegex)
  private val TokRe = Pattern.compile(TextModel.TokenSplitRegex)

  private def refSentences(s: String): Seq[String] = SentRe.split(s, -1).toSeq
  private def refTokens(lowered: String): Seq[String] =
    TokRe.split(lowered, -1).toSeq.filter(_.nonEmpty)

  test("splitSentences == Pattern.split(-1): edges") {
    val cases = Seq(
      "", " ", "a", "a.", "a. ", "a. b", "a.  b", "a.\t\nb", "a .b", "a. . b",
      "one. two! three? four", "no separators here", ". leading", " . x",
      "a.b", "a!? b", "a?! b", "tail.   ", "x. y", "x. y", // NBSP is NOT \s
      "é. ü", "𝔘. 𝔙", "a?\r\nb", "!.? ?!. x")
    cases.foreach { s =>
      assert(Tokenize.splitSentences(s).toSeq == refSentences(s), s"on <<$s>>")
    }
  }

  test("tokensOf == non-empty Pattern.split(-1): edges incl. unicode classes") {
    val cases = Seq(
      "", " ", "a b", "a  b!", "-lead", "trail-", "a1b2", "héllo wörld",
      "δ σ ς", "١٢٣ ٤", "漢字 かな", "𝔘nicode 𝟙𝟚", // supplementary letters/digits (𝟙 is No? Nd?)
      "a_b", "x­y", "tab\tsep", "ⅷ roman", // U+2167 is Nl, not Nd
      "a\uD834b", "c\uDD1Ed") // lone surrogates
    cases.foreach { s =>
      assert(Tokenize.tokensOf(s).toSeq == refTokens(s), s"on <<$s>>")
    }
  }

  test("fuzz: both scanners vs regex on 6000 random strings") {
    val rng = new SplitMix64(0x70C3L)
    val alphabet = "ab c.d!e?f\t\n\r éÜΣσς𝔘١3_-&;"
    val cps = alphabet.codePoints().toArray
    for (_ <- 1 to 6000) {
      val n = rng.nextInt(60)
      val sb = new java.lang.StringBuilder()
      (0 until n).foreach(_ => sb.appendCodePoint(cps(rng.nextInt(cps.length))))
      val s = sb.toString
      assert(Tokenize.splitSentences(s).toSeq == refSentences(s),
        s"sent divergence on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      val low = s.toLowerCase(java.util.Locale.ROOT)
      assert(Tokenize.tokensOf(low).toSeq == refTokens(low),
        s"tok divergence on ${low.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("tokensLower fused-ASCII fast path == UTF8String.toLowerCase + regex reference") {
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new SplitMix64(0x70CA5EL)
    // ASCII-heavy (exercises the fused single-pass path, incl. uppercase);
    // every 4th trial mixes in multi-byte chars at random positions so the
    // mid-string abort-to-generic boundary is hit with partial scratch state
    val ascii = "AB cD.e!F?g\t9_-&;Zqr"
    val mixed = ascii + "Üé漢𝔘"
    for (trial <- 1 to 4000) {
      val alpha = if (trial % 4 == 0) mixed else ascii
      val cps = alpha.codePoints().toArray
      val sb = new java.lang.StringBuilder()
      (0 until rng.nextInt(50)).foreach(_ => sb.appendCodePoint(cps(rng.nextInt(cps.length))))
      val s = sb.toString
      val got = graft.plans.TokenizeRuntime.tokensLower(UTF8String.fromString(s))
      val gotSeq = (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
      val ref = refTokens(UTF8String.fromString(s).toLowerCase.toString)
      assert(gotSeq == ref,
        s"divergence on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("Spark level: native A4/A5 expressions == built-in composites on fixture pages") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = (0 until 400).map { i =>
      Extract.text(Gen.renderHtml(Gen.pagePlan(i.toLong)))
    } ++ Seq("Mixed ÜNICODE. Σentence two!  İstanbul δ3 ς.", "", "dot.")
    val df = texts.toDF("text")

    val sentNew = df.select(graft.plans.GraftExtensions.splitSentences($"text").as("a"))
      .as[Seq[String]].collect().toSeq
    val sentOld = df.select(split($"text", TextModel.SentenceSplitRegex).as("a"))
      .as[Seq[String]].collect().toSeq
    assert(sentNew == sentOld)

    val sentDf = df.select(explode(split($"text", TextModel.SentenceSplitRegex)).as("sent"))
    val tokNew = sentDf.select(graft.plans.GraftExtensions.tokenizeLower($"sent").as("a"))
      .as[Seq[String]].collect().toSeq
    val tokOld = sentDf.select(
      filter(split(lower($"sent"), TextModel.TokenSplitRegex), t => length(t) > 0).as("a"))
      .as[Seq[String]].collect().toSeq
    assert(tokNew == tokOld)
  }

  test("TokenBoundsHandle: concurrent get() returns only the calling thread's scratch") {
    val handle = new graft.plans.TokenBoundsHandle
    val go = new java.util.concurrent.CountDownLatch(1)
    val wrong = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        val mine = graft.plans.TokenizeRuntime.threadBounds()
        go.await()
        var i = 0
        while (i < 500000) {
          if (!(handle.get() eq mine)) wrong.incrementAndGet()
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(wrong.get() == 0L, s"${wrong.get()} get() calls returned another thread's scratch")
  }
}
