package graft

import graft.fixtures.SplitMix64
import graft.kg.{Featurize, KgModel, Stages}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Featurize.Session must emit exactly the ids (order + multiplicity) of
  * Featurize.ids for every candidate pair — on the fixture corpus and under
  * adversarial random spans. */
class FeaturizeSessionSpec extends AnyFunSuite with SharedSpark {

  private def u8(toks: IndexedSeq[String]) =
    new Featurize.U8Toks(toks.map(UTF8String.fromString).toArray)

  test("session ids == direct ids on every fixture candidate pair") {
    import spark.implicits._
    val dir = SparkKit.sf0001
    val model = KgModel.load(spark, dir)
    val sentences = Stages.tokenized(Stages.sentences(Stages.pageText(
      Stages.partitioned(spark.read.parquet(s"$dir/webpages.parquet"), Seq("en"), 8))))
      .select($"tokens").as[Seq[String]].collect()
    var pairs = 0
    sentences.foreach { toks =>
      val t = toks.toIndexedSeq
      val ms = model.value.scanMentions(t)
      if (ms.length >= 2) {
        val session = new Featurize.Session(u8(t))
        for (a <- ms; b <- ms if a != b) {
          assert(session.ids(a, b).toSeq == Featurize.ids(t, a, b).toSeq,
            s"ids diverge for pair ($a, $b) in $t")
          pairs += 1
        }
      }
    }
    assert(pairs > 100, s"expected many candidate pairs, got $pairs")
  }

  test("session ids == direct ids under fuzzed mention spans") {
    val rng = new SplitMix64(0xFEA7L)
    val words = Vector("alpha", "is", "beta", "binds", "to", "gamma", "was", "seen")
    for (_ <- 1 to 500) {
      val n = 2 + rng.nextInt(12)
      val toks = IndexedSeq.fill(n)(words(rng.nextInt(words.length)))
      def mkMention(id: Long) = {
        val b = rng.nextInt(n)
        val e = math.min(n, b + 1 + rng.nextInt(2))
        graft.kg.Mention(id, s"c$id", if (rng.nextInt(2) == 0) "GENE" else "CHEM", b, e)
      }
      val m1 = mkMention(1)
      val m2 = mkMention(2)
      val session = new Featurize.Session(u8(toks))
      assert(session.ids(m1, m2).toSeq == Featurize.ids(toks, m1, m2).toSeq)
      assert(session.ids(m2, m1).toSeq == Featurize.ids(toks, m2, m1).toSeq)
    }
  }

  test("StreamHash over random part splits == MurmurHash3.stringHash of concat") {
    import scala.util.hashing.MurmurHash3
    val rng = new SplitMix64(0x57AE4A5EL)
    val alphabet = "abz019_>|:Ωé漢\u0000"
    for (trial <- 1 to 2000) {
      val len = rng.nextInt(40)
      val s = new String(Array.fill(len)(alphabet(rng.nextInt(alphabet.length))))
      // split into 1..4 random parts (covers odd/even boundaries straddling
      // the 2-chars-per-mix block loop)
      val cuts = Seq.fill(rng.nextInt(3))(rng.nextInt(len + 1)).sorted
      val bounds = (0 +: cuts :+ len).distinct
      val parts = bounds.zip(bounds.tail).map { case (a, b) => s.substring(a, b) }
      val sh = new Featurize.StreamHash(graft.text.TextModel.FeatureSeed)
      parts.foreach(sh.feed)
      assert(sh.result() == MurmurHash3.stringHash(s, graft.text.TextModel.FeatureSeed),
        s"trial $trial: parts $parts of '$s'")
    }
  }
}
