package graft

import graft.fixtures.SplitMix64
import graft.kg.{DictEntry, KgModel, Predicate, Stages}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The one A6 mention scanner (KgModel.scanMentionsU8 over the TokenDict
  * trie): greedy longest match for surfaces of any token length, checked
  * against the brute-force [[ScanReference]] and end to end through the
  * native relations generator. */
class MentionScanSpec extends AnyFunSuite with SharedSpark {

  private def model(entries: Seq[DictEntry], preds: Seq[Predicate] = Nil,
                    tau: Double = 0.0): KgModel =
    KgModel.fromData(spark, entries, preds, Nil, tau).value

  private def scan(m: KgModel, toks: IndexedSeq[String]): List[(Int, Int, String)] =
    m.scanMentionsU8(toks.map(UTF8String.fromString).toArray)
      .map(x => (x.begin, x.end, x.canonical)).toList

  test("longest match for >2-token surfaces, nested suffixes and dangling prefixes") {
    val aml = DictEntry("acute myeloid leukemia", 1L, "DISEASE", "aml", 1.0)
    val m = model(Seq(aml,
      DictEntry("myeloid leukemia", 2L, "DISEASE", "ml", 1.0),
      DictEntry("leukemia", 3L, "DISEASE", "leuk", 1.0),
      DictEntry("acute", 4L, "MOD", "acute", 1.0)))
    val toks = IndexedSeq("severe", "acute", "myeloid", "leukemia", "cases")
    assert(scan(m, toks) == List((1, 4, "aml")))
    assert(scan(m, toks.drop(2)) == List((0, 2, "ml")))
    assert(scan(m, toks.drop(3)) == List((0, 1, "leuk")))
    // "acute myeloid" is only a trie prefix: fall back to the last surface seen
    assert(scan(m, IndexedSeq("acute", "myeloid", "cases")) == List((0, 1, "acute")))
    // a 3-token surface with neither its 2-token prefix nor its head in the dictionary
    assert(scan(model(Seq(aml)), toks) == List((1, 4, "aml")))
  }

  test("duplicate surfaces resolve by prior then entity id (same rule as the map)") {
    val m = model(Seq(
      DictEntry("foo", 10L, "GENE", "low", 0.1),
      DictEntry("foo", 5L, "CHEM", "high", 0.9),
      DictEntry("foo bar baz", 9L, "GENE", "tie-9", 0.5),
      DictEntry("foo bar baz", 7L, "GENE", "tie-7", 0.5)))
    assert(scan(m, IndexedSeq("foo")) == List((0, 1, "high")))
    assert(scan(m, IndexedSeq("foo", "bar", "baz")) == List((0, 3, "tie-7")))
  }

  test("scanMentionsU8 == brute-force reference on random 1-4-token dictionaries") {
    // pairs of 9-byte tokens sharing their first 8 bytes: same getPrefix and
    // numBytes, the two inputs of TokenDict.slotHash, so they chain in one slot
    val colliding = Vector("prefix12a", "prefix12b", "漢字abX", "漢字abY")
    colliding.grouped(2).foreach { pair =>
      val Seq(a, b) = pair.map(UTF8String.fromString)
      assert(a.getPrefix == b.getPrefix && a.numBytes == b.numBytes)
    }
    val pool = Vector("a", "b", "gene", "of", "é", "漢字", "ñandú",
      new String(Character.toChars(0x1F600))) ++ colliding
    val rng = new SplitMix64(0x5CA77E5L)
    def pick(v: IndexedSeq[String]) = v(rng.nextInt(v.length))
    var nextId = 0L
    def entry(surface: String, prior: Double = Seq(0.1, 0.5, 0.9)(rng.nextInt(3))) = {
      nextId += 1
      DictEntry(surface, nextId, pick(Vector("GENE", "CHEM")), s"c$nextId", prior)
    }
    var mentions = 0
    var longMentions = 0
    for (_ <- 1 to 150) {
      val words = Vector.fill(2 + rng.nextInt(6))(pick(pool)).distinct
      val random = Seq.fill(1 + rng.nextInt(10))(
        entry(Seq.fill(1 + rng.nextInt(4))(pick(words)).mkString(" ")))
      val (x, y, z) = (pick(words), pick(words), pick(words))
      val nested = Seq(entry(s"$x $y $z"), entry(s"$y $z"), entry(z))
      val (p, q, r) = (pick(words), pick(words), pick(words))
      val dups = random.take(2).flatMap(e => Seq(entry(e.surface), entry(e.surface, e.prior)))
      val entries = (random ++ nested ++ dups :+ entry(s"$p $q $r"))
        .filterNot(_.surface == s"$p $q") // 3-token surface, 2-token prefix absent
      val shuffled = entries.map(e => (rng.nextLong(), e)).sortBy(_._1).map(_._2)
      val m = model(shuffled)
      val dict = ScanReference.resolve(shuffled)
      for (_ <- 1 to 25) {
        val toks = IndexedSeq.fill(rng.nextInt(16))(
          if (rng.nextInt(6) == 0) pick(pool) else pick(words))
        val ref = ScanReference.scan(dict, toks)
        val got = m.scanMentionsU8(toks.map(UTF8String.fromString).toArray)
        assert(got == ref, s"tokens $toks dict ${dict.keys}")
        assert(m.scanMentions(toks) == ref)
        mentions += ref.length
        longMentions += ref.count(x => x.end - x.begin >= 3)
      }
    }
    assert(mentions > 1000 && longMentions > 50, s"$mentions mentions, $longMentions of >= 3 tokens")
  }

  test("relations_gen links a 3-token surface end to end") {
    import spark.implicits._
    val dict = Seq(
      DictEntry("tumor necrosis blocker", 1L, "CHEM", "tnb", 1.0),
      DictEntry("tumor", 2L, "GENE", "tumor", 1.0),
      DictEntry("egfr", 3L, "GENE", "egfr", 1.0))
    val m = KgModel.fromData(spark, dict,
      Seq(Predicate("inhibits", "inhibits", "CHEM", "GENE")), Nil, tau = 0.0)
    val toks = Stages.tokenized(Stages.sentences(
      Seq(("u1", 0, "Tumor necrosis blocker inhibits EGFR.")).toDF("url", "part_id", "text")))
    val got = Stages.relations(toks, m).select($"subj", $"pred", $"obj")
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(("tnb", "inhibits", "egfr")))
  }
}
