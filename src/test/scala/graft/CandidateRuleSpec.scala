package graft

import graft.kg._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Training and serving share one candidate rule
  * ([[Featurize.forEachCandidate]]): every ordered pair of span-disjoint
  * mentions of distinct entities, featurized through the UTF-8 token view.
  * Checked here against the rule written out over String tokens with the
  * independent [[Featurize.ids]] featurizer. */
class CandidateRuleSpec extends AnyFunSuite with SharedSpark {

  private type Cand = (String, String, Seq[Long])

  /** The rule written out: all ordered pairs, filtered, with String ids. */
  private def reference(toks: IndexedSeq[String], ms: Seq[Mention]): Seq[Cand] =
    for {
      a <- ms.indices; b <- ms.indices if a != b
      m1 = ms(a); m2 = ms(b)
      if (m1.end <= m2.begin || m2.end <= m1.begin) && m1.entityId != m2.entityId
    } yield (m1.canonical, m2.canonical, Featurize.ids(toks, m1, m2).toSeq)

  private def walk(toks: IndexedSeq[String], ms: IndexedSeq[Mention]): Seq[Cand] = {
    val out = Seq.newBuilder[Cand]
    Featurize.forEachCandidate(
        new Featurize.U8Toks(toks.map(UTF8String.fromString).toArray), ms) { (m1, m2, fids) =>
      out += ((m1.canonical, m2.canonical, fids.toSeq))
    }
    out.result()
  }

  private def candidates(toks: org.apache.spark.sql.DataFrame,
                         model: org.apache.spark.broadcast.Broadcast[KgModel]): Seq[Cand] = {
    import spark.implicits._
    Train.candidateInstances(toks, model).select($"subj", $"obj", $"fids")
      .as[(String, String, Seq[Long])].collect().toSeq
  }

  private def sorted(cs: Seq[Cand]): Seq[Cand] = cs.sortBy(c => (c._1, c._2, c._3.mkString(",")))

  test("candidateInstances fids == Featurize.ids for every pair on the fixture corpus") {
    import spark.implicits._
    val dir = SparkKit.sf0001
    val model = KgModel.load(spark, dir)
    val toks = Stages.tokenizedPages(spark.read.parquet(s"$dir/webpages.parquet"), Seq("en"), 8)
    val expected = toks.select($"tokens").as[Seq[String]].collect().toSeq
      .filter(_ != null)
      .flatMap { t => val s = t.toIndexedSeq; reference(s, model.value.scanMentions(s)) }
    assert(expected.size > 100, s"expected many candidate pairs, got ${expected.size}")
    assert(sorted(candidates(toks, model)) == sorted(expected))
  }

  test("4 mentions: overlapping and same-entity pairs are skipped, fids == Featurize.ids") {
    val toks = IndexedSeq("aspirin", "binds", "tp53", "and", "p53", "gene", "egfr", "cells")
    val aspirin = Mention(1L, "aspirin", "CHEM", 0, 1)
    val tp53 = Mention(2L, "tp53", "GENE", 2, 3)
    val p53Gene = Mention(2L, "tp53", "GENE", 4, 6) // same entity as tp53
    val geneEgfr = Mention(3L, "egfr", "GENE", 5, 7) // overlaps p53Gene
    val ms = IndexedSeq(aspirin, tp53, p53Gene, geneEgfr)
    val got = walk(toks, ms)
    assert(got == reference(toks, ms))
    // 12 ordered pairs, minus tp53<->p53Gene and p53Gene<->geneEgfr
    assert(got.size == 8)
    assert(got.map(c => (c._1, c._2)).toSet == Set(
      "aspirin" -> "tp53", "tp53" -> "aspirin", "aspirin" -> "egfr", "egfr" -> "aspirin",
      "tp53" -> "egfr", "egfr" -> "tp53"))

    // the same rule through candidateInstances: a dictionary that links two
    // surfaces to one entity gives 4 scanned mentions, 2 of them same-entity
    import spark.implicits._
    val dict = Seq(
      DictEntry("aspirin", 1L, "CHEM", "aspirin", 1.0),
      DictEntry("tp53", 2L, "GENE", "tp53", 1.0),
      DictEntry("p53 gene", 2L, "GENE", "tp53", 1.0),
      DictEntry("egfr", 3L, "GENE", "egfr", 1.0))
    val model = KgModel.fromData(spark, dict, Nil, Nil, tau = 0.0)
    val scanned = model.value.scanMentions(toks)
    assert(scanned.length == 4)
    val df = Seq(toks).toDF("tokens")
    assert(sorted(candidates(df, model)) == sorted(reference(toks, scanned)))
  }
}
