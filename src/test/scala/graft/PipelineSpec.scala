package graft

import graft.fixtures.{Gen, Vocab}
import graft.kg._
import graft.text.Extract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline specs over the sf0.001 fixture: byte-identical
  * extraction (BASELINE.json:15), UDF-free plan shape for sentence/token
  * stages, mention/candidate semantics, scorer behavior, salted-agg
  * equivalence, the P/R >= 0.95 gate (BASELINE.json:2,14), parallelism
  * determinism, and checkpoint/resume (SURVEY.md §5.2). */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  private lazy val dir = SparkKit.sf0001
  private lazy val webpages = spark.read.parquet(s"$dir/webpages.parquet")
  private lazy val model = KgModel.load(spark, dir)
  private lazy val cfg = Pipeline.Config(dir, outDir = "", numParts = 16)

  // ByteIdenticalSpec — pipeline-recomputed text == stored text, per url
  test("byte-identical extracted text per url (pipeline vs oracle column)") {
    import spark.implicits._
    val recomputed = Stages.pageText(
      Stages.partitioned(webpages, Seq("en", "de", "es", "fr", "zh"), 16))
      .select($"url", $"text".as("recomputed"))
    val stored = webpages.select($"url", $"text")
    val diff = stored.join(recomputed, "url")
      .filter(encode($"text", "UTF-8") =!= encode($"recomputed", "UTF-8"))
      .count()
    assert(diff == 0L)
  }

  // SentenceTokenSpec — determinism + UDF-free plan shape for A4/A5
  test("sentence split and tokenization are UDF-free Catalyst transforms") {
    val sents = Stages.tokenized(Stages.sentences(
      Stages.pageText(Stages.partitioned(webpages, Seq("en"), 8))))
    val plan = sents.queryExecution.optimizedPlan.toString()
    // the only allowed UDF island up to tokens is the extractor itself
    val udfCount = "(?i)scalaudf".r.findAllIn(plan).length
    assert(udfCount <= 1, s"A4/A5 must stay pure Catalyst; plan:\n$plan")
    val row = sents.select("sent", "tokens").limit(1).collect()(0)
    assert(row.getSeq[String](1).nonEmpty)
  }

  test("sentence/token split semantics match the pinned regexes") {
    import spark.implicits._
    val df = Seq(("u1", 0, "Alpha beta. Gamma delta! Epsilon?")).toDF("url", "part_id", "text")
    val sents = Stages.sentences(df).select("sent").as[String].collect().toSeq
    assert(sents == Seq("Alpha beta.", "Gamma delta!", "Epsilon?"))
    val toks = Stages.tokenized(Stages.sentences(df))
      .select("tokens").as[Seq[String]].collect().toSeq
    assert(toks == Seq(Seq("alpha", "beta"), Seq("gamma", "delta"), Seq("epsilon")))
  }

  // MentionCandidateSpec
  test("mention scan: greedy longest match, dictionary-linked") {
    val m = model.value
    val gene = Vocab.genes.find(_.alias.isDefined).get
    val alias = gene.alias.get.split(' ')
    val chem = Vocab.chems.head
    val toks = IndexedSeq(chem.canonical, "foo", alias(0), alias(1), "bar")
    val ms = m.scanMentions(toks)
    assert(ms.length == 2)
    assert(ms(0) == Mention(chem.entityId, chem.canonical, "CHEM", 0, 1))
    assert(ms(1) == Mention(gene.entityId, gene.canonical, "GENE", 2, 4),
      "2-gram alias must win over its 1-gram head (greedy longest match)")
    assert(m.scanMentions(IndexedSeq("no", "entities", "here")).isEmpty)
  }

  // ScorerSpec
  test("scorer: planted template clears tau, distractor and reverse do not") {
    val m = model.value
    val chem = Vocab.chems.head
    val gene = Vocab.genes.head
    val p = Vocab.predicates.find(_.pred == "inhibits").get
    val toks = (chem.canonical +: p.template.split(' ').toIndexedSeq) :+ gene.canonical
    val ms = m.scanMentions(toks)
    assert(ms.length == 2)
    val rels = m.scoreRelations(toks, ms)
    assert(rels.map(r => (r.subj, r.pred, r.obj)) == Seq((chem.canonical, "inhibits", gene.canonical)))
    assert(rels.head.score >= Gen.plantedMinScore)

    val distractor = (chem.canonical +: Vocab.distractorPhrases.head.split(' ').toIndexedSeq) :+ gene.canonical
    val ms2 = m.scanMentions(distractor)
    assert(m.scoreRelations(distractor, ms2).isEmpty, "distractor must score below tau")
  }

  test("scorer: hand-computed dot product matches") {
    val m = model.value
    val p = Vocab.predicates.find(_.pred == "treats").get
    val chem = Vocab.chems.head
    val dis = Vocab.diseases.head
    val toks = (chem.canonical +: p.template.split(' ').toIndexedSeq) :+ dis.canonical
    val ms = m.scanMentions(toks)
    val fids = Featurize.ids(toks, ms(0), ms(1))
    val pIdx = m.preds.indexWhere(_.pred == "treats")
    val expected = fids.map(f => m.weights(pIdx)(f.toInt)).sum
    val got = m.scoreRelations(toks, ms)
      .find(_.pred == "treats").map(_.score).getOrElse(Double.NaN)
    assert(got == expected)
  }

  // CanonicalizeSpec — salted two-phase == naive single groupBy
  test("salted two-phase aggregation equals naive single groupBy, and salt engages") {
    import spark.implicits._
    val rels = Stages.relations(Stages.tokenizedPages(webpages, Seq("en"), 16), model,
      pageMarkers = true).cache()
    val twoPhase = Stages.mergeTriples(Stages.partialTriples(rels))
      .select($"subj", $"pred", $"obj", $"n_evidence", $"score", $"first_url")
    // the naive form drops the lineage marker rows (subj IS NULL), as
    // mergeTriples does
    val naive = rels.filter($"subj".isNotNull).groupBy("subj", "pred", "obj")
      .agg(count(lit(1)).as("n_evidence"), max($"score").as("score"),
        min($"url").as("first_url"))
      .select($"subj", $"pred", $"obj", $"n_evidence", $"score", $"first_url")
    assert(twoPhase.exceptAll(naive).isEmpty && naive.exceptAll(twoPhase).isEmpty)
    // salt engaged: phase-1 groups exceed distinct triples (hot keys spread)
    val relPartials = Stages.partialTriples(rels).filter($"subj".isNotNull)
    val p1 = relPartials.count()
    val p2 = twoPhase.count()
    assert(p1 > p2, s"salting must spread hot keys (phase1=$p1, phase2=$p2)")
    // and the HOTTEST key itself is split across >1 phase-1 group — p1 > p2
    // alone could come from cold keys; this pins the actual skew defeat on
    // the fixture's Zipfian-hot subjects (SURVEY.md §7.4 risk 3)
    val hotSpread = relPartials
      .groupBy("subj", "pred", "obj").agg(count(lit(1)).as("salt_groups"))
      .agg(max($"salt_groups")).first().getLong(0)
    assert(hotSpread > 1,
      s"hottest triple key must spread over >1 phase-1 group (got $hotSpread)")
    // triples_agg (shipped phase 1: one TripleMap buffer per part_id) emits
    // row-for-row the groupBy form's output — including the null-subj lineage
    // marker rows
    assert(rels.filter($"subj".isNull).count() > 0)
    val mapForm = Stages.partialTriples(rels)
      .select($"part_id", $"subj", $"pred", $"obj", $"n", $"score", $"first_url")
    val groupByForm = StageOracles.partialTriplesGroupBy(rels)
      .select($"part_id", $"subj", $"pred", $"obj", $"n", $"score", $"first_url")
    assert(mapForm.exceptAll(groupByForm).isEmpty &&
      groupByForm.exceptAll(mapForm).isEmpty)
    rels.unpersist()
  }

  // One flow: the pure and the checkpointed run give the same triples
  test("Pipeline.triples == the triples table Pipeline.run writes (langs = en,de)") {
    val out = java.nio.file.Files.createTempDirectory("triples-vs-run").toString
    val c = cfg.copy(outDir = out, langs = Seq("en", "de"))
    Pipeline.run(spark, s"$dir/webpages.parquet", c)
    val cols = Seq("subj", "pred", "obj", "score", "n_evidence", "first_url").map(col)
    val written = spark.read.parquet(Pipeline.triplesPath(out)).select(cols: _*)
    val pure = Pipeline.triples(spark, webpages, model, c).select(cols: _*)
    assert(pure.count() > 0L && pure.count() == written.count())
    assert(pure.exceptAll(written).isEmpty && written.exceptAll(pure).isEmpty)
  }

  test("partitionedAll rejects repartitionInput = false") {
    intercept[IllegalArgumentException] {
      Stages.partitionedAll(webpages, Seq("en"), 8, repartitionInput = false)
    }
  }

  // PipelinePRSpec — the correctness gate
  test("P >= 0.95 and R >= 0.95 vs gold triples (gate, BASELINE.json:2)") {
    val triples = Pipeline.triples(spark, webpages, model, cfg)
    val gold = spark.read.parquet(s"$dir/gold_triples.parquet")
    val pr = Eval.pr(triples, gold)
    info(s"precision=${pr.precision} recall=${pr.recall} " +
      s"emitted=${pr.emitted} gold=${pr.gold} matched=${pr.matched}")
    assert(pr.precision >= 0.95, s"precision ${pr.precision} below gate")
    assert(pr.recall >= 0.95, s"recall ${pr.recall} below gate")
  }

  test("P/R gate holds at sf0.01 too") {
    val dir01 = SparkKit.sf001
    val model01 = KgModel.load(spark, dir01)
    val triples = Pipeline.triples(spark,
      spark.read.parquet(s"$dir01/webpages.parquet"), model01, cfg.copy(numParts = 32))
    val pr = Eval.pr(triples, spark.read.parquet(s"$dir01/gold_triples.parquet"))
    info(s"sf0.01: precision=${pr.precision} recall=${pr.recall} gold=${pr.gold}")
    assert(pr.precision >= 0.95 && pr.recall >= 0.95)
  }

  // DeterminismSpec — identical triples under different parallelism
  test("triple set is identical under different partition counts") {
    val t2 = Pipeline.triples(spark, webpages, model, cfg.copy(numParts = 2))
    val t16 = Pipeline.triples(spark, webpages, model, cfg.copy(numParts = 16))
    assert(t2.exceptAll(t16).isEmpty && t16.exceptAll(t2).isEmpty)
  }
}
