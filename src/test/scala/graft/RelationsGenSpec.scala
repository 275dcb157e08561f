package graft

import graft.fixtures.{SplitMix64, Vocab}
import graft.kg._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native RelationsGenExpr Generator must be a drop-in for the udf+explode
  * island it replaced: row-for-row equal output on the fixture corpus (with
  * and without lineage page markers), with the UTF8String fast paths
  * (streaming UTF-8 hash feed, U8 verb likeness) bit-equal to their String
  * twins under adversarial unicode and the U8 dictionary scan equal to the
  * brute-force [[ScanReference]]. */
class RelationsGenSpec extends AnyFunSuite with SharedSpark {

  private lazy val dir = SparkKit.sf0001
  private lazy val webpages = spark.read.parquet(s"$dir/webpages.parquet")
  private lazy val model = KgModel.load(spark, dir)

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[(String, Int, String, String, String, Double)] = {
    import spark.implicits._
    df.select($"url", $"part_id", $"subj", $"pred", $"obj", $"score")
      .as[(String, Int, String, String, String, Double)].collect().toSeq
      .sortBy(t => (t._1, t._2, String.valueOf(t._3), t._4, String.valueOf(t._5), t._6))
  }

  test("native generator == udf path") {
    val toks = Stages.tokenized(Stages.sentences(Stages.pageText(
      Stages.partitioned(webpages, Seq("en"), 8))))
    val nat = collected(Stages.relations(toks, model))
    val ref = collected(StageOracles.relationsUdf(toks, model))
    assert(nat.nonEmpty && nat == ref)
  }

  test("native generator == udf path with page markers (partitionedAll flow)") {
    val toks = Stages.tokenized(Stages.sentencesOuter(Stages.pageText(
      Stages.partitionedAll(webpages, Seq("en"), 8))))
    val nat = collected(Stages.relations(toks, model, pageMarkers = true))
    val ref = collected(StageOracles.relationsUdf(toks, model, pageMarkers = true))
    assert(nat == ref)
    // marker rows present for every page, in and out of scope
    assert(nat.exists(_._4 == Stages.PageMarkerIn))
    assert(nat.exists(_._4 == Stages.PageMarkerOut))
  }

  test("the production plan carries no ScalaUDF and exactly one generate") {
    val rels = Stages.relations(Stages.tokenized(Stages.sentences(Stages.pageText(
      Stages.partitioned(webpages, Seq("en"), 8)))), model)
    val plan = rels.queryExecution.optimizedPlan.toString()
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"A6-A10 must be the native generator; plan:\n$plan")
    assert("relations_gen".r.findAllIn(plan).length == 1)
  }

  test("feedUtf8 == feed(toString) under adversarial unicode") {
    val rng = new SplitMix64(0x08F00DL)
    val pool = Array("a", "z", "0", "_", ">", "|", ":", " ", "é", "Ω", "漢", "字",
      "ÿ", "ࠀ", "￿".toString, new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x10FFFF)))
    for (trial <- 1 to 2000) {
      val s = (0 until rng.nextInt(12)).map(_ => pool(rng.nextInt(pool.length))).mkString
      val u8 = UTF8String.fromString(s)
      val a = new Featurize.StreamHash(graft.text.TextModel.FeatureSeed).feedUtf8(u8).result()
      val b = new Featurize.StreamHash(graft.text.TextModel.FeatureSeed).feed(u8.toString).result()
      assert(a == b, s"trial $trial: '$s'")
      assert(Featurize.utf16Length(u8) == u8.toString.length, s"trial $trial len: '$s'")
    }
  }

  test("isVerbLikeU8 == isVerbLike, incl. multi-byte and length-4 boundary") {
    val words = Seq("is", "was", "see", "sees", "bind", "binds", "bound", "binded",
      "eating", "ing", "sing", "abcé", "abé", "漢字漢s", "漢字s", "ended", "éé漢s",
      new String(Character.toChars(0x1F600)) * 2 + "s")
    words.foreach { w =>
      assert(Featurize.isVerbLikeU8(UTF8String.fromString(w)) == Featurize.isVerbLike(w), w)
    }
  }

  test("isVerbLikeU8 == isVerbLike under fuzz (pins the getPrefix aux packing)") {
    // every aux verb, plus mutations and random short tokens — covers each
    // length 2..6, the high-bit ASCII guard, and the zero-pad shift
    val aux = Seq("is", "are", "was", "were", "be", "been", "has", "have", "had",
      "may", "can", "could", "might", "must", "should", "would", "will", "does", "did")
    val rng = new SplitMix64(0xA0B1C2L)
    val chars = "abcdefghijklmnopqrstuvwxyzé漢0".toCharArray
    val cases = aux ++ aux.map(_ + "x") ++ aux.map(_.dropRight(1)) ++ aux.map("é" + _) ++
      (1 to 3000).map { _ =>
        (0 until rng.nextInt(9)).map(_ => chars(rng.nextInt(chars.length))).mkString
      }
    cases.foreach { w =>
      assert(Featurize.isVerbLikeU8(UTF8String.fromString(w)) == Featurize.isVerbLike(w), s"'$w'")
    }
    // the U8 probe must also hold on a non-zero-offset slice (getPrefix reads
    // base+offset, not byte 0): probe every aux verb embedded mid-buffer
    aux.foreach { w =>
      val buf = UTF8String.fromString("zz" + w + "zz")
      val slice = buf.substring(2, 2 + w.length)
      assert(Featurize.isVerbLikeU8(slice), s"slice '$w'")
    }
  }

  test("pairIds == ids on String and U8 tokens under fuzzed spans") {
    val rng = new SplitMix64(0x9A1ED5L)
    val words = Vector("alpha", "is", "beta", "binds", "to", "gamma", "was", "漢ed")
    for (_ <- 1 to 500) {
      val n = 2 + rng.nextInt(12)
      val toks = IndexedSeq.fill(n)(words(rng.nextInt(words.length)))
      val u8 = new Featurize.U8Toks(toks.map(UTF8String.fromString).toArray)
      def mk(id: Long) = {
        val b = rng.nextInt(n)
        Mention(id, s"c$id", if (rng.nextInt(2) == 0) "GENE" else "CHEM", b,
          math.min(n, b + 1 + rng.nextInt(2)))
      }
      val (m1, m2) = (mk(1), mk(2))
      val ref = Featurize.ids(toks, m1, m2).toSeq
      assert(Featurize.pairIds(u8, m1, m2).toSeq == ref)
      assert(new Featurize.Session(u8).ids(m1, m2).toSeq == ref)
    }
  }

  test("scanMentionsU8 == scanMentions over fixture-dictionary token streams") {
    val m = model.value
    val dict = ScanReference.resolve(Vocab.dictEntries)
    val surfaces = dict.keys.flatMap(_.split(' ')).toVector
    val noise = Vector("xqz", "the", "of", "and", "binds")
    val pool = surfaces ++ noise
    val rng = new SplitMix64(0x5CAFFEL)
    for (_ <- 1 to 300) {
      val toks = IndexedSeq.fill(1 + rng.nextInt(15))(pool(rng.nextInt(pool.length)))
      val ref = ScanReference.scan(dict, toks)
      assert(m.scanMentions(toks) == ref, s"tokens $toks")
      assert(m.scanMentionsU8(toks.map(UTF8String.fromString).toArray) == ref, s"tokens $toks")
    }
  }

  test("scanMentionsU8 == brute-force reference on every fixture sentence") {
    import spark.implicits._
    val m = model.value
    val dict = ScanReference.resolve(Vocab.dictEntries)
    val sentences = Stages.tokenized(Stages.sentences(Stages.pageText(
      Stages.partitioned(webpages, Seq("en"), 8)))).select($"tokens").as[Seq[String]].collect()
    assert(sentences.nonEmpty)
    val seen = sentences.map { t =>
      val toks = t.toIndexedSeq
      val ref = ScanReference.scan(dict, toks)
      assert(m.scanMentionsU8(toks.map(UTF8String.fromString).toArray) == ref, s"tokens $toks")
      ref.length
    }.sum
    assert(seen > 0, "fixture must contain mentions")
  }

  test("retained scratch views throw after the next call (enforced invariant)") {
    val m = model.value
    val toks = Array("alpha", "beta").map(UTF8String.fromString)
    val v1 = m.scanMentionsU8(toks)
    v1.length // fresh view: fine
    m.scanMentionsU8(toks)
    val e = intercept[IllegalStateException](v1.length)
    assert(e.getMessage.contains("stale"), e.getMessage)

    // relation view: stale after a second scoreRelationsTv on the thread
    val surf = m.dict.keys.filterNot(_.contains(' ')).toVector.sorted
    assume(surf.size >= 2)
    val eToks = surf.take(2).map(UTF8String.fromString).toArray
    val ms = m.scanMentionsU8(eToks)
    assume(ms.length >= 2)
    val tv = new Featurize.U8Toks(eToks)
    val r1 = m.scoreRelationsTv(tv, ms)
    r1.length // fresh: fine (mention scratch untouched by scoring)
    m.scoreRelationsTv(tv, ms)
    intercept[IllegalStateException](r1.length)
    // and the copying wrapper's result stays valid across later calls
    val copied = m.scoreRelations(surf.take(2).toIndexedSeq.map(identity), m.scanMentions(surf.take(2).toIndexedSeq))
    m.scoreRelationsTv(tv, m.scanMentionsU8(eToks))
    copied.length // no throw: .toSeq copied out of the scratch
  }
}
