package graft

import graft.fixtures.{Gen, Vocab}
import graft.kg.Featurize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md 2.6 invariants of the webtext fixture generator. */
class FixtureSpec extends AnyFunSuite with SharedSpark {

  test("vocabulary invariants: namespaces disjoint, surfaces unique") {
    val entityTokens = Vocab.allEntities.map(_.canonical).toSet
    assert(entityTokens.forall(_.exists(_.isDigit)), "entity names carry a digit")
    assert(Vocab.fillerWords.forall(w => !w.exists(_.isDigit)))
    assert((Vocab.fillerWords.toSet intersect Vocab.templateUnigrams).isEmpty,
      "filler vocabulary must not overlap template unigrams (P/R margin)")
    val surfaces = Vocab.dictEntries.map(_.surface)
    assert(surfaces.distinct.size == surfaces.size, "dictionary surfaces unique")
    // filler words never verb-like => distractor dep-chains are empty
    assert(Vocab.fillerWords.forall(w => !Featurize.isVerbLike(w)))
  }

  test("per-doc plan is pure and byte-stable") {
    val a = Gen.pagePlan(123L)
    val b = Gen.pagePlan(123L)
    assert(a == b)
    assert(java.util.Arrays.equals(Gen.renderHtml(a), Gen.renderHtml(b)))
  }

  test("generated fixture satisfies invariants at sf0.001") {
    import spark.implicits._
    val dir = SparkKit.sf0001
    val pages = spark.read.parquet(s"$dir/webpages.parquet").cache()
    val n = pages.count()
    assert(n == 500L)

    // inv.2 — stored text IS the pinned extraction of html, byte-for-byte
    // (UTF-8); checked against the independent reference, since the
    // generator writes it with the shipped Extract.text
    val mismatches = pages.select($"url", $"html", $"text").as[(String, Array[Byte], String)]
      .filter { case (_, html, text) =>
        !java.util.Arrays.equals(ExtractReference.text(html).getBytes("UTF-8"),
          text.getBytes("UTF-8"))
      }.count()
    assert(mismatches == 0L, "text column must equal ExtractReference.text(html) for every url")

    // urls unique; langs in range
    assert(pages.select("url").distinct().count() == n)
    val langs = pages.select("lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "zh")))

    // inv.4 — gold size and skew
    val gold = spark.read.parquet(s"$dir/gold_triples.parquet").cache()
    assert(gold.count() >= 50L, "at least 50 distinct gold triples at sf0.001")
    val totalMentions = gold.agg(sum("n_mentions")).as[Long].head()
    val hottest = gold.groupBy("subj").agg(sum("n_mentions").as("m"))
      .agg(max("m")).as[Long].head()
    assert(hottest.toDouble / totalMentions >= 0.05,
      s"hottest subj should carry >=5% of planted mentions (got $hottest/$totalMentions)")
    pages.unpersist(); gold.unpersist()
  }

  test("inv.1 — regeneration is byte-identical (parquet files)") {
    val tmp = java.nio.file.Files.createTempDirectory("genrep").toString
    Gen.generate(spark, tmp, 120, overwrite = true)
    val tmp2 = java.nio.file.Files.createTempDirectory("genrep2").toString
    Gen.generate(spark, tmp2, 120, overwrite = true)
    def digest(dir: String): Map[String, String] = {
      val root = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      // key by table dir (part-file names carry a random UUID; bytes must match)
      walk(root)
        .filter(f => f.getName.endsWith(".parquet") && f.getName.startsWith("part-"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val md = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
          f.getParentFile.getName -> md.map("%02x".format(_)).mkString
        }.toMap
    }
    val (d1, d2) = (digest(tmp), digest(tmp2))
    assert(d1.nonEmpty && d1 == d2, "two generations must produce identical parquet bytes")
  }

  test("weights derive from the pipeline featurizer with designed margin") {
    assert(Gen.plantedMinScore >= 2 * Gen.Tau,
      s"min planted score ${Gen.plantedMinScore} must be >= 2*tau=${2 * Gen.Tau}")
    // cross-template weighted-feature overlap stays below tau
    val feats = Vocab.predicates.map(p =>
      p.pred -> Featurize.templateFeatures(p.template.split(' ').toIndexedSeq).toSet).toMap
    for {
      (p1, f1) <- feats; (p2, f2) <- feats if p1 < p2
    } assert((f1 intersect f2).size * Gen.W < Gen.Tau,
      s"template overlap $p1/$p2 = ${(f1 intersect f2).size} features breaks the margin")
  }
}
