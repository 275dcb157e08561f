package graft.fixtures

import graft.kg.{Featurize, Mention}
import graft.text.Extract
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** Deterministic webtext-fixture generator (SURVEY.md §5.2, FIXTURES.md §2).
  *
  * Produces, under a target directory:
  *   webpages.parquet     (url, warc_ts, html, text, lang)   [BASELINE.json:15]
  *   entity_dict.parquet  (surface, entity_id, ent_type, canonical, prior)
  *   predicates.parquet   (pred, template, subj_type, obj_type)
  *   weights.parquet      (pred, feature_id, weight)
  *   model_meta.parquet   (tau, w)
  *   gold_triples.parquet (subj, pred, obj, n_mentions)
  *   media.parquet        (media_id, payload: real PNG bytes, width, height)
  *
  * The `text` column is computed with the SAME pinned extractor the
  * pipeline uses (Extract.text) — the reference extractor is absent
  * (SURVEY.md §0), so this column IS the byte-identical oracle, and
  * FixtureSpec checks it against the independent test-side reference
  * (ExtractReference). Weights are
  * derived by featurizing each predicate template with the SAME Featurize the
  * pipeline uses, giving a designed margin that makes P/R >= 0.95 a measured,
  * non-vacuous property (FIXTURES.md 2.4).
  *
  * All randomness is SplitMix64 keyed per doc_id: generation is
  * order-independent and reproducible under any Spark partitioning.
  */
object Gen {
  final val Tau = 15.0
  final val W = 5.0

  final case class Plant(pred: String, subj: String, obj: String)
  final case class PagePlan(
      docId: Long, url: String, warcTs: Timestamp, lang: String,
      sentences: IndexedSeq[String], plants: IndexedSeq[Plant], malformed: Boolean)

  private final val BaseTsMicros = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Pure per-doc plan: sentences + planted gold relations. */
  def pagePlan(docId: Long): PagePlan = {
    val rng = SplitMix64.forKey(SplitMix64.FixtureSeed, docId)
    val lang = Vocab.drawLang(rng)
    val reserved = lang != "en"
    val nSent = 3 + rng.nextInt(10)
    val sentences = new ArrayBuffer[String](nSent)
    val plants = new ArrayBuffer[Plant]()

    def surfaceOf(e: Vocab.Entity): String =
      e.alias match {
        case Some(a) if rng.nextDouble() < 0.3 => a
        case _                                 => e.canonical
      }

    var s = 0
    while (s < nSent) {
      val u = rng.nextDouble()
      if (u < 0.35) {
        // planted relation: <subj> <template> <obj>.
        val p = Vocab.predicates(rng.nextInt(Vocab.predicates.length))
        val subjPool = Vocab.poolFor(p.subjType, reserved)
        val objPool = Vocab.poolFor(p.objType, reserved)
        val subj = subjPool(rng.nextZipfish(subjPool.length))
        var obj = objPool(rng.nextZipfish(objPool.length))
        var tries = 0
        while (obj.entityId == subj.entityId && tries < 8) {
          obj = objPool(rng.nextZipfish(objPool.length)); tries += 1
        }
        if (obj.entityId != subj.entityId) {
          sentences += s"${surfaceOf(subj)} ${p.template} ${surfaceOf(obj)}."
          plants += Plant(p.pred, subj.canonical, obj.canonical)
        } else {
          sentences += fillerSentence(rng)
        }
      } else if (u < 0.60) {
        // distractor: two co-occurring entities, non-relation connector
        val pool = Vocab.mainEntities
        val a = pool(rng.nextZipfish(pool.length))
        val b = pool(rng.nextZipfish(pool.length))
        val phrase = Vocab.distractorPhrases(rng.nextInt(Vocab.distractorPhrases.length))
        sentences += s"${surfaceOf(a)} $phrase ${surfaceOf(b)}."
      } else {
        sentences += fillerSentence(rng)
      }
      s += 1
    }
    val url = s"https://src${java.lang.Math.floorMod(docId * 2654435761L, 20L)}.example.org/p/$docId"
    val tsMicros = BaseTsMicros + (docId % 30) * 86400000000L + (docId % 86400) * 1000000L
    val ts = new Timestamp(tsMicros / 1000)
    ts.setNanos(((tsMicros % 1000000L) * 1000L).toInt)
    PagePlan(docId, url, ts, lang, sentences.toIndexedSeq, plants.toIndexedSeq,
      malformed = rng.nextDouble() < 0.02)
  }

  /** Entity-free filler sentence, occasionally spiced with HTML entities that
    * the extractor must decode (they are injected at render time). */
  private def fillerSentence(rng: SplitMix64): String = {
    val n = 4 + rng.nextInt(6)
    (0 until n).map(_ => Vocab.fillerWords(rng.nextInt(Vocab.fillerWords.length)))
      .mkString(" ") + "."
  }

  /** Render a plan to raw HTML bytes (template page with script/style/comment
    * noise, block wrappers, inline tags, HTML entities, and — for ~2% of pages
    * — trailing invalid-UTF-8 bytes to exercise extractor totality). */
  def renderHtml(plan: PagePlan): Array[Byte] = {
    val rng = SplitMix64.forKey(SplitMix64.FixtureSeed ^ 0x5DEECE66DL, plan.docId)
    val sb = new StringBuilder(4096)
    sb ++= "<html><head><title>doc "
    sb ++= plan.docId.toString
    sb ++= "</title><script type=\"text/javascript\">var q = 1; if (q < 2) { q = q + 1; }</script>"
    sb ++= "<style>p { margin: 0; } .c1 { color: #333; }</style>"
    sb ++= "<!-- generated fixture page; not real content --></head><body>\n"
    for (sent <- plan.sentences) {
      val deco = rng.nextInt(6)
      val inner =
        if (deco == 0) {
          // inline-tag wrap of the first word (tags adjacent to spaces only)
          val cut = sent.indexOf(' ')
          if (cut > 0) s"<b>${sent.substring(0, cut)}</b> ${sent.substring(cut + 1)}" else sent
        } else if (deco == 1) {
          // entity-escape noise appended after the sentence (token-inert)
          sent + " &amp; &#8212; &nbsp;"
        } else sent
      val wrapped = rng.nextInt(4) match {
        case 0 => s"<div class=\"c1\">$inner</div>"
        case 1 => s"<li>$inner</li>"
        case 2 => s"<p>$inner</p><!-- sep -->"
        case _ => s"<p>$inner</p>"
      }
      sb ++= wrapped
      sb += '\n'
    }
    sb ++= "</body></html>"
    val clean = sb.toString.getBytes(StandardCharsets.UTF_8)
    if (!plan.malformed) clean
    else {
      // splice invalid UTF-8 (0xC3 0x28) into a trailing paragraph
      val tail = "<p>trunca".getBytes(StandardCharsets.UTF_8)
      val bad = Array[Byte](0xC3.toByte, 0x28.toByte)
      val end = "</p></body>".getBytes(StandardCharsets.UTF_8)
      clean ++ tail ++ bad ++ end
    }
  }

  def pageCount(sf: Double): Long = math.max(50L, (sf * 500000).toLong)

  /** In-memory webpages DataFrame — no disk I/O (flagship/harness use). */
  def webpagesDF(spark: SparkSession, nPages: Long): DataFrame =
    webpagesDF(spark, 0L, nPages)

  /** Doc-id range variant: pages [from, until) — disjoint ranges give honest
    * train/held-out splits (generation is keyed per doc_id, so any range is
    * self-consistent). */
  def webpagesDF(spark: SparkSession, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until)
      .repartition(spark.sparkContext.defaultParallelism)
      .map { docId =>
        val plan = pagePlan(docId)
        val html = renderHtml(plan)
        (plan.url, plan.warcTs, html, Extract.text(html), plan.lang)
      }
      .toDF("url", "warc_ts", "html", "text", "lang")
  }

  /** In-memory gold-KB triples for pages [from, until) (en plants only —
    * same rule as the on-disk gold_triples table). */
  def goldDF(spark: SparkSession, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until)
      .flatMap { docId =>
        val plan = pagePlan(docId)
        if (plan.lang == "en") plan.plants.map(p => (p.subj, p.pred, p.obj)) else Nil
      }
      .toDF("subj", "pred", "obj")
      .groupBy("subj", "pred", "obj")
      .count().withColumnRenamed("count", "n_mentions")
  }

  /** In-memory broadcast model — no disk I/O (flagship/harness use). */
  def inMemoryModel(spark: SparkSession): org.apache.spark.broadcast.Broadcast[graft.kg.KgModel] =
    graft.kg.KgModel.fromData(spark, Vocab.dictEntries, Vocab.predicates, weightRows, Tau)

  /** Deterministic tiny image plan: dimensions + RGB pixel grid, SplitMix64
    * keyed per media_id (order-independent like every fixture). */
  def mediaPlan(mediaId: Long): (Int, Int, Array[Int]) = {
    val rng = SplitMix64.forKey(SplitMix64.FixtureSeed ^ 0x4D454449L, mediaId) // "MEDI"
    val w = 4 + rng.nextInt(13)
    val h = 4 + rng.nextInt(13)
    val px = Array.fill(w * h)(rng.nextLong().toInt & 0xFFFFFF)
    (w, h, px)
  }

  /** Encode an RGB pixel grid as a real PNG via the JDK's ImageIO (ships with
    * JDK 17 — no external codec needed). PNG is lossless, so any conforming
    * decoder recovers these exact pixels; Multimodal.decodeOne is spec-checked
    * against the planted (width, height, pixels). */
  def pngBytes(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** media.parquet: real PNG payloads + PLANTED width/height metadata, the
    * externally checkable twin of the decoder's output (MultimodalDecodeSpec
    * joins decoded vs planted). Written idempotently and separately from the
    * main marker so pre-existing fixture dirs pick it up. */
  def ensureMedia(spark: SparkSession, dir: String, nPages: Long): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$dir/media.parquet/_SUCCESS").exists()) return
    val nMedia = math.min(nPages, 64L)
    spark.range(nMedia)
      .map { id =>
        val (w, h, px) = mediaPlan(id)
        (id, pngBytes(w, h, px), w, h)
      }
      .toDF("media_id", "payload", "width", "height")
      .repartition(1).sortWithinPartitions("media_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/media.parquet")
  }

  /** Full generation of one scale factor into `dir` (idempotent: skips when a
    * _SUCCESS marker exists unless overwrite=true). */
  def generate(spark: SparkSession, dir: String, nPages: Long, overwrite: Boolean = false): Unit = {
    import spark.implicits._
    val done = new java.io.File(s"$dir/webpages.parquet/_SUCCESS")
    ensureMedia(spark, dir, nPages)
    if (done.exists() && !overwrite) return

    // webpages — generated distributed, written sorted by doc_id for
    // byte-reproducibility (FIXTURES.md 2.6 inv.1)
    val pages = spark.range(nPages)
      .repartition(spark.sparkContext.defaultParallelism)
      .map { docId =>
        val plan = pagePlan(docId)
        val html = renderHtml(plan)
        (plan.docId, plan.url, plan.warcTs, html, Extract.text(html), plan.lang)
      }
      .toDF("doc_id", "url", "warc_ts", "html", "text", "lang")
    // deterministic layout: one sorted file at small SF (byte-identical
    // regeneration, FIXTURES.md 2.6 inv.1); at large SF, fixed modulo
    // partitioning (still deterministic) so the write parallelizes
    val nFiles = if (nPages <= 100000) 1 else 32
    pages.repartition(nFiles, pmod(col("doc_id"), lit(nFiles.toLong)))
      .sortWithinPartitions("doc_id")
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/webpages.parquet")

    // gold triples — en-language plants only (reserved-pool plants in non-en
    // pages are leak detectors, not gold)
    spark.range(nPages)
      .flatMap { docId =>
        val plan = pagePlan(docId)
        if (plan.lang == "en") plan.plants.map(p => (p.subj, p.pred, p.obj)) else Nil
      }
      .toDF("subj", "pred", "obj")
      .groupBy("subj", "pred", "obj")
      .count().withColumnRenamed("count", "n_mentions")
      .repartition(1).sortWithinPartitions("subj", "pred", "obj")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/gold_triples.parquet")

    // dictionary + predicates + weights + model meta (small, driver-side)
    Vocab.dictEntries.toDF()
      .select($"surface", $"entityId".as("entity_id"), $"entType".as("ent_type"),
        $"canonical", $"prior")
      .repartition(1).sortWithinPartitions("surface")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/entity_dict.parquet")

    Vocab.predicates.toDF()
      .select($"pred", $"template", $"subjType".as("subj_type"), $"objType".as("obj_type"))
      .repartition(1).sortWithinPartitions("pred")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/predicates.parquet")

    weightRows.toDF("pred", "feature_id", "weight")
      .repartition(1).sortWithinPartitions("pred", "feature_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/weights.parquet")

    Seq((Tau, W)).toDF("tau", "w")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/model_meta.parquet")
  }

  /** Per-pred weights: +W on every distinct weighted-class feature of the
    * template, computed with the pipeline's own featurizer. */
  def weightRows: Seq[(String, Long, Double)] =
    Vocab.predicates.flatMap { p =>
      Featurize.templateFeatures(p.template.split(' ').toIndexedSeq)
        .map(f => (p.pred, Featurize.hash(f), W))
        .distinct
    }

  /** Sanity helper for tests: expected minimum score of a planted instance. */
  def plantedMinScore: Double =
    Vocab.predicates.map(p =>
      Featurize.templateFeatures(p.template.split(' ').toIndexedSeq).size * W).min
}
