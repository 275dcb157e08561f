package graft.kg

import graft.text.{Extract, TextModel}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The dataflow stages of the KG pipeline (SURVEY.md §2 Table A), expressed
  * Catalyst-first: scan/filter/partition/sentence-split/tokenize are pure
  * built-in expressions (pushdown, pruning and whole-stage codegen apply);
  * the only UDF islands are the three the spec sanctions (BASELINE.json:6):
  * HTML extraction, and the fused mention-detect/featurize/score step against
  * broadcast dictionary + weights.
  */
object Stages {

  /** A2 + explicit url-hash partitioning (BASELINE.json:6). `part_id` is the
    * checkpoint/lineage unit; pmod(xxhash64(url), P) so assignment is stable
    * across cluster sizes and runs. */
  def partitioned(webpages: DataFrame, langs: Seq[String], numParts: Int,
                  repartitionInput: Boolean = true): DataFrame = {
    val filtered = webpages
      .filter(col("lang").isin(langs: _*) && col("html").isNotNull)
      .select(col("url"), col("html"),
        pmod(xxhash64(col("url")), lit(numParts.toLong)).cast("int").as("part_id"))
    // The repartition ships (url, html) once so extraction, checkpointing and
    // lineage are per-partition in the reference's sense. For input already
    // bucketed by url (or when checkpoint granularity may follow input splits)
    // set repartitionInput=false and skip the exchange entirely.
    if (repartitionInput) filtered.repartition(numParts, col("part_id")) else filtered
  }

  /** A2 variant for the checkpointed run: keeps EVERY input page (so lineage
    * page counts and the present-part commit rule need no second input scan),
    * tagging rows with `in_scope` instead of filtering. Out-of-scope rows have
    * their html nulled BEFORE the exchange — they ship as (url, nulls), a few
    * bytes each, and skip extraction entirely; the heavy column crosses the
    * shuffle only for in-scope pages, same as [[partitioned]]. */
  def partitionedAll(webpages: DataFrame, langs: Seq[String], numParts: Int,
                     repartitionInput: Boolean = true): DataFrame = {
    val inScope = col("lang").isin(langs: _*) && col("html").isNotNull
    val tagged = webpages.select(
      col("url"),
      when(inScope, col("html")).as("html"),
      inScope.as("in_scope"),
      pmod(xxhash64(col("url")), lit(numParts.toLong)).cast("int").as("part_id"))
    if (repartitionInput) tagged.repartition(numParts, col("part_id")) else tagged
  }

  /** A3 — HTML→text, the pinned byte-identical extractor. Default path is the
    * native Catalyst expression (codegen-fused, null-intolerant — SURVEY.md
    * §4.3); the udf() wrapper is kept for the equivalence spec. */
  val extractTextUdf = udf((html: Array[Byte]) => Extract.text(html))

  def pageText(partitioned: DataFrame): DataFrame =
    partitioned
      .withColumn("text", graft.plans.GraftExtensions.extractText(col("html")))
      .drop("html") // other columns (e.g. in_scope) pass through

  /** A4 — UDF-free sentence split: native scanner expression (array-identical
    * to split(text, TextModel.SentenceSplitRegex) — TokenizeEquivalenceSpec)
    * + posexplode Generator. */
  def sentences(pageText: DataFrame): DataFrame =
    pageText
      .select(col("url"), col("part_id"),
        posexplode(graft.plans.GraftExtensions.splitSentences(col("text")))
          .as(Seq("sent_idx", "sent")))
      // octet_length is O(1) (byte count) where length() walks the string
      // counting code points — equivalent for the > 0 emptiness test, and
      // the walk was 3.3% of executor CPU (round-4 JFR: getNumChars)
      .filter(octet_length(col("sent")) > 0)

  /** A4 variant preserving barren pages: empty sentences are filtered INSIDE
    * the array and the explode is OUTER, so a page with no sentences (null or
    * empty text — e.g. an out-of-scope page in the [[partitionedAll]] flow)
    * still yields exactly one row (null sent_idx/sent). Every page therefore
    * has exactly one "anchor" row (sent_idx 0 or null) — the hook the
    * page-marker lineage counting in [[relations]] rides on. Extra columns
    * (in_scope) pass through. */
  def sentencesOuter(pageText: DataFrame): DataFrame = {
    val passthrough = pageText.columns.filterNot(_ == "text").map(col).toSeq
    pageText.select(passthrough :+
      posexplode_outer(filter(graft.plans.GraftExtensions.splitSentences(col("text")),
        s => octet_length(s) > 0)).as(Seq("sent_idx", "sent")): _*)
  }

  /** A5 — UDF-free tokenization: one native scanner expression, kept as an
    * ArrayType column (not exploded) for batching. Bit-identical to
    * filter(split(lower(sent), TextModel.TokenSplitRegex), t => length(t) > 0)
    * — TokenizeEquivalenceSpec asserts, incl. non-ASCII lowercasing. */
  def tokenized(sentences: DataFrame): DataFrame =
    sentences.withColumn("tokens",
      graft.plans.GraftExtensions.tokenizeLower(col("sent")))

  /** Lineage page-marker rows (subj IS NULL distinguishes them from real
    * relations — dictionary canonicals are never null). Exactly one marker is
    * emitted per page on its anchor row, so `sum(n)` of the aggregated marker
    * group IS the part's exact page count, persisted WITH the partials —
    * crash-safe lineage with zero extra input scans (see Pipeline.run). */
  val PageMarkerIn = "\u0000page_in"
  val PageMarkerOut = "\u0000page_out"

  /** A6–A10 fused: greedy dictionary scan → ordered pair candidates →
    * hashed featurization → broadcast-weights scoring → linked relations.
    * One narrow UDF (tokens in, scored relations out) so Catalyst can prune
    * every other column; accumulators feed per-run metrics (A14 — approximate
    * under task retries, see Pipeline.RunStats). mentionMode "scan" | "aho"
    * selects the A6 implementation (Pipeline.Config scaladoc).
    *
    * pageMarkers=true (requires the [[partitionedAll]] + [[sentencesOuter]]
    * flow upstream, which supplies `in_scope` and per-page anchor rows):
    * appends one [[PageMarkerIn]]/[[PageMarkerOut]] row per page so page
    * counts ride the SAME single input scan as extraction. */
  def relations(tokenized: DataFrame, model: Broadcast[KgModel],
                accMentions: Option[LongAccumulator] = None,
                accCandidates: Option[LongAccumulator] = None,
                mentionMode: String = "scan",
                pageMarkers: Boolean = false): DataFrame = {
    require(mentionMode == "scan" || mentionMode == "aho",
      s"unknown mentionMode '$mentionMode' (expected scan|aho)")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (anchorCol, inScopeCol) = markerCols(pageMarkers)
    val gen = graft.plans.RelationsGenExpr(
      ColumnBridge.expression(col("tokens")),
      ColumnBridge.expression(anchorCol),
      ColumnBridge.expression(inScopeCol),
      model, mentionMode == "aho", accMentions, accCandidates)
    tokenized.select(col("url"), col("part_id"),
      ColumnBridge.column(gen).as(Seq("subj", "pred", "obj", "score")))
  }

  /** The round-3 udf+explode implementation of [[relations]] — superseded as
    * the production path by the native [[graft.plans.RelationsGenExpr]]
    * Generator (zero per-token String deserialization, direct InternalRow
    * emission), kept verbatim as the oracle for RelationsGenSpec's
    * row-for-row equivalence assertion. */
  def relationsUdf(tokenized: DataFrame, model: Broadcast[KgModel],
                   accMentions: Option[LongAccumulator] = None,
                   accCandidates: Option[LongAccumulator] = None,
                   mentionMode: String = "scan",
                   pageMarkers: Boolean = false): DataFrame = {
    require(mentionMode == "scan" || mentionMode == "aho",
      s"unknown mentionMode '$mentionMode' (expected scan|aho)")
    val useAho = mentionMode == "aho"
    val scoreUdf = udf { (tokens: Seq[String], anchor: Boolean, inScope: Boolean) =>
      val m = model.value
      val rels: Seq[ScoredRelation] =
        if (tokens == null || !inScope) Seq.empty
        else {
          // Spark hands the array column as a mutable.ArraySeq wrapper —
          // already IndexedSeq; the old toIndexedSeq COPIED every token
          // array once per row (~6% of executor CPU in the round-4 JFR)
          val toks: scala.collection.IndexedSeq[String] = tokens match {
            case is: scala.collection.IndexedSeq[String @unchecked] => is
            case other => other.toIndexedSeq
          }
          val ms = if (useAho) m.aho.scanGreedy(toks) else m.scanMentions(toks)
          accMentions.foreach(_.add(ms.length.toLong))
          if (ms.length >= 2) {
            accCandidates.foreach(_.add((ms.length.toLong * (ms.length - 1))))
            m.scoreRelations(toks, ms)
          } else Seq.empty[ScoredRelation]
        }
      if (anchor)
        rels :+ ScoredRelation(null, if (inScope) PageMarkerIn else PageMarkerOut, null, 0.0)
      else rels
    }
    val (anchorCol, inScopeCol) = markerCols(pageMarkers)
    tokenized
      .select(col("url"), col("part_id"),
        explode(scoreUdf(col("tokens"), anchorCol, inScopeCol)).as("rel"))
      .select(col("url"), col("part_id"),
        col("rel.subj").as("subj"), col("rel.pred").as("pred"),
        col("rel.obj").as("obj"), col("rel.score").as("score"))
  }

  /** anchor: the page's single sent_idx==0 row, or its posexplode_outer null
    * row when it has no sentences — exactly one per page either way. */
  private def markerCols(pageMarkers: Boolean): (Column, Column) = (
    if (pageMarkers) coalesce(col("sent_idx") === 0, lit(true)) else lit(false),
    if (pageMarkers) col("in_scope") else lit(true))

  /** End-to-end A1→A10: webpages → scored relation mentions. */
  def extractRelations(webpages: DataFrame, model: Broadcast[KgModel],
                       langs: Seq[String], numParts: Int,
                       repartitionInput: Boolean = true,
                       accMentions: Option[LongAccumulator] = None,
                       accCandidates: Option[LongAccumulator] = None,
                       mentionMode: String = "scan"): DataFrame =
    relations(
      tokenized(sentences(pageText(partitioned(webpages, langs, numParts, repartitionInput)))),
      model, accMentions, accCandidates, mentionMode)

  /** A11 phase 1 — per-part partial canonicalization. Keyed by part_id first:
    * after the explicit repartition the rows are already hash-distributed by
    * part_id, so this aggregation needs NO shuffle, and part_id acts as the
    * salt that spreads hot (subj,pred,obj) keys over partitions
    * (BASELINE.json:6 "salted-key groupBy to defeat skew on hot entities").
    *
    * min_str(url) ≡ min(url), but the built-in min over a string buffer (and
    * min_by, and min(struct)) are declarative aggregates Spark can only plan
    * as SortAggregate — a full sort of the relation stream. min_str is a
    * TypedImperativeAggregate (graft.plans.StringMinAgg) that keeps the whole
    * aggregation on the hash-based ObjectHashAggregate path
    * (PlanAuditSpec asserts; quantified in BENCH/BASELINE.md). */
  def partialTriples(relations: DataFrame): DataFrame =
    relations.groupBy(col("part_id"))
      .agg(graft.plans.GraftExtensions.triplesAgg(
        col("subj"), col("pred"), col("obj"), col("score"), col("url")).as("ts"))
      .select(col("part_id"), explode(col("ts")).as("t"))
      .select(col("part_id"), col("t.subj").as("subj"), col("t.pred").as("pred"),
        col("t.obj").as("obj"), col("t.n").as("n"), col("t.score").as("score"),
        col("t.first_url").as("first_url"))

  /** The declarative groupBy form of [[partialTriples]] — row-for-row
    * equivalent (CanonicalizeSpec pins equality); kept as the equivalence
    * oracle for the triples_agg path, exactly like Stages.relationsUdf twins
    * RelationsGenExpr. The shipped path groups by part_id alone and folds the
    * triple key into the [[graft.plans.TripleMap]] buffer: same groups, same
    * measures, but Spark's per-row ObjectHashAggregate machinery (key
    * UnsafeProjection + row murmur + LinkedHashMap probe + three interpreted
    * updates — ~17% of executor CPU in the round-4 JFR) collapses to ~one
    * group probe per partition. */
  def partialTriplesGroupBy(relations: DataFrame): DataFrame =
    relations.groupBy(col("part_id"), col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("n"), max(col("score")).as("score"),
        graft.plans.GraftExtensions.minStr(col("url")).as("first_url"))

  /** A11 phase 2 — merge partials globally (the one unavoidable shuffle; all
    * measures are algebraic so partial+final loses nothing). Lineage
    * page-marker rows (subj IS NULL), when present, are dropped here so every
    * consumer of merged triples sees relations only. */
  def mergeTriples(partials: DataFrame): DataFrame = mergeTriplesBy(partials)

  /** [[mergeTriples]] grouped by extra keys as well, which must be functions
    * of the triple (Pipeline.run passes the output bucket of subj, so its
    * exchange on bucket already satisfies the merge's distribution). The
    * extra keys come after (subj, pred, obj) in the output. */
  def mergeTriplesBy(partials: DataFrame, extraKeys: Column*): DataFrame =
    partials.filter(col("subj").isNotNull)
      .groupBy(Seq(col("subj"), col("pred"), col("obj")) ++ extraKeys: _*)
      .agg(sum(col("n")).as("n_evidence"), max(col("score")).as("score"),
        graft.plans.GraftExtensions.minStr(col("first_url")).as("first_url"))

  /** Generic salted two-phase aggregation, exposed for the harness
    * (q_agg_twophase) and CanonicalizeSpec: equivalent by algebra to the
    * single groupBy for algebraic measures. */
  def saltedTwoPhase(df: DataFrame, keys: Seq[String], saltExpr: Column, salts: Int)(
      aggs: (Seq[Column], Seq[Column])): DataFrame = {
    val (phase1, phase2) = aggs
    val kCols = keys.map(col)
    df.withColumn("_salt", pmod(saltExpr, lit(salts.toLong)))
      .groupBy(kCols :+ col("_salt"): _*).agg(phase1.head, phase1.tail: _*)
      .groupBy(kCols: _*).agg(phase2.head, phase2.tail: _*)
  }

  /** Output bucket column for materialization: same logical layout as an
    * Iceberg bucket(B, subj) partition transform (SURVEY.md §7.3). */
  def subjBucket(numBuckets: Int): Column =
    pmod(xxhash64(col("subj")), lit(numBuckets.toLong)).cast("int").as("bucket")
}
