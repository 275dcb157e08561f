package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The dataflow stages of the KG pipeline (SURVEY.md §2 Table A), expressed
  * Catalyst-first: every stage is a built-in or native Catalyst expression
  * (pushdown, pruning and whole-stage codegen apply), with no UDF island.
  *
  * There is one extraction flow, and every caller runs it: [[tokenizedPages]]
  * (A1–A5) → [[relations]] with page markers (A6–A10) → [[partialTriples]]
  * (A11 phase 1) → [[mergeTriples]] (A11 phase 2, which drops the markers).
  */
object Stages {

  /** A1–A5, the one extraction flow every caller runs ([[Pipeline.run]],
    * [[Pipeline.triples]], the streaming microbatch and training): tag and
    * url-hash-partition every page ([[partitionedAll]]), keep only the
    * `parts` part_ids when given, then extract text, split sentences and
    * tokenize. Every input page keeps one anchor row, so the result feeds
    * [[relations]] with `pageMarkers = true`; out-of-scope and barren pages
    * carry null tokens. */
  def tokenizedPages(webpages: DataFrame, langs: Seq[String], numParts: Int,
                     parts: Option[Seq[Int]] = None): DataFrame = {
    val all = partitionedAll(webpages, langs, numParts)
    val kept = parts.fold(all)(ps => all.filter(col("part_id").isin(ps: _*)))
    tokenized(sentencesOuter(pageText(kept)))
  }

  /** A1–A2 as a filter: the in-scope rows of [[partitionedAll]]. Kept for
    * the harness (q_train_labels) and the stage-level specs. */
  def partitioned(webpages: DataFrame, langs: Seq[String], numParts: Int): DataFrame =
    partitionedAll(webpages, langs, numParts).filter(col("in_scope"))

  /** A1–A2: keeps EVERY input page (so lineage page counts and the
    * present-part commit rule need no second input scan), tagging rows with
    * `in_scope` instead of filtering, and repartitions them by
    * `part_id = pmod(xxhash64(url), P)` — the checkpoint/lineage unit, stable
    * across cluster sizes and runs. Out-of-scope rows have their html
    * nulled BEFORE the exchange: they ship as (url, nulls), a few bytes each,
    * and skip extraction entirely.
    * `repartitionInput` only accepts true; the benchmark passes it by name. */
  def partitionedAll(webpages: DataFrame, langs: Seq[String], numParts: Int,
                     repartitionInput: Boolean = true): DataFrame = {
    require(repartitionInput, "partitionedAll always repartitions by part_id")
    val inScope = col("lang").isin(langs: _*) && col("html").isNotNull
    webpages.select(
      col("url"),
      when(inScope, col("html")).as("html"),
      inScope.as("in_scope"),
      pmod(xxhash64(col("url")), lit(numParts.toLong)).cast("int").as("part_id"))
      .repartition(numParts, col("part_id"))
  }

  /** A3 — HTML→text, the pinned byte-identical extractor as a native
    * Catalyst expression (codegen-fused, null-intolerant — SURVEY.md §4.3). */
  def pageText(partitioned: DataFrame): DataFrame =
    partitioned
      .withColumn("text", graft.plans.GraftExtensions.extractText(col("html")))
      .drop("html") // other columns (e.g. in_scope) pass through

  /** A4 as a filter: the non-empty sentences of [[sentencesOuter]]. Kept
    * for the harness (q_train_labels) and the stage-level specs. */
  def sentences(pageText: DataFrame): DataFrame =
    sentencesOuter(pageText).filter(col("sent").isNotNull)

  /** A4 — UDF-free sentence split: native scanner expression (array-identical
    * to split(text, TextModel.SentenceSplitRegex) — TokenizeEquivalenceSpec).
    * Empty sentences are filtered INSIDE the array and the explode is OUTER,
    * so a page with no sentences (null or empty text — e.g. an out-of-scope
    * page) still yields exactly one row (null sent_idx/sent). Every page
    * therefore has exactly one "anchor" row (sent_idx 0 or null) — the hook
    * the page-marker lineage counting in [[relations]] rides on. Extra
    * columns (in_scope) pass through. */
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

  /** A6–A10 fused: greedy dictionary scan (at each position the longest
    * dictionary surface starting there, of any token length — see
    * [[KgModel.scanMentionsU8]]) → ordered pair candidates → hashed
    * featurization → broadcast-weights scoring → linked relations. One
    * narrow generator (tokens in, scored relations out) so Catalyst can
    * prune every other column; accumulators feed per-run metrics (A14 —
    * approximate under task retries, see Pipeline.RunStats).
    * `mentionMode` only accepts "scan"; it stays for source compatibility.
    *
    * pageMarkers=true (requires the [[tokenizedPages]] flow upstream, which
    * supplies `in_scope` and per-page anchor rows): appends one
    * [[PageMarkerIn]]/[[PageMarkerOut]] row per page so page counts ride the
    * SAME single input scan as extraction. */
  def relations(tokenized: DataFrame, model: Broadcast[KgModel],
                accMentions: Option[LongAccumulator] = None,
                accCandidates: Option[LongAccumulator] = None,
                mentionMode: String = "scan",
                pageMarkers: Boolean = false): DataFrame = {
    require(mentionMode == "scan", s"unknown mentionMode '$mentionMode' (expected scan)")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (anchorCol, inScopeCol) = markerCols(pageMarkers)
    val gen = graft.plans.RelationsGenExpr(
      ColumnBridge.expression(col("tokens")),
      ColumnBridge.expression(anchorCol),
      ColumnBridge.expression(inScopeCol),
      model, accMentions, accCandidates)
    tokenized.select(col("url"), col("part_id"),
      ColumnBridge.column(gen).as(Seq("subj", "pred", "obj", "score")))
  }

  /** anchor: the page's single sent_idx==0 row, or its posexplode_outer null
    * row when it has no sentences — exactly one per page either way. */
  private def markerCols(pageMarkers: Boolean): (Column, Column) = (
    if (pageMarkers) coalesce(col("sent_idx") === 0, lit(true)) else lit(false),
    if (pageMarkers) col("in_scope") else lit(true))

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
