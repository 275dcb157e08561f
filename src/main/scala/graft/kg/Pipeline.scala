package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** End-to-end KG-construction pipeline (SURVEY.md §3.2 E1).
  *
  * webpages(url, warc_ts, html, text, lang)
  *   → tag in_scope(lang) → repartition(P, xxhash64(url))      [A1–A2]
  *   → Extract.textU8 → sentences → tokens                      [A3–A5]
  *   → mentions → candidates → featurize → score → link         [A6–A10]
  *     (+ one lineage marker row per page)
  *   → per-part partial agg (salt = part_id, shuffle-free)      [A11 ph.1]
  *   → global merge, markers dropped (the single shuffle)       [A11 ph.2]
  *   → bucketed (subj,pred,obj) output table                    [A12]
  * with per-part manifest checkpointing/resume [A13] and metrics [A14].
  *
  * [[triples]] and [[run]] run this one flow (A1–A5 is
  * [[Stages.tokenizedPages]]), as do the streaming microbatch and training;
  * `run` adds the part filter, the checkpoint and the bucketed write.
  */
object Pipeline {
  /** Run configuration. The input is always repartitioned by part_id, and
    * the A6 mention scan has no mode: it always takes, at each token
    * position, the longest dictionary surface starting there, for surfaces
    * of any token length ([[KgModel.scanMentionsU8]]). */
  final case class Config(
      fixturesDir: String,
      outDir: String,
      langs: Seq[String] = Seq("en"),
      numParts: Int = 64,
      numBuckets: Int = 16) {
    // checked on construction, so a bad config fails before any Spark job
    require(langs.nonEmpty, "langs must not be empty")
    require(numParts >= 1, s"numParts must be >= 1, got $numParts")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
  }

  /** `mentions`/`candidates` come from task-side accumulators: retried or
    * speculatively-executed tasks double-count, so treat them as approximate
    * telemetry; `pages`/`triples` are exact (committed manifest / output
    * table counts). */
  final case class RunStats(
      partsProcessed: Int, partsSkipped: Int, pages: Long, mentions: Long,
      candidates: Long, triples: Long, wallMs: Long)

  def partialsPath(outDir: String) = s"$outDir/partials"
  def triplesPath(outDir: String) = s"$outDir/triples"

  /** Pure (non-checkpointed) run: webpages DataFrame in, canonical triples
    * DataFrame out — used by tests and the harness flagship. The same flow
    * as [[run]]; the page-marker rows are dropped by the merge. */
  def triples(spark: SparkSession, webpages: DataFrame, model: Broadcast[KgModel],
              cfg: Config): DataFrame = {
    val rels = Stages.relations(Stages.tokenizedPages(webpages, cfg.langs, cfg.numParts),
      model, pageMarkers = true)
    Stages.mergeTriples(Stages.partialTriples(rels))
      .select(col("subj"), col("pred"), col("obj"), col("score"),
        col("n_evidence"), col("first_url"))
  }

  /** Checkpointed, resumable run over a webpages table on disk. Reprocesses
    * only part_ids missing from the manifest, as one run of the
    * [[Checkpoint]] protocol; finalize merges all committed partials into the
    * bucketed output table. Safe to re-run after any crash. A run whose
    * numParts, langs or model differ from the outDir's committed runs throws
    * IllegalArgumentException: numParts/langs before any Spark job, the model
    * right after it is loaded, before the input is read.
    *
    * Spark jobs a run of 64 parts launches: 15 when it resumes with some parts
    * left to compute, 14 on a fresh outDir (no manifest to read). Under AQE
    * each exchange costs one job for its map stage; a directory is listed by
    * a job only when it holds more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) entries,
    * which the one or two run_id directories of a run do not.
    *  - 4, model load: one collect per fixture table (explicit schemas, so
    *    no schema-inference jobs);
    *  - 1, manifest read: one collect of every [[Checkpoint.ManifestRow]],
    *    giving the committed parts, their run_ids and their triple counts;
    *  - 1, input schema inference (skipped when every part is committed);
    *  - 2, partials write: the url-hash exchange and the extraction +
    *    per-part aggregation + write into `partials/run_id=<id>`;
    *  - 2, lineage: one groupBy(part_id) over the run's partials gives page
    *    counts, the commit rule and each part's triples, evidence and
    *    checksum; its file index is the one finalize reads;
    *  - 1, manifest commit;
    *  - 2, finalize: one exchange on `bucket`, then merge + write (the
    *    merge groups by (subj, pred, obj, bucket), which the exchange
    *    already satisfies); emptiness comes from the manifest's exact
    *    `n_triples`, not from a query;
    *  - 2, the exact output row count.
    */
  def run(spark: SparkSession, webpagesPath: String, cfg: Config): RunStats = {
    val t0 = System.nanoTime()
    val stageListener = new StageMetricsListener
    spark.sparkContext.addSparkListener(stageListener)
    val (stats, runId) = try runWith(spark, webpagesPath, cfg, t0)
      finally spark.sparkContext.removeSparkListener(stageListener)
    writeMetrics(spark, cfg.outDir, stats, runId, stageListener.lines)
    stats
  }

  /** The run's stats and its run_id, if it computed any part. */
  private def runWith(spark: SparkSession, webpagesPath: String, cfg: Config,
                      t0: Long): (RunStats, Option[Long]) = {
    Checkpoint.requireSpec(spark, cfg.outDir, Checkpoint.configSpec(cfg))
    val model = KgModel.load(spark, cfg.fixturesDir)
    val modelSpec = Checkpoint.modelSpec(model.value)
    Checkpoint.requireSpec(spark, cfg.outDir, modelSpec)
    val committedRows = Checkpoint.manifest(spark, cfg.outDir)
    val committed = committedRows.map(_.part_id).toSet
    val runs = committedRows.map(_.run_id).distinct
    val todo = (0 until cfg.numParts).filterNot(committed.contains)
    val runId = if (todo.isEmpty) None else Some(runs.maxOption.fold(0L)(_ + 1))

    val accMentions = spark.sparkContext.longAccumulator("kg.mentions")
    val accCandidates = spark.sparkContext.longAccumulator("kg.candidates")

    // single-pass lineage: EVERY page (in scope or not) flows once, tagged;
    // out-of-scope rows carry (url, nulls) only and skip extraction. Each page
    // emits one marker row (subj IS NULL) beside its relations, so page counts
    // and the present-part commit rule are read back from the written partials
    // — the input is scanned exactly once per run (LineageSpec asserts).
    val (newRows, partials) = runId match {
      case None => (Nil, Checkpoint.partials(spark, cfg.outDir, runs))
      case Some(id) =>
        val toks = Stages.tokenizedPages(spark.read.parquet(webpagesPath), cfg.langs,
          cfg.numParts, Some(todo))
        val rels = Stages.relations(toks, model, Some(accMentions), Some(accCandidates),
          pageMarkers = true)
        Checkpoint.commitRun(spark, cfg.outDir, Checkpoint.configSpec(cfg) ++ modelSpec, id, runs,
          Stages.partialTriples(rels), t0)
    }

    // finalize (cheap, always rerun): merge all committed partials in one
    // shuffle on the output bucket. A run whose input produced no triples
    // (e.g. no pages in scope) still commits a valid empty output table: a
    // partitionBy write of an empty frame yields no schema-bearing files, so
    // that table is written unpartitioned instead.
    val merged = Stages.mergeTriplesBy(
      partials.withColumn("bucket", Stages.subjBucket(cfg.numBuckets)).repartition(col("bucket")),
      col("bucket"))
      .select(TriplesColumns.map(col): _*)
    val empty = (committedRows ++ newRows).map(_.n_triples).sum == 0L
    val w = merged.write.mode(SaveMode.Overwrite)
    (if (empty) w else w.partitionBy("bucket")).parquet(triplesPath(cfg.outDir))

    // explicit schema: an all-empty write may contain no schema-bearing files
    val nTriples = spark.read.schema(merged.schema).parquet(triplesPath(cfg.outDir)).count()
    val wallMs = (System.nanoTime() - t0) / 1000000L
    (RunStats(todo.size, committed.size, newRows.map(_.n_pages).sum,
      accMentions.value, accCandidates.value, nTriples, wallMs), runId)
  }

  /** Output table columns; `bucket` is the partition column of a non-empty
    * table and a plain last column of an empty one. */
  private val TriplesColumns =
    Seq("subj", "pred", "obj", "n_evidence", "score", "first_url", "bucket")

  /** A14 — run-level metrics log (per-partition lineage lives in _manifest;
    * `run_id` joins a run's line to its rows, null when it computed nothing),
    * written through the outDir's Hadoop FileSystem. Object stores have no
    * append, so the log is read and rewritten whole. */
  private def writeMetrics(spark: SparkSession, outDir: String, s: RunStats,
                           runId: Option[Long], stageLines: Seq[String]): Unit = {
    val run = s"""{"parts_processed":${s.partsProcessed},"parts_skipped":${s.partsSkipped},""" +
      s""""pages":${s.pages},"mentions":${s.mentions},"candidates":${s.candidates},""" +
      s""""triples":${s.triples},"wall_ms":${s.wallMs},"run_id":${runId.getOrElse("null")}}"""
    val path = new Path(s"$outDir/metrics.jsonl")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val prev =
      if (!fs.exists(path)) Array.emptyByteArray
      else { val in = fs.open(path); try in.readAllBytes() finally in.close() }
    val out = fs.create(path, true)
    try {
      out.write(prev)
      out.write((run +: stageLines).mkString("", "\n", "\n").getBytes("UTF-8"))
    } finally out.close()
  }
}
