package graft.kg

import graft.io.TableIO
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** End-to-end KG-construction pipeline (SURVEY.md §3.2 E1).
  *
  * webpages(url, warc_ts, html, text, lang)
  *   → filter(lang) → repartition(P, xxhash64(url))            [A1–A2]
  *   → Extract.text → sentences → tokens                        [A3–A5]
  *   → mentions → candidates → featurize → score → link         [A6–A10]
  *   → per-part partial agg (salt = part_id, shuffle-free)      [A11 ph.1]
  *   → global merge (the single shuffle)                        [A11 ph.2]
  *   → bucketed (subj,pred,obj) output table                    [A12]
  * with per-part manifest checkpointing/resume [A13] and metrics [A14].
  */
object Pipeline {
  /** mentionMode selects the A6 dictionary-scan implementation inside the
    * fused relations UDF: "scan" = the 1/2-gram hash-map greedy scan (default;
    * exactly the fixture dictionary's shape), "aho" = the token-level
    * Aho–Corasick automaton (same greedy semantics — AhoSpec asserts equality
    * — but handles arbitrary-length surfaces in one O(sentence) pass). The
    * fully-relational broadcast-join mode lives in [[MentionJoin]] (a
    * different dataflow, used when mentions themselves are the product). */
  final case class Config(
      fixturesDir: String,
      outDir: String,
      langs: Seq[String] = Seq("en"),
      numParts: Int = 64,
      numBuckets: Int = 16,
      repartitionInput: Boolean = true,
      mentionMode: String = "scan") {
    // checked on construction, so a bad config fails before any Spark job
    require(langs.nonEmpty, "langs must not be empty")
    require(numParts >= 1, s"numParts must be >= 1, got $numParts")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    require(mentionMode == "scan" || mentionMode == "aho",
      s"unknown mentionMode '$mentionMode' (expected scan|aho)")
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

  /** Partial-triples schema (part_id is the hive partition column). Reads use
    * it explicitly so an empty (file-less) partials dir stays readable. */
  val partialsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "subj string, pred string, obj string, n bigint, score double, " +
        "first_url string, part_id int")

  /** Pure (non-checkpointed) run: webpages DataFrame in, canonical triples
    * DataFrame out — used by tests and the harness flagship. */
  def triples(spark: SparkSession, webpages: DataFrame, model: Broadcast[KgModel],
              cfg: Config): DataFrame = {
    val rels = Stages.extractRelations(
      webpages, model, cfg.langs, cfg.numParts, cfg.repartitionInput,
      mentionMode = cfg.mentionMode)
    Stages.mergeTriples(Stages.partialTriples(rels))
      .select(col("subj"), col("pred"), col("obj"), col("score"),
        col("n_evidence"), col("first_url"))
  }

  /** Checkpointed, resumable run over a webpages table on disk. Reprocesses
    * only part_ids missing from the manifest; finalize merges all partials
    * into the bucketed output table. Safe to re-run after any crash.
    *
    * Spark jobs a run of 64 parts launches: 16 when it resumes with some parts
    * left to compute, 15 on a fresh outDir (no manifest to read). Under AQE
    * each exchange costs one job for its map stage; a directory is listed by
    * a job only when it holds more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) entries.
    *  - 4, model load: one collect per fixture table (explicit schemas, so
    *    no schema-inference jobs);
    *  - 1, manifest read: one collect of every [[Checkpoint.ManifestRow]],
    *    giving both the committed parts and their triple counts;
    *  - 1, input schema inference (skipped when every part is committed);
    *  - 2, partials write: the url-hash exchange and the extraction +
    *    per-part aggregation + write;
    *  - 1, partials listing (one part_id directory per part): ONE file index
    *    shared by the lineage aggregate and finalize;
    *  - 2, lineage: one groupBy(part_id) gives page counts, the commit rule
    *    and each part's triples, evidence and checksum;
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
    val stats = try runWith(spark, webpagesPath, cfg, t0)
      finally spark.sparkContext.removeSparkListener(stageListener)
    writeMetrics(spark, cfg.outDir, stats, stageListener.lines)
    stats
  }

  private def runWith(spark: SparkSession, webpagesPath: String, cfg: Config,
                      t0: Long): RunStats = {
    val model = KgModel.load(spark, cfg.fixturesDir)
    val committedRows = Checkpoint.done(Checkpoint.manifest(spark, cfg.outDir))
    val committed = committedRows.map(_.part_id).toSet
    val todo = (0 until cfg.numParts).filterNot(committed.contains)

    val accMentions = spark.sparkContext.longAccumulator("kg.mentions")
    val accCandidates = spark.sparkContext.longAccumulator("kg.candidates")

    def readPartials() = spark.read.schema(partialsSchema).parquet(partialsPath(cfg.outDir))
    val (partials, newRows) =
      if (todo.nonEmpty) {
        // single-pass lineage: EVERY page (in scope or not) flows once, tagged;
        // out-of-scope rows carry (url, nulls) only and skip extraction. Each
        // page emits one marker row (subj IS NULL) beside its relations, so page
        // counts and the present-part commit rule are read back from the written
        // partials — the input is scanned exactly once per run (LineageSpec
        // asserts), where round 2 paid two extra (column-pruned) input scans.
        val part = Stages.partitionedAll(spark.read.parquet(webpagesPath), cfg.langs,
            cfg.numParts, cfg.repartitionInput)
          .filter(col("part_id").isin(todo: _*))
        val rels = Stages.relations(
          Stages.tokenized(Stages.sentencesOuter(Stages.pageText(part))),
          model, Some(accMentions), Some(accCandidates), cfg.mentionMode,
          pageMarkers = true)

        // dynamic partition overwrite: a rerun replaces exactly the part dirs
        // it recomputes — idempotent commits (Checkpoint scaladoc)
        Stages.partialTriples(rels).write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("part_id").parquet(partialsPath(cfg.outDir))

        val wallMs = (System.nanoTime() - t0) / 1000000L
        // one file index for the lineage aggregate and finalize
        val all = readPartials()
        val rows = Checkpoint.lineage(all.filter(col("part_id").isin(todo: _*)), wallMs)
        Checkpoint.commit(spark, cfg.outDir, rows)
        (Some(all), rows)
      } else if (Checkpoint.pathExists(spark, partialsPath(cfg.outDir))) (Some(readPartials()), Nil)
      else (None, Nil)

    // finalize (cheap, always rerun): merge all committed partials in one
    // shuffle on the output bucket. A run whose input produced no triples
    // (e.g. no pages in scope) still commits a valid empty output table: a
    // partitionBy write of an empty frame yields no schema-bearing files, so
    // that table is written unpartitioned instead.
    val merged = Stages.mergeTriplesBy(
      partials.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], partialsSchema))
        .withColumn("bucket", Stages.subjBucket(cfg.numBuckets))
        .repartition(col("bucket")),
      col("bucket"))
      .select(TriplesColumns.map(col): _*)
    val empty = (committedRows ++ newRows).map(_.n_triples).sum == 0L
    TableIO.Parquet(cfg.outDir).write(merged, "triples",
      partitionCols = if (empty) Nil else Seq("bucket"))

    // explicit schema: an all-empty write may contain no schema-bearing files
    val nTriples = spark.read.schema(merged.schema).parquet(triplesPath(cfg.outDir)).count()
    val wallMs = (System.nanoTime() - t0) / 1000000L
    RunStats(todo.size, committed.size, newRows.map(_.n_pages).sum,
      accMentions.value, accCandidates.value, nTriples, wallMs)
  }

  /** Output table columns; `bucket` is the partition column of a non-empty
    * table and a plain last column of an empty one. */
  private val TriplesColumns =
    Seq("subj", "pred", "obj", "n_evidence", "score", "first_url", "bucket")

  /** A14 — run-level metrics log (per-partition lineage lives in _manifest),
    * written through the outDir's Hadoop FileSystem. Object stores have no
    * append, so the log is read and rewritten whole. */
  private def writeMetrics(spark: SparkSession, outDir: String, s: RunStats,
                           stageLines: Seq[String]): Unit = {
    val run = s"""{"parts_processed":${s.partsProcessed},"parts_skipped":${s.partsSkipped},""" +
      s""""pages":${s.pages},"mentions":${s.mentions},"candidates":${s.candidates},""" +
      s""""triples":${s.triples},"wall_ms":${s.wallMs}}"""
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
