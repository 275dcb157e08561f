package graft.kg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpoint (SURVEY.md §2 A13–A14): the one append-only
  * commit protocol of [[Pipeline.run]] and the streaming microbatch.
  *
  * The commit unit is a run: a batch run with parts to compute takes
  * `run_id` = 1 + the largest committed one (0 on a fresh outDir), a
  * microbatch its batchId. A run is committed exactly when its `_manifest`
  * rows (one file) are there; readers ([[partials]]) take committed run_ids
  * only. In a batch outDir each part is committed by one run, and resume
  * recomputes only part_ids absent from the manifest. Manifest rows double
  * as per-partition lineage: input pages, distinct triples, evidence
  * mentions, an order-independent checksum, and the run's wall clock.
  *
  * `_run_spec`, written before a fresh outDir's first partials, pins what
  * every run of an outDir shares ([[configSpec]], [[modelSpec]]). outDirs written
  * in the older `partials/part_id=N` layout are not migrated: start a fresh
  * outDir. Every file probe goes through the Hadoop FileSystem API, so the
  * protocol works unchanged on HDFS/S3 outDirs.
  */
object Checkpoint {
  final case class ManifestRow(
      run_id: Long, part_id: Int, n_pages: Long, n_triples: Long, n_evidence: Long,
      checksum: Long, wall_ms: Long)

  def manifestPath(outDir: String) = s"$outDir/_manifest"

  /** Partial-triples schema (`run_id` is the hive partition column), read
    * explicitly so an empty (file-less) run stays readable. */
  private val PartialsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "subj string, pred string, obj string, n bigint, score double, " +
      "first_url string, part_id int, run_id bigint")

  private def fs(spark: SparkSession, outDir: String) =
    new Path(outDir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every manifest row, in one job: the explicit schema spares Parquet its
    * schema-inference job. */
  def manifest(spark: SparkSession, outDir: String): Seq[ManifestRow] =
    if (!fs(spark, outDir).exists(new Path(manifestPath(outDir)))) Nil
    else {
      val enc = Encoders.product[ManifestRow]
      spark.read.schema(enc.schema).parquet(manifestPath(outDir)).as(enc).collect().toSeq
    }

  def committedParts(spark: SparkSession, outDir: String): Set[Int] =
    manifest(spark, outDir).map(_.part_id).toSet

  /** `_run_spec` fields of a configuration; `numBuckets` is not one, since
    * finalize rewrites the whole table. */
  def configSpec(cfg: Pipeline.Config): Seq[(String, String)] =
    Seq("numParts" -> cfg.numParts.toString, "langs" -> cfg.langs.distinct.sorted.mkString(","))

  def modelSpec(model: KgModel): Seq[(String, String)] =
    Seq("model" -> f"${model.fingerprint}%016x")

  /** Throws IllegalArgumentException naming the first field of `spec` that
    * differs from the `_run_spec` of an outDir with committed runs, or when
    * the outDir holds partials or a manifest but no `_run_spec` (the older
    * layout). Hadoop FS only: no Spark job. */
  def requireSpec(spark: SparkSession, outDir: String, spec: Seq[(String, String)]): Unit = {
    val fs = this.fs(spark, outDir)
    val path = new Path(s"$outDir/_run_spec")
    if (!fs.exists(path))
      require(!fs.exists(new Path(Pipeline.partialsPath(outDir))) &&
        !fs.exists(new Path(manifestPath(outDir))), s"$outDir has partials or a _manifest but " +
        "no _run_spec: it was written in the old partials/part_id= layout, which is not " +
        "migrated; start a fresh outDir")
    else if (fs.exists(new Path(manifestPath(outDir)))) {
      val in = fs.open(path)
      val stored = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val was = stored.linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      spec.foreach { case (k, v) =>
        require(was.get(k).contains(v), s"$outDir was committed with $k=${was.getOrElse(k, "")} " +
          s"but this run has $k=$v: resume with the same $k or start a fresh outDir")
      }
    }
  }

  /** The partials of `runs`, pruned on run_id, through one file index. */
  def partials(spark: SparkSession, outDir: String, runs: Seq[Long]): DataFrame =
    spark.read.schema(PartialsSchema).parquet(Pipeline.partialsPath(outDir))
      .filter(col("run_id").isin(runs: _*))

  /** Commits `run` (relations and page markers by part_id) as run `runId`,
    * the one writer of an outDir: clear → append the partials to
    * `partials/run_id=<id>` → lineage → commit. An id is reused only after a
    * crash before its commit, so clear removes what that leaves: the torn run
    * directory, and the files of tasks a killed job committed under the
    * `_temporary` dirs of `partials` and `_manifest` (the next append would
    * merge them in). Until the first commit, each run writes `spec` as
    * `_run_spec` first. Returns the run's manifest rows and the partials of
    * `prior` runs and this one, through the lineage aggregate's file index. */
  def commitRun(spark: SparkSession, outDir: String, spec: Seq[(String, String)], runId: Long,
                prior: Seq[Long], run: DataFrame, t0: Long): (Seq[ManifestRow], DataFrame) = {
    val fs = this.fs(spark, outDir)
    val root = Pipeline.partialsPath(outDir)
    Seq(s"$root/run_id=$runId", s"$root/_temporary", s"${manifestPath(outDir)}/_temporary")
      .foreach(p => fs.delete(new Path(p), true))
    if (!fs.exists(new Path(manifestPath(outDir)))) {
      val out = fs.create(new Path(s"$outDir/_run_spec"), true)
      try out.write(spec.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
      finally out.close()
    }
    run.withColumn("run_id", lit(runId)).write.mode(SaveMode.Append)
      .partitionBy("run_id").parquet(root)

    val all = partials(spark, outDir, prior :+ runId)
    val rows = lineage(all.filter(col("run_id") === runId), runId,
      (System.nanoTime() - t0) / 1000000L)
    if (rows.nonEmpty) {
      import spark.implicits._
      rows.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath(outDir))
    }
    (rows, all)
  }

  /** Per-part lineage of one run's partials (relations and page-marker rows,
    * subj IS NULL on markers) in ONE aggregate: page count from the in-scope
    * markers, then distinct triples, evidence and an order-independent
    * checksum over the relation rows. Only parts with at least one marker
    * row get a row: a part PRESENT in the input commits even with 0
    * in-scope pages or 0 triples (otherwise it would be recomputed on every
    * resume), while a part with NO input pages is treated as not yet seen
    * (an interrupted run's unseen input must stay uncommitted — ResumeSpec's
    * crash model). wall_ms is the run's wall clock, shared by its parts. */
  def lineage(partials: DataFrame, runId: Long, wallMs: Long): Seq[ManifestRow] = {
    val marker = col("subj").isNull
    val rel = col("subj").isNotNull
    partials.groupBy(col("part_id"))
      .agg(
        count(when(marker, 1)).as("n_markers"),
        sum(when(marker && col("pred") === Stages.PageMarkerIn, col("n")).otherwise(0L))
          .as("n_pages"),
        count(when(rel, 1)).as("n_triples"),
        coalesce(sum(when(rel, col("n"))), lit(0L)).as("n_evidence"),
        // xor-fold: order-independent, overflow-free content checksum
        coalesce(bit_xor(when(rel, xxhash64(col("subj"), col("pred"), col("obj"), col("n")))),
          lit(0L)).as("checksum"))
      .filter(col("n_markers") > 0)
      .collect().toSeq
      .map(r => ManifestRow(runId, r.getAs[Int]("part_id"), r.getAs[Long]("n_pages"),
        r.getAs[Long]("n_triples"), r.getAs[Long]("n_evidence"), r.getAs[Long]("checksum"),
        wallMs))
      .sortBy(_.part_id)
  }
}
