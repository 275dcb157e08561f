package graft.kg

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpoint manifest (SURVEY.md §2 A13–A14).
  *
  * The unit of work is `part_id = pmod(xxhash64(url), P)`. A part is committed
  * by appending a manifest row AFTER its partial-triples partition directory
  * is fully written; resume recomputes only part_ids absent from the manifest
  * (left-anti semantics). Partial writes of a crashed part are safe because
  * partial output is written with dynamic partition overwrite — a rerun
  * replaces exactly the partitions it recomputes, making commits idempotent.
  * Manifest rows double as per-partition lineage: input pages, distinct
  * triples, evidence mentions, an order-independent checksum, and the shared
  * wall-clock of the run that committed the part (run-level, not per-part —
  * parts of one run are processed concurrently).
  *
  * All existence probes go through the Hadoop FileSystem API, so the manifest
  * protocol works unchanged when outDir is HDFS/S3 under spark-submit (a
  * java.io.File probe would silently report "absent" there and reprocess —
  * or worse, finalize over nothing).
  */
object Checkpoint {
  final case class ManifestRow(
      part_id: Int, status: String, n_pages: Long, n_triples: Long,
      n_evidence: Long, checksum: Long, wall_ms: Long)

  def manifestPath(outDir: String) = s"$outDir/_manifest"

  /** Hadoop-FS existence probe (works for local, HDFS, S3A, ... paths). */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Every manifest row, in one job: the explicit schema spares Parquet its
    * schema-inference job. Rows of every status are returned. */
  def manifest(spark: SparkSession, outDir: String): Seq[ManifestRow] =
    if (!pathExists(spark, manifestPath(outDir))) Nil
    else {
      val enc = Encoders.product[ManifestRow]
      spark.read.schema(enc.schema).parquet(manifestPath(outDir)).as(enc).collect().toSeq
    }

  def committedParts(spark: SparkSession, outDir: String): Set[Int] =
    done(manifest(spark, outDir)).map(_.part_id).toSet

  /** The rows that commit their part. */
  def done(rows: Seq[ManifestRow]): Seq[ManifestRow] = rows.filter(_.status == "done")

  def commit(spark: SparkSession, outDir: String, rows: Seq[ManifestRow]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      rows.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath(outDir))
  }

  /** Per-part lineage of a partials frame (relations and page-marker rows,
    * subj IS NULL on markers) in ONE aggregate: page count from the in-scope
    * markers, then distinct triples, evidence and an order-independent
    * checksum over the relation rows. Only parts with at least one marker
    * row get a 'done' row: a part PRESENT in the input commits even with 0
    * in-scope pages or 0 triples (otherwise it would be recomputed on every
    * resume), while a part with NO input pages is treated as not yet seen
    * (an interrupted run's unseen input must stay uncommitted — ResumeSpec's
    * crash model). wall_ms is the shared run wall clock (object scaladoc). */
  def lineage(partials: DataFrame, wallMs: Long): Seq[ManifestRow] = {
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
      .map(r => ManifestRow(r.getAs[Int]("part_id"), "done", r.getAs[Long]("n_pages"),
        r.getAs[Long]("n_triples"), r.getAs[Long]("n_evidence"), r.getAs[Long]("checksum"),
        wallMs))
      .sortBy(_.part_id)
  }
}
