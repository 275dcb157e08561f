package graft.streaming

import graft.kg.{KgModel, Pipeline, Stages}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous-ingest twin of the batch KG pipeline (SURVEY.md §3.2 E1): a
  * `readStream` file source watches the webpages directory — newly landed
  * crawl segments are discovered per trigger — and each microbatch runs the
  * batch pipeline's one A1–A11-phase-1 flow ([[Stages.tokenizedPages]] →
  * [[Stages.relations]] with page markers → [[Stages.partialTriples]]) via
  * `foreachBatch`, writing per-batch partial triples; the finalize merge
  * drops the marker rows, as [[Pipeline.triples]] does. Every A11 measure
  * is algebraic (sum n / max score / min_str first_url), so merging
  * per-batch partials is EXACTLY the batch phase-2 merge:
  * [[finalizeTriples]] yields identical canonical triples no matter how the
  * input was sliced into batches (StreamingPipelineSpec pins equality with
  * [[Pipeline.triples]] on the same corpus).
  *
  * Exactly-once at scale: the streaming checkpoint records which input
  * files each batch consumed (the streaming analogue of the batch part-id
  * manifest), and partials land under `batch_id=N` with dynamic partition
  * overwrite, so a batch replayed after a crash overwrites its own
  * directory — the same idempotent commit discipline as
  * [[Pipeline.run]]'s per-part overwrite. The finalize merge stays one
  * shuffle regardless of batch count.
  */
object StreamingPipeline {
  def partialsPath(outDir: String) = s"$outDir/partials_stream"

  /** Start the ingest stream. `maxFilesPerTrigger` bounds per-batch work —
    * the streaming knob that replaces the batch `numParts` sizing (within a
    * batch, `cfg.numParts` still governs the url-hash repartition). */
  def start(spark: SparkSession, inputDir: String, model: Broadcast[KgModel],
            cfg: Pipeline.Config, checkpointDir: String,
            maxFilesPerTrigger: Int = 4): StreamingQuery = {
    // file-source streams need an explicit schema; the input table is
    // self-describing parquet, so take it from the footers already present
    val schema = spark.read.parquet(inputDir).schema
    val pages = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inputDir)
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Stages.partialTriples(Stages.relations(
            Stages.tokenizedPages(batch, cfg.langs, cfg.numParts), model, pageMarkers = true))
          .withColumn("batch_id", lit(batchId))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(partialsPath(cfg.outDir))
        ()
      }
      .start()
  }

  /** Merge all per-batch partials into canonical triples — same columns as
    * the batch flagship ([[Pipeline.triples]]). */
  def finalizeTriples(spark: SparkSession, outDir: String): DataFrame =
    Stages.mergeTriples(
      spark.read.parquet(partialsPath(outDir)).drop("batch_id", "part_id"))
      .select(col("subj"), col("pred"), col("obj"), col("score"),
        col("n_evidence"), col("first_url"))
}
