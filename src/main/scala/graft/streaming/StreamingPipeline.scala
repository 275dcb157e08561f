package graft.streaming

import graft.kg.{Checkpoint, KgModel, Pipeline, Stages}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous-ingest twin of the batch KG pipeline (SURVEY.md §3.2 E1): a
  * `readStream` file source watches the webpages directory, and each
  * microbatch runs the batch pipeline's one A1–A11-phase-1 flow
  * ([[Stages.tokenizedPages]] → [[Stages.relations]] with page markers →
  * [[Stages.partialTriples]]) and commits it as run `batchId` of the
  * [[Checkpoint]] protocol. Every A11 measure is algebraic (sum n / max
  * score / min_str first_url), so merging per-batch partials is EXACTLY the
  * batch phase-2 merge: [[finalizeTriples]] yields identical canonical
  * triples however the input was sliced into batches (StreamingPipelineSpec
  * pins equality with [[Pipeline.triples]]).
  *
  * Exactly-once: the streaming checkpoint records which input files each
  * batch consumed, and a batch replayed after a crash keeps its batchId. It
  * is skipped if its manifest rows landed; otherwise its torn `run_id`
  * output is cleared and rewritten. Batch ids are the stream's, so an
  * outDir belongs to one checkpointDir.
  */
object StreamingPipeline {
  /** Start the ingest stream. `maxFilesPerTrigger` bounds per-batch work —
    * the streaming knob that replaces the batch `numParts` sizing (within a
    * batch, `cfg.numParts` still governs the url-hash repartition). Throws
    * IllegalArgumentException when `cfg` or `model` differ from the runs
    * committed in `cfg.outDir`, or when `cfg.outDir` has committed runs but
    * `checkpointDir` has started no batch (its new batch ids would collide
    * with them and be skipped as replays). */
  def start(spark: SparkSession, inputDir: String, model: Broadcast[KgModel],
            cfg: Pipeline.Config, checkpointDir: String,
            maxFilesPerTrigger: Int = 4): StreamingQuery = {
    val spec = Checkpoint.configSpec(cfg) ++ Checkpoint.modelSpec(model.value)
    Checkpoint.requireSpec(spark, cfg.outDir, spec)
    // read once: only the first batch after a restart can be a replay
    val committed = Checkpoint.manifest(spark, cfg.outDir).map(_.run_id).toSet
    val offsets = new Path(checkpointDir, "offsets")
    val fs = offsets.getFileSystem(spark.sessionState.newHadoopConf())
    require(committed.isEmpty || (fs.exists(offsets) &&
      fs.listStatus(offsets).exists(_.getPath.getName.forall(_.isDigit))),
      s"${cfg.outDir} has committed runs but $checkpointDir has started no batch: an outDir " +
        "belongs to one checkpointDir; restart with that one or start a fresh outDir")
    // file-source streams need an explicit schema; the input table is
    // self-describing parquet, so take it from the footers already present
    val schema = spark.read.parquet(inputDir).schema
    val pages = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inputDir)
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        if (!committed.contains(batchId))
          Checkpoint.commitRun(spark, cfg.outDir, spec, batchId, Nil,
            Stages.partialTriples(Stages.relations(
              Stages.tokenizedPages(batch, cfg.langs, cfg.numParts), model, pageMarkers = true)),
            t0)
        ()
      }
      .start()
  }

  /** Merge the partials of every committed batch into canonical triples —
    * same columns as the batch flagship ([[Pipeline.triples]]). */
  def finalizeTriples(spark: SparkSession, outDir: String): DataFrame =
    Stages.mergeTriples(Checkpoint.partials(spark, outDir,
      Checkpoint.manifest(spark, outDir).map(_.run_id).distinct))
      .select(col("subj"), col("pred"), col("obj"), col("score"),
        col("n_evidence"), col("first_url"))
}
