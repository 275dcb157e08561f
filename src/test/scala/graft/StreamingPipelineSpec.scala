package graft

import graft.kg.{Checkpoint, Pipeline}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The continuous-ingest twin must equal the batch pipeline: triples from a
  * corpus streamed in as arriving files — across multiple microbatches and a
  * stream restart — are identical to one batch run over the same corpus
  * (the algebraic-merge argument in StreamingPipeline's scaladoc, made
  * empirical). */
class StreamingPipelineSpec extends AnyFunSuite with SharedSpark {

  private def stage(df: org.apache.spark.sql.DataFrame, dir: Path, prefix: String): Unit = {
    val tmp = Files.createTempDirectory("stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).forEach { f =>
      Files.copy(f, dir.resolve(s"$prefix-${f.getFileName}"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("streamed ingest across waves + restart == batch pipeline") {
    val inDir = Files.createTempDirectory("stream_in")
    val outDir = Files.createTempDirectory("stream_out").toString
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val model = KgTestModel.model(spark)
    val cfg = Pipeline.Config(fixturesDir = "", outDir = outDir, numParts = 8)

    val webpages = spark.read.parquet(s"${SparkKit.sf0001}/webpages.parquet")
    val waveKey = pmod(xxhash64(col("url")), lit(3L))

    // wave 1: two thirds of the corpus, split into >1 microbatch
    stage(webpages.filter(waveKey < 2), inDir, "wave1a")
    stage(webpages.filter(waveKey === 0), inDir, "wave1b") // overlap is fine: distinct files, union of pages below
    val q = StreamingPipeline.start(spark, inDir.toString, model, cfg, ckpt,
      maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()

    // wave 2 lands AFTER a stop — the restarted stream must pick up only the
    // new files (checkpointed file log), not reprocess wave 1
    stage(webpages.filter(waveKey === 2), inDir, "wave2")
    val q2 = StreamingPipeline.start(spark, inDir.toString, model, cfg, ckpt,
      maxFilesPerTrigger = 1)
    try q2.processAllAvailable() finally q2.stop()

    // batch reference over the SAME logical corpus (wave1a ∪ wave1b ∪ wave2
    // = pages with key<2 twice-staged for key 0 + key 2) — the streamed
    // input duplicates key-0 pages (two distinct files), so the reference
    // must too: canonicalization is over page OCCURRENCES, not urls
    val batchInput = webpages.filter(waveKey < 2)
      .union(webpages.filter(waveKey === 0))
      .union(webpages.filter(waveKey === 2))
    val expected = Pipeline.triples(spark, batchInput, model, cfg)
      .collect().map(_.toSeq).toSet
    val streamed = StreamingPipeline.finalizeTriples(spark, outDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == expected,
      s"streamed != batch: only-streamed=${(streamed -- expected).take(3)} " +
        s"only-batch=${(expected -- streamed).take(3)}")
    assert(streamed.nonEmpty, "empty result would be a vacuous pass")

    // the restart processed only wave2's file, and re-running with no new
    // files adds nothing
    val q3 = StreamingPipeline.start(spark, inDir.toString, model, cfg, ckpt,
      maxFilesPerTrigger = 1)
    try q3.processAllAvailable() finally q3.stop()
    val streamedAgain = StreamingPipeline.finalizeTriples(spark, outDir)
      .collect().map(_.toSeq).toSet
    assert(streamedAgain == expected, "idle restart must not change triples")
  }

  test("kill-mid-microbatch replay: same batch_id overwrite is idempotent") {
    // The sharpest edge of the exactly-once claim: a batch whose DATA landed
    // but whose streaming checkpoint COMMIT did not. Simulated
    // deterministically by deleting the last commits/<N> marker — Structured
    // Streaming then re-runs batch N from offsets/<N> (same batchId, same
    // files) on restart. Twice: first with run N's manifest rows in place
    // (the replay must be skipped), then with them removed and run N's
    // partials torn (the replay must clear partials/run_id=N and rewrite it).
    val inDir = Files.createTempDirectory("replay_in")
    val outDir = Files.createTempDirectory("replay_out").toString
    val ckpt = Files.createTempDirectory("replay_ckpt")
    val model = KgTestModel.model(spark)
    val cfg = Pipeline.Config(fixturesDir = "", outDir = outDir, numParts = 8)

    val webpages = spark.read.parquet(s"${SparkKit.sf0001}/webpages.parquet")
    val waveKey = pmod(xxhash64(col("url")), lit(3L))
    (0L until 3L).foreach(k => stage(webpages.filter(waveKey === k), inDir, s"f$k"))

    def runStream(): Unit = {
      val q = StreamingPipeline.start(spark, inDir.toString, model, cfg,
        ckpt.toString, maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
    }
    def triples() = StreamingPipeline.finalizeTriples(spark, outDir).collect().map(_.toSeq).toSet

    runStream()
    val expected = triples()
    assert(expected.nonEmpty)
    val commits = ckpt.resolve("commits")
    val last = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(last >= 2, s"expected >=3 committed batches, got ${last + 1}")
    def dropCommit(): Unit = {
      Files.delete(commits.resolve(last.toString))
      // the local FS keeps a checksum sidecar; a leftover .N.crc fails the
      // replayed commit's rename
      Files.deleteIfExists(commits.resolve(s".$last.crc"))
    }
    // one manifest row per (run_id, part_id), and no new run ids
    def assertCommittedOnce(): Unit = {
      val rows = Checkpoint.manifest(spark, outDir)
      val perKey = rows.groupBy(r => (r.run_id, r.part_id)).values.map(_.size)
      assert(perKey.forall(_ == 1), s"duplicate manifest rows: $rows")
      assert(rows.map(_.run_id).toSet == (0L to last).toSet)
      val runDirs = Files.list(Paths.get(Pipeline.partialsPath(outDir))).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("run_id=")).toSet
      assert(runDirs == (0L to last).map(n => s"run_id=$n").toSet, s"$runDirs")
    }

    // crash after run `last`'s manifest commit: the replay is skipped
    dropCommit()
    runStream()
    assert(triples() == expected, "a skipped replay must not change triples")
    assertCommittedOnce()

    // crash before it: drop run `last`'s manifest file and tear its partials
    dropCommit()
    CrashKit.dropManifestOf(spark, outDir, last)
    val partDir = Paths.get(Pipeline.partialsPath(outDir), s"run_id=$last")
    val torn = Files.list(partDir).filter(_.toString.endsWith(".parquet")).findFirst()
    assert(torn.isPresent, s"no data files under $partDir")
    Files.delete(torn.get())

    runStream()
    val replayed = triples()
    assert(replayed == expected,
      s"replay changed triples: missing=${(expected -- replayed).take(3)} " +
        s"extra=${(replayed -- expected).take(3)}")
    assertCommittedOnce()

    // a fresh checkpointDir would restart batch ids at 0 and skip its new
    // input as replays of the committed runs: refused
    val e = intercept[IllegalArgumentException](StreamingPipeline.start(spark, inDir.toString,
      model, cfg, Files.createTempDirectory("replay_ckpt2").toString))
    assert(e.getMessage.contains("checkpointDir"), e.getMessage)
  }
}
