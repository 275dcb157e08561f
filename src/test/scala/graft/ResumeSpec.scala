package graft

import graft.kg.{Checkpoint, Pipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checkpoint/resume semantics (SURVEY.md §2 A13, §5.2 ResumeSpec):
  * an interrupted run (simulated as a run that only saw part of the input)
  * plus a resumed run produce exactly the clean run's final table, and no
  * partition is processed twice. */
class ResumeSpec extends AnyFunSuite with SharedSpark {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"resume-$tag").toString

  private lazy val dir = SparkKit.sf0001
  private lazy val pagesPath = s"$dir/webpages.parquet"
  private val P = 8
  private val cols = Seq("subj", "pred", "obj", "score", "n_evidence", "first_url")

  /** The clean run's final table. */
  private lazy val clean = {
    val out = tmp("clean")
    Pipeline.run(spark, pagesPath, Pipeline.Config(dir, out, numParts = P))
    spark.read.parquet(Pipeline.triplesPath(out)).select(cols.map(col): _*)
  }

  /** The input of a "crashed" run: the pipeline only saw the pages of parts
    * 0..3 before dying. */
  private lazy val firstHalf = {
    val in = tmp("input-half")
    spark.read.parquet(pagesPath)
      .filter(pmod(xxhash64(col("url")), lit(P.toLong)).cast("int") < 4)
      .write.mode("overwrite").parquet(in)
    in
  }

  private def assertClean(out: String): Unit = {
    val b = spark.read.parquet(Pipeline.triplesPath(out)).select(cols.map(col): _*)
    assert(clean.exceptAll(b).isEmpty && b.exceptAll(clean).isEmpty,
      "resumed final table must equal the clean run")
  }

  test("interrupted + resumed run == clean run; no partition reprocessed") {
    val outR = tmp("resumed")
    Pipeline.run(spark, firstHalf, Pipeline.Config(dir, outR, numParts = P))
    val committedAfterCrash = Checkpoint.committedParts(spark, outR)
    assert(committedAfterCrash.nonEmpty && committedAfterCrash.forall(_ < 4))

    // resume with the full input
    val stats = Pipeline.run(spark, pagesPath, Pipeline.Config(dir, outR, numParts = P))
    assert(stats.partsSkipped == committedAfterCrash.size,
      "committed partitions must not be reprocessed")

    assertClean(outR)

    // manifest lineage: exactly one row per part, pages add up
    val manifest = spark.read.parquet(Checkpoint.manifestPath(outR))
    import spark.implicits._
    val perPart = manifest.groupBy("part_id").count().as[(Int, Long)].collect().toMap
    assert(perPart.values.forall(_ == 1L), s"duplicate manifest rows: $perPart")
    val totalPages = manifest.agg(sum("n_pages")).as[Long].head()
    val expectedPages = spark.read.parquet(pagesPath).filter(col("lang") === "en").count()
    assert(totalPages == expectedPages)
  }

  test("a run that crashed in or after its partials write, before its manifest commit, is redone") {
    val out = tmp("torn")
    val cfg = Pipeline.Config(dir, out, numParts = P)
    Pipeline.run(spark, firstHalf, cfg) // run 0
    val committedAfterCrash = Checkpoint.committedParts(spark, out)
    Pipeline.run(spark, pagesPath, cfg) // run 1
    // what crashes before run 1's commit leave: its manifest file as a
    // committed task of a killed manifest job, one partials file as a
    // committed task of a killed write job, and a torn run directory
    CrashKit.dropManifestOf(spark, out, 1L, asCommittedTask = true)
    val root = Paths.get(Pipeline.partialsPath(out))
    val runDir = root.resolve("run_id=1")
    val files = Files.list(runDir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.size >= 2, s"run 1 wrote too few files to tear: $files")
    CrashKit.toCommittedTask(root, files.head)
    assert(Checkpoint.committedParts(spark, out) == committedAfterCrash)

    // the next run takes run_id 1 again, clears all of that and commits
    // each remaining part once
    val stats = Pipeline.run(spark, pagesPath, cfg)
    assert(stats.partsProcessed == P - committedAfterCrash.size)
    val manifest = Checkpoint.manifest(spark, out)
    assert(manifest.map(_.run_id).toSet == Set(0L, 1L))
    assert(manifest.groupBy(_.part_id).values.forall(_.size == 1), s"duplicate rows: $manifest")
    assertClean(out)
  }

  test("run over input with zero in-scope pages commits a valid empty table") {
    val out = tmp("empty")
    val stats = Pipeline.run(spark, s"$dir/webpages.parquet",
      Pipeline.Config(dir, out, langs = Seq("xx"), numParts = 4))
    assert(stats.triples == 0L)
    assert(new java.io.File(s"${Pipeline.triplesPath(out)}/_SUCCESS").exists(),
      "empty run must still commit the output table")
  }
}
