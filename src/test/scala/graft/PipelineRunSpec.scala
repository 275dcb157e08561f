package graft

import graft.kg.{Pipeline, StageMetricsListener}
import org.apache.spark.graftbridge.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** What `Pipeline.run` promises around its dataflow: it leaves the session's
  * conf as it found it, works on a URI-style outDir, rejects a bad config —
  * or a resume that is not the same run — before any Spark job, and
  * unregisters its listener even when it throws. */
class PipelineRunSpec extends AnyFunSuite with SharedSpark {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"run-$tag").toString

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

  /** An outDir in which a run over half the input (parts 0–1 of 4) has
    * committed; parts 2–3 are left to compute. */
  private lazy val halfDone: String = {
    val dir = SparkKit.sf0001
    val half = tmp("half-input")
    spark.read.parquet(s"$dir/webpages.parquet")
      .filter(pmod(xxhash64(col("url")), lit(4L)) < 2).write.mode("overwrite").parquet(half)
    val out = tmp("half")
    Pipeline.run(spark, half, Pipeline.Config(dir, out, numParts = 4))
    out
  }

  test("Pipeline.run does not change the session's partitionOverwriteMode") {
    val dir = SparkKit.sf0001
    spark.conf.set(OverwriteMode, "static")
    Pipeline.run(spark, s"$dir/webpages.parquet",
      Pipeline.Config(dir, tmp("conf"), numParts = 4))
    assert(spark.conf.get(OverwriteMode).equalsIgnoreCase("static"))
  }

  test("file:// outDir: clean run + resume append two run lines to metrics.jsonl") {
    val dir = SparkKit.sf0001
    val local = tmp("uri")
    val cfg = Pipeline.Config(dir, s"file://$local", numParts = 4)
    val clean = Pipeline.run(spark, s"$dir/webpages.parquet", cfg)
    val resumed = Pipeline.run(spark, s"$dir/webpages.parquet", cfg)
    assert(clean.partsProcessed == 4 && resumed.partsSkipped == 4)
    assert(resumed.triples == clean.triples && clean.triples > 0L)

    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$local/metrics.jsonl")).toArray.map(_.toString)
    val runs = lines.filter(_.startsWith("{\"parts_processed\""))
    assert(runs.length == 2, lines.mkString("\n"))
    assert(runs(0).startsWith("{\"parts_processed\":4,\"parts_skipped\":0,"))
    assert(runs(1).startsWith("{\"parts_processed\":0,\"parts_skipped\":4,"))
    // run_id joins a run's line to its _manifest rows
    assert(runs(0).endsWith(",\"run_id\":0}") && runs(1).endsWith(",\"run_id\":null}"))
  }

  test("a bad config throws IllegalArgumentException before any Spark job") {
    val dir = SparkKit.sf0001
    val resumed = halfDone
    // an outDir of the older partials/part_id= layout: a _manifest, no _run_spec
    val oldLayout = tmp("old-layout")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(oldLayout, "_manifest"))
    // ... and one whose first run crashed before its manifest commit
    val oldTorn = tmp("old-torn")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(oldTorn, "partials", "part_id=0"))
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val barrier = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("bad-config") => jobs.incrementAndGet()
          case Some("bad-config-barrier") => barrier.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bad-config", "bad config")
      // each with the fragments its message must name
      val bad: Seq[(() => Pipeline.Config, Seq[String])] = Seq(
        (() => Pipeline.Config(dir, tmp("bad"), numParts = 0), Nil),
        (() => Pipeline.Config(dir, tmp("bad"), numBuckets = 0), Nil),
        (() => Pipeline.Config(dir, tmp("bad"), langs = Nil), Nil),
        // a resume that is not the same run
        (() => Pipeline.Config(dir, resumed, numParts = 8), Seq("numParts=4", "numParts=8")),
        (() => Pipeline.Config(dir, resumed, langs = Seq("en", "de"), numParts = 4),
          Seq("langs=en", "langs=de,en")),
        (() => Pipeline.Config(dir, oldLayout, numParts = 4), Seq("_run_spec", "fresh outDir")),
        (() => Pipeline.Config(dir, oldTorn, numParts = 4), Seq("_run_spec", "fresh outDir")))
      bad.foreach { case (cfg, names) =>
        val e = intercept[IllegalArgumentException](
          Pipeline.run(spark, s"$dir/webpages.parquet", cfg()))
        names.foreach(n => assert(e.getMessage.contains(n), e.getMessage))
      }
      // events reach a listener in order: once the barrier job is seen, every
      // job the bad runs could have started has been counted
      sc.setJobGroup("bad-config-barrier", "barrier")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (barrier.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(barrier.get() > 0, "barrier job never reached the listener")
      assert(jobs.get() == 0, s"a bad config started ${jobs.get()} jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a resume with another model throws once the model is loaded, before the input is read") {
    val dir = SparkKit.sf0001
    val other = tmp("model")
    Seq("entity_dict", "predicates", "weights").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").write.parquet(s"$other/$t.parquet")
    }
    spark.read.parquet(s"$dir/model_meta.parquet").withColumn("tau", col("tau") + 1.0)
      .write.parquet(s"$other/model_meta.parquet")
    // parts are left to compute, so reading the missing input would throw
    // an AnalysisException instead
    val e = intercept[IllegalArgumentException](Pipeline.run(spark,
      s"$other/no-such-input.parquet", Pipeline.Config(other, halfDone, numParts = 4)))
    assert(e.getMessage.contains("model="), e.getMessage)
  }

  test("a resume may change numBuckets: it gives the clean table") {
    val dir = SparkKit.sf0001
    val cfg = Pipeline.Config(dir, halfDone, numParts = 4, numBuckets = 3)
    val resumed = Pipeline.run(spark, s"$dir/webpages.parquet", cfg)
    assert(resumed.partsProcessed == 2 && resumed.partsSkipped == 2)
    val clean = tmp("buckets")
    Pipeline.run(spark, s"$dir/webpages.parquet", cfg.copy(outDir = clean))
    val a = spark.read.parquet(Pipeline.triplesPath(halfDone))
    val b = spark.read.parquet(Pipeline.triplesPath(clean))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() > 0L)
    assert(a.select("bucket").distinct().count() == 3L)
  }

  test("a run that throws unregisters its stage-metrics listener") {
    val dir = SparkKit.sf0001
    val out = tmp("throws")
    intercept[Exception](Pipeline.run(spark, s"$out/no-such-input.parquet",
      Pipeline.Config(dir, out, numParts = 4)))
    assert(ListenerBusProbe.listenersOf[StageMetricsListener](spark.sparkContext).isEmpty)
  }
}
