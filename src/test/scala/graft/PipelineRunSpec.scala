package graft

import graft.kg.{Pipeline, StageMetricsListener}
import org.apache.spark.graftbridge.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** What `Pipeline.run` promises around its dataflow: it leaves the session's
  * conf as it found it, works on a URI-style outDir, rejects a bad config
  * before any Spark job, and unregisters its listener even when it throws. */
class PipelineRunSpec extends AnyFunSuite with SharedSpark {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"run-$tag").toString

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

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
  }

  test("a bad config throws IllegalArgumentException before any Spark job") {
    val dir = SparkKit.sf0001
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
      val bad: Seq[() => Pipeline.Config] = Seq(
        () => Pipeline.Config(dir, tmp("bad"), numParts = 0),
        () => Pipeline.Config(dir, tmp("bad"), numBuckets = 0),
        () => Pipeline.Config(dir, tmp("bad"), langs = Nil))
      bad.foreach { cfg =>
        intercept[IllegalArgumentException](Pipeline.run(spark, s"$dir/webpages.parquet", cfg()))
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

  test("a run that throws unregisters its stage-metrics listener") {
    val dir = SparkKit.sf0001
    val out = tmp("throws")
    intercept[Exception](Pipeline.run(spark, s"$out/no-such-input.parquet",
      Pipeline.Config(dir, out, numParts = 4)))
    assert(ListenerBusProbe.listenersOf[StageMetricsListener](spark.sparkContext).isEmpty)
  }
}
