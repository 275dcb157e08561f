package graft

import graft.kg.{Checkpoint, Pipeline, Stages}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Single-pass lineage (SURVEY.md §2 A14): a checkpointed Pipeline.run must
  * scan the webpages INPUT exactly once — page counts and the present-part
  * commit rule ride marker rows persisted with the partials, not extra input
  * scans (at 100 TB an extra scan is an extra pass over the corpus). */
class LineageSpec extends AnyFunSuite with SharedSpark with AdaptiveSparkPlanHelper {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** One clean run over sf0.001 in 4 parts, shared by the specs that only
    * inspect its output. */
  private lazy val markersOut: String = {
    val out = tmp("lineage-markers")
    Pipeline.run(spark, s"${SparkKit.sf0001}/webpages.parquet",
      Pipeline.Config(SparkKit.sf0001, out, numParts = 4))
    out
  }

  /** Every query of one clean run over sf0.001 in 4 parts, with its function
    * name, shared by the plan specs. */
  private lazy val runQueries: Seq[(String, QueryExecution)] = {
    val dir = SparkKit.sf0001
    queriesOf(Pipeline.run(spark, s"$dir/webpages.parquet",
      Pipeline.Config(dir, tmp("lineage-plan"), numParts = 4)))
  }

  /** Runs `body` and returns every query it ran, with its function name. */
  private def queriesOf(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val total = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        seen.add(f -> qe); total.incrementAndGet()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        total.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      awaitQuietBus(total)
      seen.clear()
      body
      awaitQuietBus(total)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  private def relationsUnder(qe: QueryExecution, dir: String): Seq[HadoopFsRelation] =
    qe.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
            if fs.location.rootPaths.exists(_.toString.stripSuffix("/").endsWith(dir)) => Seq(fs)
        case _ => Nil
      }
    }.flatten

  private def awaitQuietBus(total: AtomicInteger): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (stable < 3 && System.nanoTime() < deadline) {
      val t = total.get()
      if (t == last) stable += 1 else { stable = 0; last = t }
      Thread.sleep(200)
    }
  }

  test("Pipeline.run scans the webpages input exactly once") {
    val dir = SparkKit.sf0001
    val pagesPath = s"$dir/webpages.parquet"
    val out = java.nio.file.Files.createTempDirectory("lineage").toString
    val inputScans = new AtomicInteger(0)
    val total = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      private def hits(qe: QueryExecution): Int =
        qe.analyzed.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation
                if fs.location.rootPaths.exists(_.toString.contains("webpages.parquet")) => 1
            case _ => 0
          }
        }.sum
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        hits(qe) match { case h => inputScans.addAndGet(h) }
        total.incrementAndGet()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        total.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      awaitQuietBus(total) // drain events from earlier suites on the shared session
      inputScans.set(0)
      Pipeline.run(spark, pagesPath, Pipeline.Config(dir, out, numParts = 4))
      awaitQuietBus(total)
      assert(inputScans.get() == 1,
        s"Pipeline.run must read the input exactly once, saw ${inputScans.get()} scans")
    } finally spark.listenerManager.unregister(listener)
  }

  test("page markers: persisted counts equal the in-scope page count per part") {
    val pagesPath = s"${SparkKit.sf0001}/webpages.parquet"
    val out = markersOut

    val partials = spark.read.parquet(Pipeline.partialsPath(out))
    // markers never leak into the merged output
    val triples = spark.read.parquet(Pipeline.triplesPath(out))
    assert(triples.filter(col("subj").isNull).count() == 0L)

    // per-part in-scope marker counts == independent recount of the input
    val markerCounts = partials.filter(col("subj").isNull &&
        col("pred") === Stages.PageMarkerIn)
      .groupBy("part_id").agg(sum("n").as("n_pages"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = spark.read.parquet(pagesPath)
      .filter(col("lang") === "en" && col("html").isNotNull)
      .groupBy(pmod(xxhash64(col("url")), lit(4L)).cast("int").as("part_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(markerCounts == expected, s"$markerCounts != $expected")

    // manifest page totals come from the markers
    val manifest = spark.read.parquet(Checkpoint.manifestPath(out))
    val manifestPages = manifest.select("part_id", "n_pages")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    expected.foreach { case (p, n) => assert(manifestPages(p) == n) }
  }

  test("manifest lineage == an independent two-aggregate recount of the partials") {
    val out = markersOut
    val partials = spark.read.parquet(Pipeline.partialsPath(out))
    // the formula the fused lineage aggregate replaced: page counts from the
    // markers, then triples/evidence/checksum from the relation rows
    val pagesByPart = partials.filter(col("subj").isNull)
      .groupBy(col("part_id"))
      .agg(sum(when(col("pred") === Stages.PageMarkerIn, col("n")).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val byPart = partials.filter(col("subj").isNotNull)
      .groupBy(col("part_id"))
      .agg(count(lit(1)), sum(col("n")),
        bit_xor(xxhash64(col("subj"), col("pred"), col("obj"), col("n"))))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = pagesByPart.map { case (p, pages) =>
      val (t, e, c) = byPart.getOrElse(p, (0L, 0L, 0L))
      p -> (pages, t, e, c)
    }
    import spark.implicits._
    val got = spark.read.parquet(Checkpoint.manifestPath(out)).as[Checkpoint.ManifestRow].collect()
      .map(m => m.part_id -> (m.n_pages, m.n_triples, m.n_evidence, m.checksum)).toMap
    assert(got.size == 4 && expected.size == 4)
    assert(got == expected)
    assert(got.values.map(_._2).sum > 0L, "the recount must cover real triples")
  }

  test("finalize: one shuffle, on bucket; partials listed once; no isEmpty query") {
    val qs = runQueries

    val triplesWrites = qs.map(_._2).filter(_.analyzed.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand
          if w.outputPath.toString.endsWith("/triples") => w
    }.nonEmpty)
    assert(triplesWrites.size == 1, s"expected one triples write, saw ${triplesWrites.size}")
    val shuffles = collect(triplesWrites.head.executedPlan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"finalize must shuffle once:\n${triplesWrites.head.executedPlan}")
    shuffles.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == "bucket")
      case p => fail(s"finalize must hash on bucket, got $p")
    }

    // the lineage aggregate and finalize read the partials through ONE file index
    val overPartials = qs.filter { case (_, qe) => relationsUnder(qe, "/partials").nonEmpty }
    assert(overPartials.size == 2, s"saw ${overPartials.map(_._1)}")
    val indexes = overPartials.flatMap { case (_, qe) => relationsUnder(qe, "/partials") }
      .map(_.location)
    assert(indexes.forall(_ eq indexes.head), "the partials must be listed once")
    overPartials.foreach { case (f, qe) =>
      assert(f != "isEmpty")
      assert(qe.analyzed.collect { case l @ (_: GlobalLimit | _: LocalLimit) => l }.isEmpty,
        s"no limit query over the partials:\n${qe.analyzed}")
    }
  }

  test("partials write: run_id is its only partition column, and it plans no Sort") {
    val writes = runQueries.map(_._2).flatMap(qe => qe.analyzed.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand
          if w.outputPath.toString.endsWith("/partials") => qe -> w
    })
    assert(writes.size == 1, s"expected one partials write, saw ${writes.size}")
    val (qe, w) = writes.head
    assert(w.partitionColumns.map(_.name) == Seq("run_id"))
    val sorts = collect(qe.executedPlan) { case s: SortExec => s }
    assert(sorts.isEmpty, s"a constant run_id partition needs no sort:\n${qe.executedPlan}")
  }

  test("zero-triple run + resume commits a readable table with the usual columns") {
    val dir = SparkKit.sf0001
    val out = tmp("lineage-empty")
    val cfg = Pipeline.Config(dir, out, langs = Seq("xx"), numParts = 4)
    val first = Pipeline.run(spark, s"$dir/webpages.parquet", cfg)
    val resumed = Pipeline.run(spark, s"$dir/webpages.parquet", cfg)
    assert(first.triples == 0L && resumed.triples == 0L)
    assert(resumed.partsProcessed == 0 && resumed.partsSkipped == first.partsProcessed)

    val empty = spark.read.parquet(Pipeline.triplesPath(out))
    val full = spark.read.parquet(Pipeline.triplesPath(markersOut))
    assert(empty.count() == 0L)
    assert(empty.schema.map(f => f.name -> f.dataType) == full.schema.map(f => f.name -> f.dataType))
  }
}
