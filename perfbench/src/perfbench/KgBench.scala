package perfbench

import graft.fixtures.Gen
import graft.kg.{Checkpoint, KgModel, Pipeline, Stages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Host._

/** kg_clean and kg_resume: the shipped checkpointed `Pipeline.run`.
  *
  * Input: `Gen.webpagesDF` over doc ids [seed*Stride, seed*Stride + pages),
  * with `Gen.goldDF` over the same range as the gold set; the model fixtures
  * come from `Gen.generate` (independent of the seed). Every run generates
  * them afresh under `<work>/inputs`, in the benchmark JVM before the timed
  * set-up, so every run starts from the same state.
  *
  * kg_clean times `Pipeline.run` on a fresh outDir. kg_resume restores,
  * before every iteration, an outDir in which `CrashParts` of `Parts` parts
  * are committed — made once by an untimed run over the input restricted to
  * those parts (the crash model of the repo's resume spec) — and times the
  * run that computes the rest and finalizes all parts. */
final class KgBench(spark: SparkSession, o: Main.Opts) {
  import KgBench._

  private val resume = o.workload == "kg_resume"
  private val inDir = s"${o.work}/inputs"
  private val modelDir = s"$inDir/model"
  private val pagesPath = s"$inDir/webpages.parquet"
  private val crashPath = s"$inDir/crash.parquet"
  private val goldPath = s"$inDir/gold.parquet"
  private val runsDir = s"${o.work}/runs"
  private def cfg(out: String) = Pipeline.Config(modelDir, out, numParts = Parts)

  private def partId(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(Parts.toLong)).cast("int")

  /** Generates the inputs; returns the generation time in s. */
  private def generate(): Double = {
    deleteDir(inDir)
    val t0 = System.nanoTime()
    Gen.generate(spark, modelDir, 50L)
    val from = o.seed * Stride
    Gen.webpagesDF(spark, from, from + o.pages).write.parquet(pagesPath)
    Gen.goldDF(spark, from, from + o.pages).write.parquet(goldPath)
    // kg_resume's crash model: the input restricted to the first CrashParts parts
    if (resume)
      spark.read.parquet(pagesPath).filter(partId(col("url")) < CrashParts).write.parquet(crashPath)
    (System.nanoTime() - t0) / 1e9
  }

  /** Triple-table fingerprint plus precision/recall against the gold set. */
  private final case class Outcome(rows: Long, checksum: Long, p: Double, r: Double)

  private def inspect(out: String): Outcome = {
    val key = Seq("subj", "pred", "obj")
    val e = spark.read.parquet(Pipeline.triplesPath(out))
      .select(key.map(col) :+ xxhash64(col("subj"), col("pred"), col("obj"),
        col("n_evidence"), col("score"), col("first_url")).as("_h"): _*)
    val g = spark.read.parquet(goldPath).select(key.map(col): _*).withColumn("_g", lit(1))
    val r = e.join(g, key, "full_outer")
      .agg(count(col("_h")), bit_xor(col("_h")), count(col("_g")),
        count(when(col("_h").isNotNull && col("_g").isNotNull, 1))).head()
    val (ne, ng, tp) = (r.getLong(0), r.getLong(2), r.getLong(3))
    Outcome(ne, r.getLong(1), if (ne == 0) 0.0 else tp.toDouble / ne,
      if (ng == 0) 0.0 else tp.toDouble / ng)
  }

  private def checkOutcome(out: String, want: Outcome): Option[String] = {
    val got = inspect(out)
    if (got.p < MinPR || got.r < MinPR) Some(f"P=${got.p}%.4f R=${got.r}%.4f below $MinPR")
    else if (got.checksum != want.checksum || got.rows != want.rows)
      Some(s"triples (rows ${got.rows}, checksum ${got.checksum}) != expected " +
        s"(rows ${want.rows}, checksum ${want.checksum})")
    else None
  }

  def run(sessionS: Double): Result = {
    val res = new Result
    val genS = generate()
    res.put("bench.gen_s", genS, "s")
    deleteDir(runsDir)

    // setup: fixture/model load, input table open, one cold clean run
    val t0 = System.nanoTime()
    KgModel.load(spark, modelDir).destroy()
    val nPages = spark.read.parquet(pagesPath).count()
    val coldOut = s"$runsDir/cold"
    val cold = Pipeline.run(spark, pagesPath, cfg(coldOut))
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9

    val clean = inspect(coldOut)
    System.err.println(s"[perfbench] pages=$nPages in_scope=${cold.pages} triples=${clean.rows} " +
      f"P=${clean.p}%.4f R=${clean.r}%.4f checksum=${clean.checksum} setup_s=$setupS%.2f gen_s=$genS%.2f")
    if (clean.p < MinPR || clean.r < MinPR) res.fail(f"cold run P=${clean.p}%.4f R=${clean.r}%.4f")
    deleteDir(coldOut)
    val want = o.expectChecksum.fold(clean)(c => clean.copy(checksum = c))

    // kg_resume: the crashed state every iteration starts from
    val base = s"$runsDir/crashed"
    val (todo, crashPages) =
      if (!resume) ((0 until Parts), 0L)
      else {
        val st = Pipeline.run(spark, crashPath, cfg(base))
        val committed = Checkpoint.committedParts(spark, base)
        if (committed != (0 until CrashParts).toSet)
          res.fail(s"crash run committed ${committed.size} parts, expected $CrashParts")
        ((CrashParts until Parts), st.pages)
      }
    val pagesProcessed = if (!resume) nPages else nPages - spark.read.parquet(crashPath).count()

    var last: Pipeline.RunStats = null
    def out(i: Int) = s"$runsDir/it$i"
    def prepare(i: Int): Unit = if (resume) copyDir(base, out(i))
    def body(i: Int): Unit = last = Pipeline.run(spark, pagesPath, cfg(out(i)))
    def check(i: Int): Option[String] =
      try {
        val wantParts = (todo.size, Parts - todo.size)
        if ((last.partsProcessed, last.partsSkipped) != wantParts)
          Some(s"parts ${last.partsProcessed}+${last.partsSkipped} != ${wantParts._1}+${wantParts._2}")
        else if (last.pages != cold.pages - crashPages)
          Some(s"pages ${last.pages} != ${cold.pages - crashPages}")
        else checkOutcome(out(i), want)
      } finally {
        if (i == 0 && o.trace) {
          res.put("partials_write.mb", dirMb(Pipeline.partialsPath(out(i))), "MB")
          res.put("finalize.mb", dirMb(Pipeline.triplesPath(out(i))), "MB")
        }
        deleteDir(out(i))
      }

    // the run after the cold one is still compiling hot code (CPU time per
    // run falls by a third over the first three): run it, check it, but do
    // not time it
    loop(res, o.workload + " warmup", 0, Warmups)(prepare)(body)(check)

    if (!o.trace) {
      val iters = loop(res, o.workload, o.seconds, MinIters)(prepare)(body)(check)
      putEndToEnd(res, setupS, iters, nPages)
      putHost(res, iters)
    } else {
      // the noop-sink prefix ladder, the row counts of each layer, the ops
      // family and direct model loads run traced first: they leave the JIT
      // warmer for what follows. Then pairs of one untraced and one traced
      // iteration, in alternating order (U T, T U, U T), so that the warm-up
      // still under way cancels out of the pairwise differences
      // (trace.overhead_s, the median difference)
      val tracer = new Tracer(spark)
      tracer.attach()
      val model = KgModel.load(spark, modelDir)
      val ladderBench = new Ladder(spark, tracer, model, pagesPath, todo)
      val ladder = ladderBench.run(res)
      // the graft.ops layer rides on kg_clean's traced run (README: why
      // ops_dedup is not a workload of its own)
      val ops = if (!resume) Some(new OpsBench(spark, tracer, o.work, o.opsData, o.breakQuery))
        else None
      ops.foreach(_.run(res))
      val loads = (0 until 3).map { _ =>
        val t = System.nanoTime(); KgModel.load(spark, modelDir).destroy(); (System.nanoTime() - t) / 1e9
      }
      res.put("model_load.s", Host.median(loads), "s")
      tracer.detach()

      def traced(i: Int) = (i % 2 == 1) != ((i / 2) % 2 == 1)
      var gcS = Vector.empty[Double]
      val iters = loop(res, o.workload, o.seconds / 2.0, TracedPairs * 2)(prepare) { i =>
        if (!traced(i)) body(i)
        else {
          tracer.attach()
          val g0 = gcMs()
          tracer.span("pipeline.run")(body(i))
          gcS :+= (gcMs() - g0) / 1000.0
          tracer.detach()
        }
      }(check)
      val overheads = iters.groupBy(_.index / 2).values.collect {
        case Seq(x, y) => if (traced(x.index)) x.wallS - y.wallS else y.wallS - x.wallS
      }
      ladderBench.putTrace(res)
      new RunTrace(tracer, res).put(ladder, Host.median(gcS))
      ops.foreach { b => b.putTrace(res); res.opsDirs = Some((b.inDir, b.outDir)) }
      res.put("trace.overhead_s", Host.median(overheads.toSeq), "s")
      putHost(res, iters)
      res.put("finalize.rows", clean.rows, "rows")
      res.put("scan.pages_read", nPages, "pages")
      res.put("resume.scan_ratio", nPages.toDouble / pagesProcessed, "ratio")
    }
    res
  }
}

object KgBench {
  /** Doc-id stride between seeds: seeds select disjoint ranges. */
  val Stride = 10000000L
  val DefaultPages = 20000L
  val Parts = 64
  val CrashParts = 48
  val MinPR = 0.95
  val MinIters = 3
  val Warmups = 1
  /** Untraced/traced iteration pairs of a traced run (at least). */
  val TracedPairs = 3
}

/** The noop-sink prefix ladder over the same dataflow `Pipeline.run`
  * builds: scan → exchange → extract_text → split_sentences →
  * tokenize_lower → relations_gen → triples_agg. A layer's self time is the
  * median time of its prefix minus the median of the previous prefix. */
final class Ladder(spark: SparkSession, tracer: Tracer,
                   model: org.apache.spark.broadcast.Broadcast[KgModel],
                   pagesPath: String, todo: Seq[Int]) {
  val Layers = Seq("scan", "exchange", "extract_text", "split_sentences",
    "tokenize_lower", "relations_gen", "triples_agg")
  val Reps = 3

  private def prefixes(acc: Option[(org.apache.spark.util.LongAccumulator,
      org.apache.spark.util.LongAccumulator)]): Seq[DataFrame] = {
    val pages = spark.read.parquet(pagesPath)
    val scan = pages.select("url", "html", "lang")
    val exch = Stages.partitionedAll(pages, Seq("en"), KgBench.Parts, repartitionInput = true)
      .filter(col("part_id").isin(todo: _*))
    val text = Stages.pageText(exch)
    val sents = Stages.sentencesOuter(text)
    val toks = Stages.tokenized(sents)
    val rels = Stages.relations(toks, model, acc.map(_._1), acc.map(_._2), "scan",
      pageMarkers = true)
    Seq(scan, exch, text, sents, toks, rels, Stages.partialTriples(rels))
  }

  /** Shuffle written by the exchange prefix (read after the tracer detached). */
  def putTrace(res: Result): Unit = {
    val exch = tracer.benchSpans.filter(_.name == "ladder.exchange")
    val exchMb = exch.map(b => tracer.sqlIn(b).flatMap(s => tracer.stagesOf(s.id))
      .map(_.shuffleWriteB).sum / 1e6)
    res.put("exchange.shuffle_mb", Host.median(exchMb), "MB")
  }

  /** Returns the median time of each full prefix (by layer name). */
  def run(res: Result): Map[String, Double] = {
    val sc = spark.sparkContext
    val times = Layers.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (_ <- 0 until Reps; (layer, df) <- Layers.zip(prefixes(None))) {
      val t0 = System.nanoTime()
      tracer.span(s"ladder.$layer")(df.write.format("noop").mode("overwrite").save())
      times(layer) += (System.nanoTime() - t0) / 1e9
    }
    val med = Layers.map(l => l -> Host.median(times(l).toSeq)).toMap
    Layers.zip(0.0 +: Layers.map(med)).foreach { case (l, prev) =>
      res.put(s"$l.self_s", med(l) - prev, "s")
    }
    // layer row counts: one untimed pass per counted prefix
    val acc = (sc.longAccumulator("mentions"), sc.longAccumulator("candidates"))
    val ps = prefixes(Some(acc))
    val mentionsIn = Ladder.mentionCount(model)
    val sentRow = ps(4).agg(count(col("sent")), max(mentionsIn(col("tokens")))).head()
    val relRows = ps(5).filter(col("subj").isNotNull).count()
    // a fresh plan: this pass re-runs relations_gen, which must not count twice
    val aggRows = prefixes(None)(6).filter(col("subj").isNotNull).count()
    res.put("split_sentences.rows", sentRow.getLong(0), "rows")
    res.put("relations_gen.mentions_per_sentence_max", sentRow.getInt(1), "mentions")
    res.put("relations_gen.mentions", acc._1.value.toDouble, "mentions")
    res.put("relations_gen.candidates", acc._2.value.toDouble, "pairs")
    res.put("relations_gen.rows", relRows, "rows")
    res.put("relations_gen.yield", relRows.toDouble / math.max(1L, acc._2.value), "ratio")
    res.put("triples_agg.rows", aggRows, "rows")
    res.put("triples_agg.reduction", aggRows.toDouble / math.max(1L, relRows), "ratio")
    med
  }
}

object Ladder {
  /** Mentions the dictionary scan finds in one sentence's tokens. */
  def mentionCount(model: org.apache.spark.broadcast.Broadcast[KgModel]) =
    udf((t: Seq[String]) => if (t == null) 0 else model.value.scanMentions(t.toIndexedSeq).length)
}

/** Splits each traced `Pipeline.run` into its layers by the SQL executions
  * it issued: model load, checkpoint lineage (manifest read, marker and
  * per-part collects), partials write, manifest commit, finalize (merge,
  * bucketed write, count). A SQL span runs from the query's first planning
  * phase to the end of its execution. A job outside any SQL execution is a
  * table open (driver-side listing, then a schema-inference or parallel
  * listing job); it belongs to the layer of the next query. The rest of the
  * run's wall time is the driver gap. */
final class RunTrace(tracer: Tracer, res: Result) {
  private def kind(s: Tracer.SqlSpan): String = {
    def ends(ps: Seq[String], suffix: String) = ps.exists(_.stripSuffix("/").endsWith(suffix))
    if (ends(s.writes, "/partials")) "partials_write"
    else if (ends(s.writes, "/_manifest")) "checkpoint.manifest"
    else if (ends(s.writes, "/triples")) "finalize"
    else if (ends(s.reads, "/_manifest")) "checkpoint.lineage"
    else if (ends(s.reads, "/triples")) "finalize"
    else if (ends(s.reads, "/partials")) (if (s.func == "isEmpty") "finalize" else "checkpoint.lineage")
    else if (Seq("entity_dict", "predicates", "weights", "model_meta")
      .exists(n => ends(s.reads, s"/$n.parquet"))) "model_load"
    else "other"
  }

  /** Total length in s of the union of [start, end] ms intervals. */
  private def covered(iv: Seq[(Long, Long)]): Double =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
      if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
    }._1 / 1000.0

  def put(ladder: Map[String, Double], gcS: Double): Unit = {
    val runs = tracer.benchSpans.filter(_.name == "pipeline.run")
    val per = runs.map { b =>
      val wall = (b.endMs - b.startMs) / 1000.0
      val sql = tracer.sqlIn(b)
      // a bare job opens a table (schema inference or partition listing);
      // its span starts where the driver began the open, i.e. at the end of
      // the span before it
      val bare = tracer.bareJobsIn(b)
      val ends = (sql.map(_.endMs) ++ bare.map(_.endMs) :+ b.startMs).sorted
      val jobs = bare.map { j =>
        val opened = ends.filter(_ <= j.startMs).max
        (j.copy(startMs = opened), sql.find(_.startMs >= j.startMs).map(kind).getOrElse("other"))
      }
      val spans = sql.map(s => (kind(s), (s.startMs, s.endMs))) ++
        jobs.map { case (j, k) => (k, (j.startMs, j.endMs)) }
      val byKind = spans.groupBy(_._1).map { case (k, iv) => k -> covered(iv.map(_._2)) }
      def stagesOf(k: String) = sql.filter(kind(_) == k).flatMap(s => tracer.stagesOf(s.id))
      val partialStages = stagesOf("partials_write")
      val skew = partialStages.filter(_.taskMs.nonEmpty).maxByOption(_.runMs).map { st =>
        st.taskMs.max.toDouble / math.max(1.0, Host.median(st.taskMs.map(_.toDouble)))
      }.getOrElse(Double.NaN)
      Map(
        "wall" -> wall,
        "partials" -> byKind.getOrElse("partials_write", 0.0),
        "lineage" -> byKind.getOrElse("checkpoint.lineage", 0.0),
        "manifest" -> byKind.getOrElse("checkpoint.manifest", 0.0),
        "finalize" -> byKind.getOrElse("finalize", 0.0),
        "model" -> byKind.getOrElse("model_load", 0.0),
        "other" -> byKind.getOrElse("other", 0.0),
        "gap" -> (wall - covered(spans.map(_._2))),
        "coverage" -> covered(spans.filter(_._1 != "other").map(_._2)) / wall,
        "ckjobs" -> (sql.filter(kind(_).startsWith("checkpoint"))
          .map(s => tracer.jobsOfSql(s.id)).sum + jobs.count(_._2.startsWith("checkpoint"))).toDouble,
        "jobs" -> tracer.jobsIn(b).toDouble,
        "fin_shuffle" -> stagesOf("finalize").map(_.shuffleWriteB).sum / 1e6,
        "spill" -> sql.flatMap(s => tracer.stagesOf(s.id)).map(_.spillB).sum / 1e6,
        "skew" -> skew)
    }
    def m(k: String) = Host.median(per.map(_(k)))
    res.put("partials_write.s", m("partials") - ladder("triples_agg"), "s")
    res.put("checkpoint.lineage_s", m("lineage"), "s")
    res.put("checkpoint.manifest_s", m("manifest"), "s")
    res.put("checkpoint.jobs", m("ckjobs"), "jobs")
    res.put("finalize.s", m("finalize"), "s")
    res.put("finalize.shuffle_mb", m("fin_shuffle"), "MB")
    res.put("run.driver_gap_s", m("gap"), "s")
    res.put("run.jobs", m("jobs"), "jobs")
    res.put("run.gc_s", gcS, "s")
    res.put("run.spill_mb", m("spill"), "MB")
    res.put("run.task_skew", m("skew"), "ratio")
    res.put("trace.coverage", m("coverage"), "ratio")
    System.err.println("[perfbench] traced run split (median s): " +
      Seq("wall", "model", "lineage", "partials", "manifest", "finalize", "other", "gap")
        .map(k => f"$k=${m(k)}%.3f").mkString(" "))
  }
}
