package graft

import graft.fixtures.Gen
import graft.kg.{KgModel, Pipeline}
import org.apache.spark.sql.SparkSession

/** Scaling benchmark for the north rule (BASELINE.json:2,14): run the full
  * KG pipeline end-to-end (first action → output-table commit) on the same
  * webtext fixture at two parallelism levels and report throughput at both
  * plus efficiency = (thr_4N / thr_N) / 4. No real cluster exists in the
  * sandbox, so cluster sizes N and 4N are substituted by local[cpus] levels
  * (driver-sanctioned, SURVEY.md §0).
  *
  *   sbt "runMain graft.PipelineBench <cpus> <sf> [runs] [p<N>] [stages] [warmsmall]"
  *
  * Prints one JSON line per run plus a median summary; BENCH/BASELINE.md
  * aggregates the two levels.
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.length > 0) args(0).toInt else 32
    val sf = if (args.length > 1) args(1).toDouble else 0.1
    val runs = if (args.length > 2) args(2).toInt else 3
    val flags = args.drop(3).toSet
    // "p<N>": fix the partition count P (default 4*cpus). For an N-vs-4N
    // scaling pair BOTH legs must run the SAME job — same P — exactly as the
    // same application would on clusters of two sizes; letting P follow the
    // leg's thread count (the round-1/2 protocol) compares two slightly
    // different jobs and flatters the small leg (fewer partitions = less
    // per-partition overhead).
    val partsOverride = flags.collectFirst { case f if f.matches("p\\d+") => f.drop(1).toInt }
    // "stages": per-stage wall vs summed task time — shows where a leg's
    // cores idle (ragged tails, serial phases) without the Spark UI
    val logStages = flags.contains("stages")
    // "warmsmall": run the untimed warmup on the sf8 fixture instead of the
    // full input — JIT/codegen/parquet-footer warmup needs invocations, not
    // volume (4M pages is plenty), and the full-size warmup was more than
    // half of every small-leg sampling cost (sampler economics: a 2-core
    // sf64 leg drops from ~34 to ~19 min, so the interleaved pair is far
    // more likely to land inside one host-speed window)
    val warmSmall = flags.contains("warmsmall")
    val fixDir = s"/root/repo/fixtures/sf$sf"

    // SPARK_GRAFT_MASTER overrides local[cpus] — used to run the same bench
    // against a standalone multi-executor cluster via spark-submit (the
    // north rule's own wording: N vs 4N EXECUTORS); `cpus` then only labels
    // the output row with the cluster's total core count.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"graft-pipeline-bench-$cpus")
      // same job at both parallelism levels: when P is pinned (p<N> flag),
      // the agg/merge exchanges use it too — shuffle.partitions must not
      // follow the leg's thread count or the legs run different plans
      .config("spark.sql.shuffle.partitions",
        partsOverride.getOrElse(cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // keep phase-1 canonicalization a REAL hash agg (see graft.Main — the
      // 128-key default silently degrades ObjectHashAggregate to sort)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // 32 MB input splits: the sf16 fixture is ~2.8 GB, which the 128 MB
      // default cuts into ~22 splits — idling a third of a 32-thread leg
      // through the whole scan stage. Sizing splits to the job (brief: "size
      // spark.sql.files.maxPartitionBytes so partitions fit … at the target
      // SF") keeps every leg's scan stage fully parallel.
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (logStages) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wallMs = (for { s <- i.submissionTime; c <- i.completionTime }
            yield c - s).getOrElse(-1L)
          val taskMs = i.taskMetrics.executorRunTime
          val gcMs = i.taskMetrics.jvmGCTime
          val cpuMs = i.taskMetrics.executorCpuTime / 1000000
          println(f"""{"stage":${i.stageId},"name":"${i.name.takeWhile(_ != ' ')}","tasks":${i.numTasks},"wall_ms":$wallMs,"task_ms":$taskMs,"cpu_ms":$cpuMs,"gc_ms":$gcMs,"par":${if (wallMs > 0) taskMs.toDouble / wallMs else -1}%.1f}""")
        }
      })

    Gen.generate(spark, fixDir, Gen.pageCount(sf)) // idempotent
    val model = KgModel.load(spark, fixDir)
    val webpages = spark.read.parquet(s"$fixDir/webpages.parquet")
    val nPages = webpages.count() // warm file listing/footers out of the timed path

    val parts = partsOverride.getOrElse(math.max(4 * cpus, 32))
    var triplesOut = 0L
    // /proc/stat accounting per run: on this shared VM the hypervisor steals
    // a time-varying share of the 32 vCPUs (measured up to ~25%+); recording
    // busy vs stolen core-seconds per run turns host noise into explained
    // variance (see BENCH/BASELINE.md round-2 scaling analysis)
    def cpuTicks(): (Long, Long, Long) = {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user+nice+system = busy; field 5 = iowait; field 8 = steal
      (f(0) + f(1) + f(2), f(4), if (f.length > 7) f(7) else 0L)
    }
    def oneRun(r: Int, timed: Boolean,
               input: org.apache.spark.sql.DataFrame = webpages): Double = {
      val out = java.nio.file.Files.createTempDirectory(s"bench-$cpus-$r").toString
      val (busy0, iow0, steal0) = cpuTicks()
      val t0 = System.nanoTime()
      val triples = Pipeline.triples(spark, input, model,
        Pipeline.Config(fixDir, out, numParts = parts))
      triples.write.mode("overwrite").parquet(s"$out/triples")
      val sec = (System.nanoTime() - t0) / 1e9
      val (busy1, iow1, steal1) = cpuTicks()
      val busyCores = (busy1 - busy0) / 100.0 / sec   // avg busy cores (whole VM)
      val iowCores = (iow1 - iow0) / 100.0 / sec       // avg cores blocked on I/O
      val stealCores = (steal1 - steal0) / 100.0 / sec // avg cores stolen by host
      val n = spark.read.parquet(s"$out/triples").count()
      triplesOut = n
      if (timed)
        println(f"""{"bench":"pipeline","cpus":$cpus,"sf":$sf,"run":$r,"pages":$nPages,"triples":$n,"sec":$sec%.3f,"triples_per_sec":${n / sec}%.1f,"busy_cores":$busyCores%.1f,"iowait_cores":$iowCores%.1f,"steal_cores":$stealCores%.1f}""")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      sec
    }
    val warmInput = if (warmSmall && sf > 8.0) {
      val smallDir = "/root/repo/fixtures/sf8.0"
      Gen.generate(spark, smallDir, Gen.pageCount(8.0)) // idempotent
      spark.read.parquet(s"$smallDir/webpages.parquet")
    } else webpages
    oneRun(0, timed = false, warmInput) // warmup: JIT + codegen compile excluded
    val secs = (1 to runs).map(oneRun(_, timed = true))
    val med = secs.sorted.apply((secs.length - 1) / 2)
    println(f"""{"bench":"pipeline-median","cpus":$cpus,"sf":$sf,"pages":$nPages,"triples":$triplesOut,"median_sec":$med%.3f,"triples_per_sec":${triplesOut / med}%.1f}""")
    spark.stop()
  }
}
