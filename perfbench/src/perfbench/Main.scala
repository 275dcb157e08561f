package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Benchmark JVM entry point; run through `perfbench/run.py`, which builds
  * this package together with the program's sources and then invokes
  *
  *   perfbench.Main --workload <kg_clean|kg_resume> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --ops-data <dir>
  *     [--pages <n>] [--expect-checksum <long>] [--break-query <name>]
  *
  * It prints one `PERFBENCH {json}` line with the correctness verdict, the
  * attempted/failed iteration counts and the metrics of the chosen mode. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, opsData: String, pages: Long,
                        expectChecksum: Option[Long], breakQuery: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toInt,
      trace = kv.getOrElse("trace", "0") == "1", work = kv("work"), opsData = kv("ops-data"),
      pages = kv.get("pages").map(_.toLong).getOrElse(KgBench.DefaultPages),
      expectChecksum = kv.get("expect-checksum").map(_.toLong),
      breakQuery = kv.get("break-query"))
    require(Set("kg_clean", "kg_resume")(o.workload), s"unknown workload ${o.workload}")

    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val res =
      try new KgBench(spark, o).run(sessionS)
      finally spark.stop()
    println("PERFBENCH " + res.json)
  }

  /** The session graft.Main builds, on local[all cores], with every scratch
    * directory under the benchmark's work dir. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Correctness verdict, iteration counts and metrics of one benchmark run. */
final class Result {
  var correct = true
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Where the ops results and their oracle SQL were written, if run. */
  var opsDirs: Option[(String, String)] = None

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(msg: String): Unit = { correct = false; errors += msg; System.err.println(s"[perfbench] FAIL $msg") }

  def json: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    val ms = metrics.map { case (k, (v, u)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"errors":[${errors.map(q).mkString(",")}]""" +
      opsDirs.fold(""){ case (in, out) => s""","ops_in":${q(in)},"ops_out":${q(out)}""" } + "}"
  }
}

/** Process- and host-level probes plus the shared timed-iteration loop. */
object Host {
  /** (busy, steal) jiffies of the whole host from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** VmHWM (peak resident set) of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def dirMb(path: String): Double = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum() / 1e6
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  def copyDir(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  final case class Iter(index: Int, wallS: Double, cpuS: Double, busyCores: Double, stealCores: Double)

  /** Runs iterations until `seconds` have passed since the loop started (at
    * least `minIters`). Each iteration is prepared (untimed), timed, then
    * checked (untimed). An iteration that throws or fails its check counts
    * toward `res.failed` and contributes no time. */
  def loop(res: Result, label: String, seconds: Double, minIters: Int)(
      prepare: Int => Unit)(body: Int => Unit)(check: Int => Option[String]): Seq[Iter] = {
    val start = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Iter]
    var i = 0
    while (i < minIters || (System.nanoTime() - start) / 1e9 < seconds) {
      res.attempted += 1
      val outcome =
        try {
          prepare(i)
          val (b0, s0) = cpuTicks(); val c0 = processCpuNs(); val t0 = System.nanoTime()
          body(i)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (processCpuNs() - c0) / 1e9
          val (b1, s1) = cpuTicks()
          val it = Iter(i, wall, cpu, (b1 - b0) / 100.0 / wall, (s1 - s0) / 100.0 / wall)
          check(i).toLeft(it)
        } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      outcome match {
        case Right(it) =>
          out += it
          System.err.println(f"[perfbench] $label iter=$i wall_s=${it.wallS}%.3f cpu_s=${it.cpuS}%.2f " +
            f"busy_cores=${it.busyCores}%.2f steal_cores=${it.stealCores}%.2f")
        case Left(msg) =>
          res.failed += 1
          res.fail(s"$label iteration $i: $msg")
      }
      i += 1
    }
    out.toSeq
  }

  /** The end-to-end metrics every workload reports. `pages` is the input
    * table's page count. */
  def putEndToEnd(res: Result, setupS: Double, iters: Seq[Iter], pages: Long): Unit = {
    res.put("setup_s", setupS, "s")
    if (iters.nonEmpty) {
      val wall = median(iters.map(_.wallS))
      res.put("wall_s", wall, "s")
      res.put("pages_per_s", pages / wall, "pages/s")
      res.put("cpu_s", median(iters.map(_.cpuS)), "s")
    }
    res.put("ok_frac", (res.attempted - res.failed).toDouble / math.max(1, res.attempted), "ratio")
  }

  def putHost(res: Result, iters: Seq[Iter]): Unit = {
    res.put("run.peak_rss_mb", peakRssMb(), "MB")
    res.put("env.busy_cores", median(iters.map(_.busyCores)), "cores")
    res.put("env.steal_cores", median(iters.map(_.stealCores)), "cores")
  }
}
