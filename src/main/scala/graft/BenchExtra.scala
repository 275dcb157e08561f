package graft

import org.apache.commons.text.StringEscapeUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Optimization-round measurement harness (guide §1.4): times each declared
  * query with the NOOP SINK (computes every column of every row, discards the
  * result — no count-driven column pruning, no output cost) and repeats each
  * query `SPARK_GRAFT_REPS` times (default 3), reporting min and median.
  * Jobs are labeled per query so the UI/event logs are attributable.
  *
  * This is a SEPARATE main from graft.Bench — the driver's frozen bench
  * methodology (count() action, one pass, alphabetical order) is untouched;
  * numbers from here are cited as noop-isolation evidence in
  * OPTIMIZATION_r06.md, never as the bench metric.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *        [SPARK_GRAFT_ONLY=q_a,q_b] [SPARK_GRAFT_REPS=3] \
  *        sbt "runMain graft.BenchExtra"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Warmup as in graft.Bench: first query once, untimed.
    ordered.headOption.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    println(measure(spark, sfDir, reps, ordered))
    spark.stop()
  }

  /** Times each query `reps` times into the noop sink and returns the JSON
    * line. A query that throws on any rep is reported as
    * `"error":"<class>: <message>"` instead of times, and is left out of
    * `noop_min_total`: the time until a crash measures nothing. */
  def measure(spark: SparkSession, sfDir: String, reps: Int,
              queries: Seq[(String, (SparkSession, String) => DataFrame)]): String = {
    val results = queries.map { case (name, fn) =>
      val runs = (1 to reps).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep=$r")
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      }
      spark.sparkContext.setJobDescription(null)
      name -> (runs.collectFirst { case Left(err) => err } match {
        case Some(err) => Left(err)
        case None =>
          val times = runs.collect { case Right(t) => t }.sorted
          Right((times.head, times(times.size / 2)))
      })
    }
    val qs = results.map {
      case (k, Right((mn, md))) => f""""$k":{"min":$mn%.3f,"median":$md%.3f}"""
      case (k, Left(err)) => s""""$k":{"error":"${StringEscapeUtils.escapeJson(err)}"}"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right((mn, _))) => mn }.sum
    s"""{"metric":"noop_min_total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"sf":"$sfDir"}"""
  }
}
