package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** BenchExtra reports a query that throws as an error, never as a time. */
class BenchExtraSpec extends AnyFunSuite with SharedSpark {

  test("a failing query is marked with its error and left out of noop_min_total") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom \"quoted\"")),
      "q_ok" -> ((s, _) => s.range(10).toDF()))
    val line = BenchExtra.measure(spark, "unused", 2, queries)
    assert(line.contains(
      """"q_bad":{"error":"java.lang.IllegalStateException: boom \"quoted\""}"""), line)
    val okMin = """"q_ok":\{"min":([0-9.]+),""".r.findFirstMatchIn(line).get.group(1).toDouble
    val total = """"value":([0-9.eE-]+),""".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - okMin) < 0.0015, line)
  }
}
