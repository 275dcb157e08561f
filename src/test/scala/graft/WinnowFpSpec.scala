package graft

import graft.ops.{HashMode, Portable, TextStats}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-6 single-pass winnowing expression
  * ([[graft.plans.WinnowFpExpr]], now behind TextStats.fingerprints) against
  * the posexplode + frame-window + collect_set formulation it replaced —
  * value-identical per document for BOTH hash modes, on fixture text
  * (including multibyte zh documents) and adversarial short/edge strings.
  * The q_fingerprint DuckDB oracle (unchanged) pins the portable mode
  * end-to-end; this spec additionally pins the xxhash64 production mode.
  */
class WinnowFpSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** The round-5 formulation, verbatim (explode + window + collect_set). */
  private def oldFingerprints(docs: DataFrame, idCol: String, textCol: String,
                              k: Int, window: Int, mode: HashMode): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val txt = col(textCol)
    val nGrams = length(txt) - (k - 1)
    def gramHash(i: Column): Column = mode match {
      case HashMode.PortableMd5 => Portable.md5h60(txt.substr(i, lit(k)))
      case HashMode.XxHash      => xxhash64(txt.substr(i, lit(k)))
    }
    val grams = docs
      .filter(nGrams >= 1)
      .select(col(idCol).as("doc_id"), txt,
        greatest(nGrams - (window - 1), lit(1)).as("nkeep"),
        posexplode(sequence(lit(1), nGrams)).as(Seq("pos", "i")))
      .select(col("doc_id"), col("nkeep"), col("pos"), gramHash(col("i")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    grams.withColumn("winmin", min(col("h")).over(w))
      .filter(col("pos") < col("nkeep"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("winmin"))).as("fingerprint"))
      .filter(size(col("fingerprint")) > 0)
  }

  private def compare(docs: DataFrame, k: Int, window: Int, mode: HashMode): Unit = {
    val got = TextStats.fingerprints(docs, "doc_id", "text", k, window, mode)
      .as[(Long, Seq[Long])].collect().toMap
    val exp = oldFingerprints(docs, "doc_id", "text", k, window, mode)
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == exp.keySet, s"doc sets differ ($mode)")
    got.foreach { case (id, fp) =>
      assert(fp == exp(id), s"doc $id ($mode): $fp != ${exp(id)}")
    }
  }

  test("single-pass winnow == window formulation on fixture docs, both modes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    compare(docs, k = 8, window = 4, HashMode.PortableMd5)
    compare(docs, k = 8, window = 4, HashMode.XxHash)
  }

  test("edge strings: shorter than k, exactly k, k..k+w, multibyte, empty") {
    val docs = Seq(
      (1L, ""), (2L, "short"), (3L, "exactly8"), (4L, "exactly8+"),
      (5L, "abcdefghijk"), (6L, "的是在了和有中人国一的是在了和"),
      (7L, "aaaaaaaaaaaaaaaa"), (8L, "mixed 的 ascii 和 text here")
    ).toDF("doc_id", "text")
    compare(docs, k = 8, window = 4, HashMode.PortableMd5)
    compare(docs, k = 8, window = 4, HashMode.XxHash)
    compare(docs, k = 3, window = 2, HashMode.XxHash)
    compare(docs, k = 1, window = 1, HashMode.PortableMd5)
  }

  test("non-constant or mistyped k/window/portable fail naming winnow_fp and the argument") {
    graft.plans.GraftExtensions.register(spark)
    val docs = Seq((1L, "some text here")).toDF("doc_id", "t")
    def err(args: String): String =
      intercept[Exception](docs.selectExpr(s"winnow_fp(t, $args)").collect()).getMessage
    val long = err("2L, 2, true")
    assert(long.contains("winnow_fp") && long.contains("argument k") && long.contains("BIGINT"), long)
    val column = err("2, length(t), true")
    assert(column.contains("winnow_fp") && column.contains("argument window"), column)
    val flag = err("2, 2, 'yes'")
    assert(flag.contains("winnow_fp") && flag.contains("argument portable"), flag)
    assert(docs.selectExpr("winnow_fp(t, 2, 2, true)").collect().head.getSeq[Long](0).nonEmpty)
  }
}
