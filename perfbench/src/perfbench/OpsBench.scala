package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The dedup and similarity family of `SparkEntry.queries` (graft.ops.Dedup
  * and Similarity), one traced pass over the harness's `documents` and
  * `embeddings` tables in `inDir` (perfbench/data holds a copy of one tier).
  * Each query's result is written as parquet beside `oracle_sql.json`;
  * `perfbench/run.py` compares every result with its `SparkEntry.oracleSql`
  * twin run in DuckDB and withholds the time of any result that differs.
  * `breakQuery` (for the benchmark's own tests) runs that query over a
  * missing directory, so it throws. */
final class OpsBench(spark: SparkSession, tracer: Tracer, work: String, val inDir: String,
                     breakQuery: Option[String]) {
  import OpsBench._

  val outDir = s"$work/runs/ops"

  /** Runs every query once under its own bench span. A query that throws
    * counts as a failed operation and gets no time; the others put
    * `ops.<query>.s` into `res`. */
  def run(res: Result): Unit = {
    Host.deleteDir(outDir)
    for (q <- Queries) {
      val dir = if (breakQuery.contains(q)) s"$inDir/missing" else inDir
      res.attempted += 1
      try {
        val t0 = System.nanoTime()
        tracer.span(s"ops.$q")(SparkEntry.queries(q)(spark, dir).write.parquet(s"$outDir/$q"))
        res.put(s"ops.$q.s", (System.nanoTime() - t0) / 1e9, "s")
      } catch {
        case e: Exception =>
          res.failed += 1
          res.fail(s"ops $q: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val oracle = Queries.map(q => s"${json(q)}:${json(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), oracle)
  }

  /** Per-layer metrics read from the tracer (after it is closed). */
  def putTrace(res: Result): Unit = {
    val spans = tracer.benchSpans.filter(_.name.startsWith("ops."))
    val comp = spans.filter(_.name == "ops.q_dedup_components")
    res.put("ops.dedup_components.jobs", comp.map(tracer.jobsIn).sum.toDouble, "jobs")
    res.put("ops.shuffle_mb", spans.flatMap(tracer.sqlIn).flatMap(s => tracer.stagesOf(s.id))
      .map(_.shuffleWriteB).sum / 1e6, "MB")
  }
}

object OpsBench {
  val Queries = Seq("q_dedup_exact", "q_dedup_jaccard", "q_dedup_jaccard_capped",
    "q_dedup_minhash", "q_dedup_minhash_pairs", "q_dedup_simhash", "q_dedup_components",
    "q_dedup_embed", "q_embed_topk", "q_embed_ivf_topk", "q_embed_lsh_topk")

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
