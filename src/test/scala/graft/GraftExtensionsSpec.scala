package graft

import graft.kg.Stages
import graft.ops.Portable
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Declarative extension wiring (VERDICT r4 Next #6): `graft.GraftExtensions`
  * must be instantiable exactly the way Spark's conf-driven `applyExtensions`
  * does it — `classForName(name).getConstructor().newInstance()` as a
  * `SparkSessionExtensions => Unit` — and a FRESH session carrying only that
  * injection (no BandJoinRule.install, no register()) must resolve the graft
  * functions and fire the band-join rewrite. `spark.sql.extensions` itself is
  * a static conf read at SparkContext creation, which a shared-context test
  * JVM cannot re-exercise — graft.tools.ExtensionsCheck is the fresh-JVM
  * end-to-end twin of this spec. */
class GraftExtensionsSpec extends AnyFunSuite with SharedSpark {

  test("graft.GraftExtensions instantiates reflectively and wires a fresh session") {
    // force the shared context to exist first so builder reuses it
    val shared = spark
    // Spark's applyExtensions mechanism, verbatim
    val injector = Class.forName("graft.GraftExtensions")
      .getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]

    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder().withExtensions(injector).getOrCreate()
      assert(fresh ne shared, "expected a fresh session over the shared context")
      import fresh.implicits._

      // injected SQL function resolves with zero register() calls
      val txt = fresh.sql(
        "SELECT extract_text(cast('<p>hi there</p>' AS BINARY)) AS t")
        .as[String].head()
      assert(txt.contains("hi there"), s"extract_text broken: '$txt'")

      // injected optimizer rule fires with zero install() calls
      val v = (0L until 50L).toDF("x")
      val j = v.select($"x".as("xa"))
        .join(v.select($"x".as("xb")),
          $"xb" >= $"xa" && $"xb" < $"xa" + lit(5L))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_band_bucket"),
        s"BandJoinRule not wired through extensions:\n$plan")
      assert(j.count() == 50L * 5 - (1 until 5).sum)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** md5h60 by its definition: the first 15 hex chars of md5(s) as a long. */
  private def md5h60Of(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(15), 16)

  test("Column handles compute on a frame of a session that is not the active one") {
    SparkSession.setActiveSession(spark)
    val other = spark.newSession()
    import other.implicits._
    val pages = Seq(("u1", "<p>Hi there. Bye now.</p>".getBytes("UTF-8")))
      .toDF("url", "html")
    val text = Stages.pageText(pages).select(col("text")).as[String].head()
    assert(text.contains("Hi there") && !text.contains("<p>"), text)
    assert(pages.select(Portable.md5h60(col("url"))).as[Long].head() == md5h60Of("u1"))

    val rels = Seq(
      ("u2", 0, "A", "p", "B", 0.5), ("u1", 1, "A", "p", "B", 0.9),
      ("u3", 0, "C", "q", "D", 0.7)).toDF("url", "part_id", "subj", "pred", "obj", "score")
    val merged = Stages.mergeTriples(Stages.partialTriples(rels))
      .as[(String, String, String, Long, Double, String)].collect().sortBy(_._1)
    assert(merged.toSeq == Seq(("A", "p", "B", 2L, 0.9, "u1"), ("C", "q", "D", 1L, 0.7, "u3")))
    assert(SparkSession.active eq spark, "the frames must not have changed the active session")
  }

  test("Column handles build with no active or default session") {
    val shared = spark
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val c = try Portable.md5h60(lit("x")) finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    assert(shared.range(1).select(c).head().getLong(0) == md5h60Of("x"))
  }

  test("register writes every native function, each checking its argument count") {
    val arity = Seq(
      "extract_text" -> "extract_text(html) takes exactly one argument",
      "min_str" -> "min_str(s) takes exactly one argument",
      "triples_agg" -> "triples_agg(subj, pred, obj, score, url) takes exactly five arguments",
      "split_sentences" -> "split_sentences(text) takes exactly one argument",
      "tokenize_lower" -> "tokenize_lower(sent) takes exactly one argument",
      "vec_dot" -> "vec_dot(a, b) takes exactly two arguments",
      "md5h60" -> "md5h60(x) takes exactly one argument",
      "winnow_fp" -> "winnow_fp(text, k, window, portable) takes exactly four arguments",
      "lang_id" -> "lang_id(text) takes exactly one argument")
    val fresh = spark.newSession()
    for ((name, _) <- arity) assert(!fresh.catalog.functionExists(name), name)
    graft.plans.GraftExtensions.register(fresh)
    for ((name, message) <- arity) {
      assert(fresh.catalog.functionExists(name), name)
      val e = intercept[Exception](fresh.sql(s"SELECT $name()").collect())
      assert(e.getMessage.contains(message), e.getMessage)
    }
  }
}
