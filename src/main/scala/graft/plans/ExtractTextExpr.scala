package graft.plans


import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the pinned HTML→text extractor
  * (SURVEY.md §4.3): unlike the `udf()` wrapper it participates in
  * whole-stage codegen (defineCodeGen emits a direct static call — no encoder
  * round-trip, no closure serialization) and declares null-intolerance so
  * Catalyst can push IsNotNull through it. The call lands on
  * [[graft.text.Extract.textU8]], the one extractor (UTF-8 bytes in, UTF-8
  * bytes out, no transcoding on valid input); PipelineSpec "byte-identical
  * extracted text per url" and PlanAuditSpec check it against the stored
  * `text` column and the test-side reference.
  */
case class ExtractTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_text"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_text requires BINARY input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    graft.text.Extract.textU8(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Extract.textU8($c)")

  override protected def withNewChildInternal(newChild: Expression): ExtractTextExpr =
    copy(child = newChild)
}

/** Registration of graft's native expressions — via SparkSessionExtensions
  * (`SparkSession.builder.withExtensions(GraftExtensions)`) for new sessions,
  * or `GraftExtensions.register(spark)` on a live one (idempotent). */
object GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {

  private val extractTextInfo = new ExpressionInfo(
    classOf[ExtractTextExpr].getName, "extract_text")

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "extract_text(html) takes exactly one argument")
    ExtractTextExpr(args.head)
  }

  private val minStrInfo = new ExpressionInfo(
    classOf[StringMinAgg].getName, "min_str")

  private val minStrBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "min_str(s) takes exactly one argument")
    StringMinAgg(args.head)
  }

  private val triplesAggInfo = new ExpressionInfo(
    classOf[TriplesMapAgg].getName, "triples_agg")

  private val triplesAggBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 5,
      "triples_agg(subj, pred, obj, score, url) takes exactly five arguments")
    TriplesMapAgg(args(0), args(1), args(2), args(3), args(4))
  }

  private val splitSentencesInfo = new ExpressionInfo(
    classOf[SplitSentencesExpr].getName, "split_sentences")

  private val splitSentencesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "split_sentences(text) takes exactly one argument")
    SplitSentencesExpr(args.head)
  }

  private val vecDotInfo = new ExpressionInfo(
    classOf[VecDotExpr].getName, "vec_dot")

  private val vecDotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "vec_dot(a, b) takes exactly two arguments")
    VecDotExpr(args(0), args(1))
  }

  private val md5h60Info = new ExpressionInfo(
    classOf[Md5H60Expr].getName, "md5h60")

  private val md5h60Builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "md5h60(x) takes exactly one argument")
    Md5H60Expr(args.head)
  }

  private val winnowFpInfo = new ExpressionInfo(
    classOf[WinnowFpExpr].getName, "winnow_fp")

  private val winnowFpBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 4,
      "winnow_fp(text, k, window, portable) takes exactly four arguments")
    // k, window and portable configure the expression itself, so each must
    // be a non-null constant of its exact type, checked before eval()
    def constant(i: Int, name: String, t: DataType): Any = {
      val a = args(i)
      val v = if (a.foldable && a.dataType == t) a.eval() else null
      require(v != null, s"winnow_fp: argument $name must be a non-null " +
        s"${t.sql} literal, got ${a.sql} of type ${a.dataType.sql}")
      v
    }
    WinnowFpExpr(args(0), constant(1, "k", IntegerType).asInstanceOf[Int],
      constant(2, "window", IntegerType).asInstanceOf[Int],
      constant(3, "portable", BooleanType).asInstanceOf[Boolean])
  }

  private val langIdInfo = new ExpressionInfo(
    classOf[LangIdExpr].getName, "lang_id")

  private val langIdBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "lang_id(text) takes exactly one argument")
    LangIdExpr(args.head)
  }

  private val tokenizeLowerInfo = new ExpressionInfo(
    classOf[TokenizeLowerExpr].getName, "tokenize_lower")

  private val tokenizeLowerBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "tokenize_lower(sent) takes exactly one argument")
    TokenizeLowerExpr(args.head)
  }

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("extract_text"), extractTextInfo, builder))
    ext.injectFunction((FunctionIdentifier("min_str"), minStrInfo, minStrBuilder))
    ext.injectFunction((FunctionIdentifier("triples_agg"), triplesAggInfo, triplesAggBuilder))
    ext.injectFunction((FunctionIdentifier("split_sentences"), splitSentencesInfo, splitSentencesBuilder))
    ext.injectFunction((FunctionIdentifier("tokenize_lower"), tokenizeLowerInfo, tokenizeLowerBuilder))
    ext.injectFunction((FunctionIdentifier("vec_dot"), vecDotInfo, vecDotBuilder))
    ext.injectFunction((FunctionIdentifier("md5h60"), md5h60Info, md5h60Builder))
    ext.injectFunction((FunctionIdentifier("winnow_fp"), winnowFpInfo, winnowFpBuilder))
    ext.injectFunction((FunctionIdentifier("lang_id"), langIdInfo, langIdBuilder))
    ext.injectOptimizerRule(_ => BandJoinRule)
  }

  /** Idempotent runtime registration into the session's function registry. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_text", builder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_str", minStrBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "triples_agg", triplesAggBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "split_sentences", splitSentencesBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tokenize_lower", tokenizeLowerBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", vecDotBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5h60", md5h60Builder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fp", winnowFpBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lang_id", langIdBuilder, "built-in")
  }

  /** Column-API handle (registers into the active session on first use). */
  def extractText(html: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("extract_text", html)
  }

  /** Column-API handle for the hash-friendly string-min aggregate. */
  def minStr(c: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("min_str", c)
  }

  /** Column-API handle for the per-group triple-canonicalization aggregate. */
  def triplesAgg(subj: Column, pred: Column, obj: Column,
                 score: Column, url: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("triples_agg", subj, pred, obj, score, url)
  }

  /** Column-API handle for the native sentence splitter. */
  def splitSentences(text: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("split_sentences", text)
  }

  /** Column-API handle for the native single-pass language-ID scan. */
  def langId(text: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("lang_id", text)
  }

  /** Column-API handle for the native single-pass winnowing fingerprint. */
  def winnowFp(text: Column, k: Int, window: Int, portable: Boolean): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("winnow_fp", text, org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(window),
      org.apache.spark.sql.functions.lit(portable))
  }

  /** Column-API handle for the native fused 60-bit portable md5 hash. */
  def md5h60(c: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("md5h60", c)
  }

  /** Column-API handle for the native left-fold vector dot product. */
  def vecDot(a: Column, b: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("vec_dot", a, b)
  }

  /** Column-API handle for the native lower+tokenize+filter composite. */
  def tokenizeLower(sent: Column): Column = {
    SparkSession.active.synchronized(register(SparkSession.active))
    call_function("tokenize_lower", sent)
  }
}
