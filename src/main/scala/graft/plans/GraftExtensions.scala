package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression => expr}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType}

/** graft's native functions. `Fns` is the one table of them: SQL text
  * resolves its names once they are injected
  * (`SparkSession.builder.withExtensions(GraftExtensions)`, or
  * `spark.sql.extensions=graft.GraftExtensions`) or registered on a live
  * session (`GraftExtensions.register(spark)`, idempotent). The Column
  * handles below need neither: they build their expression directly, so
  * they work in any session, and with no active session at all. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** One SQL function: its name, its expression class, its parameter names
    * (the arity check and its message come from them) and how its
    * expression is built from the arguments. */
  private final case class Fn(name: String, cls: Class[_], params: Seq[String],
                              build: Seq[Expression] => Expression) {
    val builder: Seq[Expression] => Expression = { args =>
      require(args.length == params.length, s"$name(${params.mkString(", ")}) takes exactly " +
        s"${Counts(params.length)} argument${if (params.length == 1) "" else "s"}")
      build(args)
    }
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  private val Counts = Seq("zero", "one", "two", "three", "four", "five")

  private val Fns = Seq(
    Fn("extract_text", classOf[ExtractTextExpr], Seq("html"), a => ExtractTextExpr(a(0))),
    Fn("min_str", classOf[StringMinAgg], Seq("s"), a => StringMinAgg(a(0))),
    Fn("triples_agg", classOf[TriplesMapAgg], Seq("subj", "pred", "obj", "score", "url"),
      a => TriplesMapAgg(a(0), a(1), a(2), a(3), a(4))),
    Fn("split_sentences", classOf[SplitSentencesExpr], Seq("text"),
      a => SplitSentencesExpr(a(0))),
    Fn("tokenize_lower", classOf[TokenizeLowerExpr], Seq("sent"), a => TokenizeLowerExpr(a(0))),
    Fn("vec_dot", classOf[VecDotExpr], Seq("a", "b"), a => VecDotExpr(a(0), a(1))),
    Fn("md5h60", classOf[Md5H60Expr], Seq("x"), a => Md5H60Expr(a(0))),
    Fn("winnow_fp", classOf[WinnowFpExpr], Seq("text", "k", "window", "portable"), { a =>
      // k, window and portable configure the expression itself, so each must
      // be a non-null constant of its exact type, checked before eval()
      def constant(i: Int, name: String, t: DataType): Any = {
        val v = if (a(i).foldable && a(i).dataType == t) a(i).eval() else null
        require(v != null, s"winnow_fp: argument $name must be a non-null " +
          s"${t.sql} literal, got ${a(i).sql} of type ${a(i).dataType.sql}")
        v
      }
      WinnowFpExpr(a(0), constant(1, "k", IntegerType).asInstanceOf[Int],
        constant(2, "window", IntegerType).asInstanceOf[Int],
        constant(3, "portable", BooleanType).asInstanceOf[Boolean])
    }),
    Fn("lang_id", classOf[LangIdExpr], Seq("text"), a => LangIdExpr(a(0))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    Fns.foreach(f => ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
    ext.injectOptimizerRule(_ => BandJoinRule)
  }

  /** Idempotent runtime registration into the session's function registry. */
  def register(spark: SparkSession): Unit =
    Fns.foreach(f => spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      f.name, f.builder, "built-in"))

  // Column-API handles; an aggregate is wrapped in toAggregateExpression(),
  // as the analyzer wraps a resolved SQL call of it.
  /** Column-API handle for the native HTML→text extractor. */
  def extractText(html: Column): Column = column(ExtractTextExpr(expr(html)))
  /** Column-API handle for the hash-friendly string-min aggregate. */
  def minStr(c: Column): Column = column(StringMinAgg(expr(c)).toAggregateExpression())
  /** Column-API handle for the per-group triple-canonicalization aggregate. */
  def triplesAgg(subj: Column, pred: Column, obj: Column, score: Column, url: Column): Column =
    column(TriplesMapAgg(expr(subj), expr(pred), expr(obj), expr(score), expr(url))
      .toAggregateExpression())
  /** Column-API handle for the native sentence splitter. */
  def splitSentences(text: Column): Column = column(SplitSentencesExpr(expr(text)))
  /** Column-API handle for the native lower+tokenize+filter composite. */
  def tokenizeLower(sent: Column): Column = column(TokenizeLowerExpr(expr(sent)))
  /** Column-API handle for the native left-fold vector dot product. */
  def vecDot(a: Column, b: Column): Column = column(VecDotExpr(expr(a), expr(b)))
  /** Column-API handle for the native fused 60-bit portable md5 hash. */
  def md5h60(c: Column): Column = column(Md5H60Expr(expr(c)))
  /** Column-API handle for the native single-pass winnowing fingerprint. */
  def winnowFp(text: Column, k: Int, window: Int, portable: Boolean): Column =
    column(WinnowFpExpr(expr(text), k, window, portable))
  /** Column-API handle for the native single-pass language-ID scan. */
  def langId(text: Column): Column = column(LangIdExpr(expr(text)))
}
