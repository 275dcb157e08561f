package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}

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
