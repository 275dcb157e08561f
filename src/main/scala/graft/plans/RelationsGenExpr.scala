package graft.plans

import graft.kg.{Featurize, KgModel, Mention, ScoredRelation, Stages}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable.ArrayBuffer

/** Native Catalyst Generator for the fused A6–A10 step (mention scan →
  * candidate pairs → hashed featurization → broadcast-weights scoring →
  * linking): `relations_gen(tokens, anchor, in_scope)` emits one
  * (subj, pred, obj, score) row per linked relation, plus the per-page
  * lineage marker row when `anchor` is true.
  *
  * This replaces the round-3 `udf(...)` + `explode(...)` island (kept as
  * the test-side oracle `StageOracles.relationsUdf`). What the udf paid
  * per row and this does not (the remaining ~14% of executor CPU in the
  * round-4 JFR was exactly this boundary):
  *   - ScalaUDF deserialized every token UTF8String → java String and the
  *     ArrayData → a fresh wrapper Seq; here the dictionary scan
  *     (KgModel.scanMentionsU8: greedy longest match over surfaces of any
  *     token length) and feature hashing (Featurize.U8Toks →
  *     StreamHash.feedUtf8) consume the raw UTF-8 bytes in place — zero
  *     per-token allocations.
  *   - the result Seq[ScoredRelation] was re-encoded case class → Catalyst
  *     struct array, then exploded by a second operator; here relations are
  *     emitted as InternalRows directly (canonicals/pred names from the
  *     model's per-executor UTF8String cache), and GenerateExec fans them
  *     out with no intermediate array.
  *
  * Like every Generator it is planned as a Generate node; CodegenFallback
  * keeps upstream stages (extract/split/tokenize) in their own
  * whole-stage-codegen span exactly as the exploded udf did.
  */
case class RelationsGenExpr(
    tokens: Expression,
    anchor: Expression,
    inScope: Expression,
    model: Broadcast[KgModel],
    accMentions: Option[LongAccumulator],
    accCandidates: Option[LongAccumulator])
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(tokens, anchor, inScope)
  override def prettyName: String = "relations_gen"

  override def elementSchema: StructType = RelationsGenExpr.Schema

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(ArrayType(StringType, _), BooleanType, BooleanType) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"relations_gen requires (array<string>, boolean, boolean), got $other")
  }

  // Per-task scratch cache: eval runs on one task thread at a time (each
  // task deserializes its own Generator instance), so the three per-thread
  // scratches are fetched ONCE and reused across rows — ThreadLocal map
  // probing on per-sentence get()s read ~12% of executor CPU in the round-5
  // JFR even with static ThreadLocals. The thread-id guard re-fetches if an
  // instance is ever driven from a different thread (e.g. a fresh local
  // relation evaluated on the driver).
  @transient private var scratchThread: Long = -1L
  @transient private var outBuf: ArrayBuffer[InternalRow] = _
  @transient private var msScratch: KgModel.Scratch[Mention] = _
  @transient private var rsScratch: KgModel.Scratch[ScoredRelation] = _

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val m = model.value
    val arr = tokens.eval(input).asInstanceOf[ArrayData]
    val anc = { val v = anchor.eval(input); v != null && v.asInstanceOf[Boolean] }
    val ins = { val v = inScope.eval(input); v != null && v.asInstanceOf[Boolean] }
    val tid = Thread.currentThread().getId
    if (tid != scratchThread) {
      outBuf = RelationsGenExpr.outScratch.get()
      msScratch = KgModel.threadMentionScratch()
      rsScratch = KgModel.threadRelationScratch()
      scratchThread = tid
    }
    val out = outBuf
    out.clear()
    if (arr != null && ins) {
      val n = arr.numElements()
      val toks = new Array[UTF8String](n)
      var i = 0
      while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
      val ms = m.scanMentionsU8(toks, msScratch)
      accMentions.foreach(_.add(ms.length.toLong))
      if (ms.length >= 2) {
        accCandidates.foreach(_.add(ms.length.toLong * (ms.length - 1)))
        val rels = m.scoreRelationsTv(new Featurize.U8Toks(toks), ms, rsScratch)
        rels.foreach { r =>
          out += new GenericInternalRow(
            Array[Any](m.u8(r.subj), m.u8(r.pred), m.u8(r.obj), r.score))
        }
      }
    }
    if (anc) {
      val marker = if (ins) RelationsGenExpr.MarkerIn else RelationsGenExpr.MarkerOut
      out += new GenericInternalRow(Array[Any](null, marker, null, 0.0))
    }
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RelationsGenExpr =
    copy(tokens = newChildren(0), anchor = newChildren(1), inScope = newChildren(2))
}

object RelationsGenExpr {

  /** Per-thread emitted-rows scratch: GenerateExec drains each eval's result
    * before the next input row on the same thread (flatMap semantics), so the
    * container — NOT the emitted rows, which downstream operators own — is
    * reusable. A fresh ArrayBuffer per page was one of the top Object[]
    * allocation sites in the round-4 profile. STATIC on purpose: expression
    * instances are deserialized per task, and a per-instance ThreadLocal
    * sprays one dead ThreadLocalMap entry per task into every long-lived
    * worker thread — the resulting probe degradation (setInitialValue +
    * getEntryAfterMiss ~8% of executor CPU) was measured before this was
    * hoisted to the companion. */
  private val outScratch = new ThreadLocal[ArrayBuffer[InternalRow]] {
    override def initialValue() = new ArrayBuffer[InternalRow](8)
  }

  private val Schema = StructType(Seq(
    StructField("subj", StringType, nullable = true),
    StructField("pred", StringType, nullable = false),
    StructField("obj", StringType, nullable = true),
    StructField("score", DoubleType, nullable = false)))

  private val MarkerIn = UTF8String.fromString(Stages.PageMarkerIn)
  private val MarkerOut = UTF8String.fromString(Stages.PageMarkerOut)
}
