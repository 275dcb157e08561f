package graft

import graft.kg.{KgModel, ScoredRelation, Stages}
import graft.text.Extract
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Independent implementations of shipped stages, used only as equivalence
  * oracles by the specs: each computes the same rows as its production twin
  * through a plainer path (a Scala udf over Strings, a declarative groupBy). */
object StageOracles {

  /** [[graft.plans.GraftExtensions.extractText]] as a udf over the pinned
    * String extractor [[Extract.text]] (PlanAuditSpec). */
  val extractTextUdf = udf((html: Array[Byte]) => Extract.text(html))

  /** The round-3 udf+explode form of [[Stages.relations]]: the same scan,
    * candidate rule and scorer over String tokens, with the page-marker rows
    * appended in Scala (RelationsGenSpec's row-for-row oracle for the native
    * [[graft.plans.RelationsGenExpr]]). */
  def relationsUdf(tokenized: DataFrame, model: Broadcast[KgModel],
                   pageMarkers: Boolean = false): DataFrame = {
    val scoreUdf = udf { (tokens: Seq[String], anchor: Boolean, inScope: Boolean) =>
      val m = model.value
      val rels: Seq[ScoredRelation] =
        if (tokens == null || !inScope) Seq.empty
        else {
          val toks = tokens.toIndexedSeq
          m.scoreRelations(toks, m.scanMentions(toks))
        }
      if (anchor)
        rels :+ ScoredRelation(null, if (inScope) Stages.PageMarkerIn else Stages.PageMarkerOut, null, 0.0)
      else rels
    }
    val (anchorCol, inScopeCol) = markerCols(pageMarkers)
    tokenized
      .select(col("url"), col("part_id"),
        explode(scoreUdf(col("tokens"), anchorCol, inScopeCol)).as("rel"))
      .select(col("url"), col("part_id"),
        col("rel.subj").as("subj"), col("rel.pred").as("pred"),
        col("rel.obj").as("obj"), col("rel.score").as("score"))
  }

  /** A page's anchor is its sent_idx 0 row, or its one null row when it has
    * no sentences — the same rule as [[Stages.relations]]' own copy. */
  private def markerCols(pageMarkers: Boolean): (Column, Column) = (
    if (pageMarkers) coalesce(col("sent_idx") === 0, lit(true)) else lit(false),
    if (pageMarkers) col("in_scope") else lit(true))

  /** The declarative groupBy form of [[Stages.partialTriples]]: same groups
    * and measures, including the null-subj lineage marker rows
    * (CanonicalizeSpec, TripleMapFuzzSpec). */
  def partialTriplesGroupBy(relations: DataFrame): DataFrame =
    relations.groupBy(col("part_id"), col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("n"), max(col("score")).as("score"),
        graft.plans.GraftExtensions.minStr(col("url")).as("first_url"))
}
