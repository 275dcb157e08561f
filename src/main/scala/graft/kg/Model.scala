package graft.kg

/** Core typed data model of the KG-construction pipeline (SURVEY.md §1.2).
  * Kept as flat case classes so Spark `Encoders.product` derives efficient
  * serializers and the columns stay prunable.
  */

/** An entity-dictionary entry (broadcast; SURVEY.md §2 A6/A10).
  * `surface` is a lowercase token sequence joined by single spaces
  * ("w", "w1 w2", "w1 w2 w3", ...). */
final case class DictEntry(
    surface: String,
    entityId: Long,
    entType: String,
    canonical: String,
    prior: Double)

/** A relation-predicate template (fixture table `predicates`, FIXTURES.md 2.3). */
final case class Predicate(
    pred: String,
    template: String,
    subjType: String,
    objType: String)

/** An entity mention in a sentence; token span is [begin, end). */
final case class Mention(
    entityId: Long,
    canonical: String,
    entType: String,
    begin: Int,
    end: Int)

/** A scored, linked relation instance (pre-canonicalization). */
final case class ScoredRelation(
    subj: String,
    pred: String,
    obj: String,
    score: Double)

/** A canonical output triple with provenance (output table, SURVEY.md §1.2). */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    score: Double,
    nEvidence: Long,
    firstUrl: String)
