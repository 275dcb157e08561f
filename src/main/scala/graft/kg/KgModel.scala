package graft.kg

import graft.text.TextModel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Broadcast model state: entity dictionary + per-predicate dense weight
  * vectors (SURVEY.md §4.2.3 — a dense 2^18-slot vector per predicate, ~2 MB
  * each, broadcast once; scoring is a local dot product, never a join).
  */
final class KgModel(
    val dict: Map[String, DictEntry], // surface -> entry, duplicates resolved
    val preds: IndexedSeq[Predicate],
    val weights: Array[Array[Double]], // [predIdx][featureId]
    val tau: Double) extends Serializable {

  /** UTF8String token trie over [[dict]], built once per executor JVM — the
    * native RelationsGenExpr probes it with the raw tokens off Catalyst
    * ArrayData, so the scan allocates NO per-token Strings. UTF8String
    * equals/hashCode are byte-wise, which for the valid UTF-8 the engine
    * produces coincides exactly with String equality. */
  @transient lazy val dictProbe: TokenDict = TokenDict.build(dict)

  /** Canonical-entity + predicate names pre-encoded as UTF8String, built once
    * per executor JVM: emitted relations are sparse, but handing Catalyst a
    * cached reference beats re-encoding the same few canonicals per row. */
  @transient lazy val outU8: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]()
    dict.values.foreach(e =>
      m.put(e.canonical, UTF8String.fromString(e.canonical)))
    preds.foreach(p => m.put(p.pred, UTF8String.fromString(p.pred)))
    m
  }

  /** Order-independent fingerprint of what scoring reads (the resolved
    * dictionary, the predicates, every non-zero weight and tau): a wrapping
    * sum of per-item 64-bit hashes, computed on the driver with no Spark job. */
  lazy val fingerprint: Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    def h(s: String): Long = (stringHash(s).toLong << 32) ^ (stringHash(s, 0x5bd1e995) & 0xffffffffL)
    var sum = (Seq(s"tau=$tau") ++ dict.values.map(_.toString) ++ preds.map(_.toString)).map(h).sum
    for (p <- preds.indices; w = weights(p); f <- w.indices if w(f) != 0.0)
      sum += h(s"${preds(p).pred}/$f=${w(f)}")
    sum
  }

  def u8(s: String): UTF8String = {
    val v = outU8.get(s)
    if (v != null) v else UTF8String.fromString(s)
  }

  import KgModel.{mentionScratch, relationScratch}

  /** Greedy longest-match dictionary scan over lowercase tokens (pinned
    * semantics, SURVEY.md §2 A6): at each position take the longest
    * dictionary surface starting there, of any token length, consume its
    * tokens and advance; a position no surface starts at is skipped. One
    * root probe per position, then one child scan per further matched
    * token. The result is a [[KgModel.ScratchView]] over the per-thread
    * [[mentionScratch]], handed to the scorer without an immutable-copy
    * round and reused on the next call. The consume-before-next-scan
    * invariant is ENFORCED: a retained view throws on access after the next
    * call on the same thread (RelationsGenSpec pins this). */
  def scanMentionsU8(tokens: Array[UTF8String]): scala.collection.IndexedSeq[Mention] =
    scanMentionsU8(tokens, mentionScratch.get())

  /** [[scanMentionsU8]] with a caller-held scratch: hot callers
    * (RelationsGenExpr) fetch the per-thread scratch ONCE per task instead
    * of per sentence — ThreadLocal map probing on every get() read ~12% of
    * executor CPU in the round-5 JFR even with static ThreadLocals. */
  def scanMentionsU8(tokens: Array[UTF8String],
                     scratch: KgModel.Scratch[Mention]): scala.collection.IndexedSeq[Mention] = {
    val d = dictProbe
    val view = scratch.begin()
    val out = scratch.buf
    val n = tokens.length
    var i = 0
    while (i < n) {
      var best: DictEntry = null
      var bestEnd = i + 1
      val slot = d.find(tokens(i))
      if (slot >= 0) {
        var node = d.rootAt(slot)
        var j = i + 1
        while (node != null) {
          if (node.entry != null) { best = node.entry; bestEnd = j }
          node = if (j < n) node.child(tokens(j)) else null
          j += 1
        }
      }
      if (best != null)
        out += Mention(best.entityId, best.canonical, best.entType, i, bestEnd)
      i = bestEnd
    }
    view
  }

  /** [[scanMentionsU8]] over String tokens, returning an immutable copy
    * (safe to retain) — for the String-token callers: the specs, the udf
    * oracle and the benchmark's mention count. */
  def scanMentions(tokens: scala.collection.IndexedSeq[String]): IndexedSeq[Mention] =
    scanMentionsU8(tokens.iterator.map(UTF8String.fromString).toArray).toIndexedSeq

  /** Bucket-major transpose of the weight matrix, built once per executor
    * JVM: wFlat(fid * nPreds + p) == weights(p)(fid). The scoring loop walks
    * every predicate's weight for one feature from ONE cache line pair
    * instead of taking a miss per predicate array — at 32 executor threads
    * the predicate-major layout thrashed L3 (9 × 2 MB arrays probed at
    * random buckets). */
  @transient private lazy val wFlat: Array[Double] = {
    val nP = preds.length
    val nF = if (nP == 0) 0 else weights(0).length
    val flat = new Array[Double](nP * nF)
    var p = 0
    while (p < nP) {
      val w = weights(p)
      var f = 0
      while (f < nF) { flat(f * nP + p) = w(f); f += 1 }
      p += 1
    }
    flat
  }

  /** [[scoreRelationsTv]] over String tokens, returning an immutable copy
    * (safe to retain) — for the String-token callers: the specs and the udf
    * oracle. */
  def scoreRelations(tokens: scala.collection.IndexedSeq[String], ms: IndexedSeq[Mention]): Seq[ScoredRelation] =
    scoreRelationsTv(new Featurize.U8Toks(tokens.iterator.map(UTF8String.fromString).toArray), ms).toSeq

  /** Score every candidate of [[Featurize.forEachCandidate]] (ordered,
    * span-disjoint, distinct entities); emit the argmax predicate when its
    * score clears tau (ties broken by predicate order — deterministic). One
    * relation max per ordered pair. Returns a [[KgModel.ScratchView]] over
    * the per-thread [[relationScratch]] — callers either drain it before the
    * next sentence (RelationsGenExpr) or take an immutable copy
    * (scoreRelations' .toSeq); a view retained across a later call on the
    * same thread throws on access. */
  def scoreRelationsTv(tv: Featurize.U8Toks,
                       ms: scala.collection.IndexedSeq[Mention]): scala.collection.Seq[ScoredRelation] =
    scoreRelationsTv(tv, ms, relationScratch.get())

  /** [[scoreRelationsTv]] with a caller-held scratch — see
    * [[scanMentionsU8]]'s two-arg overload for why. */
  def scoreRelationsTv(tv: Featurize.U8Toks,
                       ms: scala.collection.IndexedSeq[Mention],
                       scratch: KgModel.Scratch[ScoredRelation]): scala.collection.Seq[ScoredRelation] = {
    if (ms.length < 2) return Nil
    val view = scratch.begin()
    val out = scratch.buf
    val nP = preds.length
    val flat = wFlat
    Featurize.forEachCandidate(tv, ms) { (m1, m2, fids) =>
      // accumulate ALL predicates per feature from the bucket-major matrix
      // (contiguous), then select among the type-eligible ones; per
      // predicate the summation order over fids is unchanged, so scores are
      // bit-identical to the predicate-major loop
      val scores = new Array[Double](nP)
      var k = 0
      while (k < fids.length) {
        val base = fids(k).toInt * nP
        var q = 0
        while (q < nP) { scores(q) += flat(base + q); q += 1 }
        k += 1
      }
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      var p = 0
      while (p < nP) {
        val pd = preds(p)
        if (pd.subjType == m1.entType && pd.objType == m2.entType) {
          val s = scores(p)
          if (s > bestScore) { bestScore = s; bestIdx = p }
        }
        p += 1
      }
      if (bestIdx >= 0 && bestScore >= tau)
        out += ScoredRelation(m1.canonical, preds(bestIdx).pred, m2.canonical, bestScore)
    }
    view
  }
}

object KgModel {

  /** Per-thread scan/score scratch buffer + reuse generation. The round-4
    * allocation profile showed `ArrayBuffer.empty` in the scan/score entry
    * points as the top two Object[] churn sites (~12 GB/run at sf8): one
    * fresh backing array per sentence, dead before the generator's eval
    * returns. Both results are consumed eagerly on the calling thread
    * (scoreRelationsTv drains the mention buffer; RelationsGenExpr /
    * scoreRelations drain or copy the relation buffer) — never retained
    * across calls, so per-thread reuse is safe. STATIC (companion, one
    * ThreadLocal per JVM) — see RelationsGenExpr.outScratch for the measured
    * per-instance-ThreadLocal failure mode this avoids. */
  private[graft] final class Scratch[A](initCap: Int) {
    val buf = new scala.collection.mutable.ArrayBuffer[A](initCap)
    /** Bumped at the start of every scan/score call on this thread; a
      * [[ScratchView]] minted by an older call refuses further access. */
    var gen: Long = 0L
    def begin(): ScratchView[A] = { gen += 1; buf.clear(); new ScratchView(this, gen) }
  }

  /** Read-only, generation-stamped view over a per-thread scratch buffer:
    * the invariant "consume or copy the result before the next scan/score
    * call on the same thread" is ENFORCED, not just documented — a view
    * retained across a subsequent call throws on access instead of silently
    * serving the newer call's data. One long-compare per access (noise next
    * to the scoring work the buffers carry). */
  final class ScratchView[A] private[KgModel] (s: Scratch[A], myGen: Long)
      extends scala.collection.IndexedSeq[A] {
    @inline private def check(): Unit =
      if (s.gen != myGen) throw new IllegalStateException(
        "stale graft scratch view: a scan/score result was retained across a " +
          "later scan/score call on the same thread — copy it (e.g. .toSeq) " +
          "before the next call")
    override def length: Int = { check(); s.buf.length }
    override def apply(i: Int): A = { check(); s.buf(i) }
    override def foreach[U](f: A => U): Unit = {
      check()
      val b = s.buf; val n = b.length
      var i = 0
      while (i < n) { f(b(i)); i += 1 }
    }
  }

  private val mentionScratch = new ThreadLocal[Scratch[Mention]] {
    override def initialValue() = new Scratch[Mention](16)
  }
  private val relationScratch = new ThreadLocal[Scratch[ScoredRelation]] {
    override def initialValue() = new Scratch[ScoredRelation](16)
  }

  /** Per-thread scratches for callers that hoist the ThreadLocal fetch out
    * of their per-row loop (cache per task, guard on the thread id). */
  private[graft] def threadMentionScratch(): Scratch[Mention] = mentionScratch.get()
  private[graft] def threadRelationScratch(): Scratch[ScoredRelation] = relationScratch.get()

  /** Build + broadcast a model from in-memory rows (no I/O). */
  def fromData(spark: SparkSession, dict: Seq[DictEntry], preds0: Seq[Predicate],
               weightRows: Seq[(String, Long, Double)], tau: Double): Broadcast[KgModel] = {
    // duplicate surfaces: the highest prior, then the lowest entity id wins
    val resolved = dict.groupBy(_.surface).map { case (s, grp) =>
      s -> grp.minBy(e => (-e.prior, e.entityId))
    }
    val preds = preds0.sortBy(_.pred).toIndexedSeq
    val predIdx = preds.zipWithIndex.map { case (p, i) => p.pred -> i }.toMap
    val w = Array.fill(preds.length)(new Array[Double](TextModel.FeatureBuckets))
    weightRows.foreach { case (p, fid, wt) =>
      predIdx.get(p).foreach(i => w(i)(fid.toInt) += wt) // collisions sum (pinned)
    }
    spark.sparkContext.broadcast(new KgModel(resolved, preds, w, tau))
  }

  /** Load dictionary + weights + meta from fixture parquet and broadcast.
    * Each table is read with an explicit schema (the columns the model
    * needs), so Parquet runs no schema-inference job: one collect per table. */
  def load(spark: SparkSession, fixturesDir: String): Broadcast[KgModel] = {
    import spark.implicits._
    def table(name: String, ddl: String) =
      spark.read.schema(ddl).parquet(s"$fixturesDir/$name.parquet")
    val dict = table("entity_dict",
        "surface string, entity_id bigint, ent_type string, canonical string, prior double")
      .as[(String, Long, String, String, Double)].collect()
      .map { case (s, id, t, c, p) => DictEntry(s, id, t, c, p) }
      .toSeq
    val preds = table("predicates",
        "pred string, template string, subj_type string, obj_type string")
      .as[(String, String, String, String)].collect()
      .map { case (p, t, st, ot) => Predicate(p, t, st, ot) }
      .toSeq
    val weightRows = table("weights", "pred string, feature_id bigint, weight double")
      .as[(String, Long, Double)].collect().toSeq
    val tau = table("model_meta", "tau double").as[Double].head()
    fromData(spark, dict, preds, weightRows, tau)
  }
}
