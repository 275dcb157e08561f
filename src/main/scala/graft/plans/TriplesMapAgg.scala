package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Open-addressed (subj, pred, obj) → (n, max score, min url) map — the
  * aggregation state of [[TriplesMapAgg]].
  *
  * Round-4 JFR motivation: phase-1 canonicalization as
  * `groupBy(part_id, subj, pred, obj)` spent ~17% of executor CPU inside
  * Spark's ObjectHashAggregate machinery — a per-relation-row UnsafeProjection
  * copying all three key strings, a murmur over the projected row, a
  * LinkedHashMap probe with UnsafeRow.equals, and three interpreted aggregate
  * updates. Grouping by part_id ALONE and folding the triple key into a
  * TypedImperativeAggregate buffer leaves ObjectHashAggregate ~one group per
  * partition (its per-row overhead vanishes) while this map does the real
  * work: one-load prefix hashes per key string ([[TokenDict]]-style), zero
  * per-row key copies (clone only on first insert of a distinct key), and a
  * primitive update on hit.
  *
  * Memory envelope: the entries here are EXACTLY the groups the groupBy held
  * in its in-memory ObjectAggregationMap (per-partition distinct triples) —
  * the pipeline already sizes partitions so that state fits (the
  * objectHashAggregate.sortBased.fallbackThreshold=1M decision, quantified in
  * BENCH/BASELINE.md); this map is strictly smaller per entry (no UnsafeRow
  * per-group overhead). The one capability given up is the sort-based
  * fallback for pathological per-partition key cardinality — guarded by
  * `maxEntries` (conf `spark.graft.triplesAgg.maxEntries`, default 8M): a
  * part whose distinct-triple cardinality exceeds it fails fast with a
  * message naming the remedies (more parts, or a larger `maxEntries`)
  * instead of OOMing the executor.
  *
  * Score semantics match `max(score)` exactly, including nulls: a null input
  * score never updates the max, and an entry that has seen ONLY null scores
  * evals to a null score (`hasScore` tracks this per entry); non-null
  * comparisons use java.lang.Double.compare, Spark's double ordering (NaN
  * greatest).
  */
final class TripleMap(val maxEntries: Int = Int.MaxValue) {
  private var cap = 1 << 10
  private var mask = cap - 1
  // parallel arrays; keys non-null except subj/obj of lineage marker rows
  private var subjs = new Array[UTF8String](cap)
  private var preds = new Array[UTF8String](cap)
  private var objs = new Array[UTF8String](cap)
  private var occupied = new Array[Boolean](cap)
  private var ns = new Array[Long](cap)
  private var scores = new Array[Double](cap)
  private var hasScores = new Array[Boolean](cap)
  private var urls = new Array[UTF8String](cap)
  private var entries = 0

  private def checkCapacity(): Unit =
    if (entries >= maxEntries) throw new IllegalStateException(
      s"triples_agg: per-partition distinct-triple state exceeded " +
        s"spark.graft.triplesAgg.maxEntries=$maxEntries; run with more parts " +
        "(Pipeline.Config.numParts) or raise spark.graft.triplesAgg.maxEntries")

  def size: Int = entries

  private def hashOne(s: UTF8String): Long =
    if (s == null) 0x9E3779B97F4A7C15L
    else (s.getPrefix ^ (s.numBytes.toLong * 0xC2B2AE3D27D4EB4FL)) * 0x9E3779B97F4A7C15L

  private def slotHash(subj: UTF8String, pred: UTF8String, obj: UTF8String): Int = {
    val x = (hashOne(subj) ^ java.lang.Long.rotateLeft(hashOne(pred), 21)
      ^ java.lang.Long.rotateLeft(hashOne(obj), 42)) * 0xC2B2AE3D27D4EB4FL
    (x >>> 32).toInt
  }

  private def keyEq(i: Int, subj: UTF8String, pred: UTF8String, obj: UTF8String): Boolean = {
    val s = subjs(i); val p = preds(i); val o = objs(i)
    (if (s == null) subj == null else subj != null && s.equals(subj)) &&
      (if (p == null) pred == null else pred != null && p.equals(pred)) &&
      (if (o == null) obj == null else obj != null && o.equals(obj))
  }

  private def grow(): Unit = {
    val oldCap = cap
    cap <<= 1; mask = cap - 1
    val os = subjs; val op = preds; val oo = objs; val oc = occupied
    val on = ns; val osc = scores; val ohs = hasScores; val ou = urls
    subjs = new Array[UTF8String](cap); preds = new Array[UTF8String](cap)
    objs = new Array[UTF8String](cap); occupied = new Array[Boolean](cap)
    ns = new Array[Long](cap); scores = new Array[Double](cap)
    hasScores = new Array[Boolean](cap); urls = new Array[UTF8String](cap)
    var i = 0
    while (i < oldCap) {
      if (oc(i)) {
        var idx = slotHash(os(i), op(i), oo(i)) & mask
        while (occupied(idx)) idx = (idx + 1) & mask
        occupied(idx) = true
        subjs(idx) = os(i); preds(idx) = op(i); objs(idx) = oo(i)
        ns(idx) = on(i); scores(idx) = osc(i); hasScores(idx) = ohs(i)
        urls(idx) = ou(i)
      }
      i += 1
    }
  }

  private def cloneOrNull(s: UTF8String): UTF8String = if (s == null) null else s.clone()

  /** One relation row; `hasScore=false` means a null input score (never
    * updates the max — exact `max()` semantics). Input UTF8Strings may point
    * into reused row buffers — cloned only when they become owned state
    * (first insert / new min url). */
  def update(subj: UTF8String, pred: UTF8String, obj: UTF8String,
             score: Double, hasScore: Boolean, url: UTF8String): Unit = {
    var idx = slotHash(subj, pred, obj) & mask
    while (occupied(idx)) {
      if (keyEq(idx, subj, pred, obj)) {
        ns(idx) += 1L
        if (hasScore && (!hasScores(idx) ||
            java.lang.Double.compare(score, scores(idx)) > 0)) {
          scores(idx) = score; hasScores(idx) = true
        }
        if (url != null && (urls(idx) == null || url.compareTo(urls(idx)) < 0))
          urls(idx) = url.clone()
        return
      }
      idx = (idx + 1) & mask
    }
    checkCapacity()
    occupied(idx) = true
    subjs(idx) = cloneOrNull(subj); preds(idx) = cloneOrNull(pred)
    objs(idx) = cloneOrNull(obj)
    ns(idx) = 1L; scores(idx) = score; hasScores(idx) = hasScore
    urls(idx) = cloneOrNull(url)
    entries += 1
    if (entries * 2 > cap) grow()
  }

  /** Merge one already-aggregated entry (partial-buffer merge / deserialize).
    * Strings are owned by the source buffer — safe to share, never mutated. */
  def put(subj: UTF8String, pred: UTF8String, obj: UTF8String,
          n: Long, score: Double, hasScore: Boolean, url: UTF8String): Unit = {
    var idx = slotHash(subj, pred, obj) & mask
    while (occupied(idx)) {
      if (keyEq(idx, subj, pred, obj)) {
        ns(idx) += n
        if (hasScore && (!hasScores(idx) ||
            java.lang.Double.compare(score, scores(idx)) > 0)) {
          scores(idx) = score; hasScores(idx) = true
        }
        if (url != null && (urls(idx) == null || url.compareTo(urls(idx)) < 0))
          urls(idx) = url
        return
      }
      idx = (idx + 1) & mask
    }
    checkCapacity()
    occupied(idx) = true
    subjs(idx) = subj; preds(idx) = pred; objs(idx) = obj
    ns(idx) = n; scores(idx) = score; hasScores(idx) = hasScore
    urls(idx) = url
    entries += 1
    if (entries * 2 > cap) grow()
  }

  def foreachEntry(
      f: (UTF8String, UTF8String, UTF8String, Long, Double, Boolean, UTF8String) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (occupied(i)) f(subjs(i), preds(i), objs(i), ns(i), scores(i), hasScores(i), urls(i))
      i += 1
    }
  }
}

/** `triples_agg(subj, pred, obj, score, url)` — per-group triple
  * canonicalization state: an array of (subj, pred, obj, n, score, first_url)
  * structs, one per distinct (subj, pred, obj), with n = count, score = max
  * score, first_url = min url. `groupBy(part_id).agg(triples_agg(...))` +
  * explode produces EXACTLY the rows of
  * `groupBy(part_id, subj, pred, obj).agg(count, max, min_str)`
  * (CanonicalizeSpec pins row-set equality; the measured motivation and the
  * memory-envelope argument are on [[TripleMap]]). */
case class TriplesMapAgg(
    subj: Expression, pred: Expression, obj: Expression,
    score: Expression, url: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TripleMap] {

  override def children: Seq[Expression] = Seq(subj, pred, obj, score, url)
  override def nullable: Boolean = false
  override def prettyName: String = "triples_agg"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("subj", StringType, nullable = true),
    StructField("pred", StringType, nullable = true),
    StructField("obj", StringType, nullable = true),
    StructField("n", LongType, nullable = false),
    // nullable like max(score): a group whose scores are ALL null evals null
    StructField("score", DoubleType, nullable = true),
    StructField("first_url", StringType, nullable = true))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = subj.dataType == StringType && pred.dataType == StringType &&
      obj.dataType == StringType && score.dataType == DoubleType &&
      url.dataType == StringType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "triples_agg requires (STRING, STRING, STRING, DOUBLE, STRING) arguments")
  }

  /** Per-partition distinct-triple cap (the fail-fast OOM guardrail on
    * [[TripleMap]]); read once per task from the propagated SQLConf so
    * clusters can tune it without a code change. */
  @transient private lazy val maxEntries: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.triplesAgg.maxEntries", "8388608").toInt

  override def createAggregationBuffer(): TripleMap = new TripleMap(maxEntries)

  override def update(buffer: TripleMap, input: InternalRow): TripleMap = {
    val sc = score.eval(input)
    buffer.update(
      subj.eval(input).asInstanceOf[UTF8String],
      pred.eval(input).asInstanceOf[UTF8String],
      obj.eval(input).asInstanceOf[UTF8String],
      if (sc == null) 0d else sc.asInstanceOf[Double],
      sc != null,
      url.eval(input).asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: TripleMap, other: TripleMap): TripleMap = {
    other.foreachEntry((s, p, o, n, sc, hs, u) => buffer.put(s, p, o, n, sc, hs, u))
    buffer
  }

  override def eval(buffer: TripleMap): Any = {
    val out = new Array[Any](buffer.size)
    var i = 0
    buffer.foreachEntry { (s, p, o, n, sc, hs, u) =>
      out(i) = new GenericInternalRow(
        Array[Any](s, p, o, n, if (hs) sc else null, u))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Buffer wire format: [count][per entry: 3 length-prefixed key strings,
    * n, score, length-prefixed url] — packed with one exactly-sized array and
    * absolute ByteBuffer puts, decoded with zero-copy UTF8String.fromBytes
    * slices over the received blob (entries are never mutated in place, so
    * sharing the blob is safe). The DataOutputStream/readFully form this
    * replaces was ~8% of executor CPU: phase-1 serializes every partial
    * buffer once at the partial/final boundary even with the exchange
    * elided, and per-byte stream writes priced every entry. */
  override def serialize(buffer: TripleMap): Array[Byte] = {
    var size = 4
    buffer.foreachEntry { (s, p, o, _, _, _, u) =>
      size += 4 + (if (s == null) 0 else s.numBytes) +
        4 + (if (p == null) 0 else p.numBytes) +
        4 + (if (o == null) 0 else o.numBytes) + 8 + 8 + 1 +
        4 + (if (u == null) 0 else u.numBytes)
    }
    val out = new Array[Byte](size)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putInt(buffer.size)
    def str(s: UTF8String): Unit =
      if (s == null) bb.putInt(-1)
      else { bb.putInt(s.numBytes); s.writeTo(bb) }
    buffer.foreachEntry { (s, p, o, n, sc, hs, u) =>
      str(s); str(p); str(o); bb.putLong(n); bb.putDouble(sc)
      bb.put(if (hs) 1.toByte else 0.toByte); str(u)
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): TripleMap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = new TripleMap(maxEntries)
    def str(): UTF8String = {
      val len = bb.getInt()
      if (len < 0) null
      else {
        val pos = bb.position()
        bb.position(pos + len)
        UTF8String.fromBytes(bytes, pos, len)
      }
    }
    val k = bb.getInt()
    var i = 0
    while (i < k) {
      m.put(str(), str(), str(), bb.getLong(), bb.getDouble(), bb.get() == 1, str())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TriplesMapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TriplesMapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TriplesMapAgg =
    copy(subj = newChildren(0), pred = newChildren(1), obj = newChildren(2),
      score = newChildren(3), url = newChildren(4))
}
