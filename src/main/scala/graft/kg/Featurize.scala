package graft.kg

import graft.text.TextModel
import org.apache.spark.unsafe.types.UTF8String
import scala.util.hashing.MurmurHash3
import scala.collection.mutable.ArrayBuffer

/** Hashed dependency-path + lexical featurization (SURVEY.md §2 A8).
  *
  * The reference pipeline featurizes candidate entity pairs with dependency-path
  * and lexical-context features and hashes them into a sparse vector
  * (BASELINE.json:6 "batched dependency-path + lexical featurization",
  * "feature hashing"). A CoreNLP-class parser is unavailable offline, so the
  * dependency path is a pinned deterministic pseudo-parse (SURVEY.md §7.4.1):
  * the path is the chain of verb-like tokens between the two mentions, where
  * "verb-like" = member of a closed auxiliary set OR length>=4 ending in
  * s/ed/ing. This is the one recorded semantic deviation from the reference's
  * true parse-based features.
  *
  * Feature classes (every feature string is prefixed with the direction tag
  * "F|" — mention-1 precedes mention-2 — or "R|", so a reversed candidate pair
  * shares no feature ids with the forward pair):
  *   btw:<w>        unigrams strictly between the mentions        [weighted]
  *   btw2:<w1>_<w2> bigrams strictly between the mentions          [weighted]
  *   dep:<chain>    pseudo-dependency path (between verb chain)    [weighted]
  *   gap:<n>        bucketed token gap (capped at 10)
  *   tp:<T1>_<T2>   entity-type pair
  *   bef:<w>/aft:<w> up to 2 context tokens before/after the span
  *
  * [weighted] marks the classes the fixture generator assigns non-zero weights
  * to (Weights.WeightedClasses) — context-independent, so the designed P/R
  * margin of FIXTURES.md 2.4 holds in any sentence context.
  *
  * Serving and training featurize through one token view ([[U8Toks]]) and
  * one candidate rule ([[forEachCandidate]]). The String forms [[raw]] and
  * [[ids]] are the independent reference the specs check both against, and
  * what the fixture generator derives its weights from.
  */
object Featurize {

  private val AuxVerbs = Set(
    "is", "are", "was", "were", "be", "been", "has", "have", "had", "may",
    "can", "could", "might", "must", "should", "would", "will", "does", "did")

  def isVerbLike(tok: String): Boolean =
    AuxVerbs.contains(tok) ||
      (tok.length >= 4 && (tok.endsWith("s") || tok.endsWith("ed") || tok.endsWith("ing")))

  /** The aux-verb set packed as longs (all members are 2–6 ASCII bytes;
    * big-endian byte packing is injective for such strings) in a 64-slot
    * open-addressed table: membership is one multiply-shift probe, usually
    * one compare (verbLike runs per between-token per candidate pair — a
    * 19-element binary search here was ~12% of executor CPU in the round-4
    * JFR, five data-dependent branches per call). */
  private val AuxTableBits = 6
  private val AuxTable: Array[Long] = {
    val t = new Array[Long](1 << AuxTableBits) // 0 is never a packed value
    AuxVerbs.foreach { s =>
      var v = 0L
      s.foreach(c => v = (v << 8) | c.toInt)
      var idx = ((v * 0x9E3779B97F4A7C15L) >>> (64 - AuxTableBits)).toInt
      while (t(idx) != 0L) idx = (idx + 1) & (t.length - 1)
      t(idx) = v
    }
    t
  }
  private val AuxMaxBytes = AuxVerbs.map(_.length).max

  private def isAuxU8(t: UTF8String): Boolean = {
    val nb = t.numBytes
    if (nb < 2 || nb > AuxMaxBytes) return false
    // getPrefix = first <= 8 bytes big-endian, zero-padded low (one unaligned
    // load) — so the byte-packing loop collapses to a shift, and the
    // pure-ASCII guard to one mask test (any byte >= 0x80 sets its high bit;
    // the zero padding never does). Packing identical to the loop it
    // replaces (RelationsGenSpec property-pins vs AuxVerbs membership).
    val p = t.getPrefix
    if ((p & 0x8080808080808080L) != 0L) return false // aux verbs are pure ASCII
    val v = p >>> ((8 - nb) << 3)
    var idx = ((v * 0x9E3779B97F4A7C15L) >>> (64 - AuxTableBits)).toInt
    while (AuxTable(idx) != 0L) {
      if (AuxTable(idx) == v) return true
      idx = (idx + 1) & (AuxTable.length - 1)
    }
    false
  }

  /** `s.toString.length` (UTF-16 code units) without the String: one unit per
    * 1–3-byte UTF-8 sequence, two (a surrogate pair) per 4-byte sequence. */
  def utf16Length(s: UTF8String): Int = {
    val nb = s.numBytes
    var i = 0
    var len = 0
    while (i < nb) {
      val b = s.getByte(i) & 0xFF
      val w = if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4
      len += (if (w == 4) 2 else 1)
      i += w
    }
    len
  }

  /** isVerbLike on UTF-8 bytes. The suffix probes are exact on bytes: the
    * suffixes are ASCII and UTF-8 continuation bytes are always >= 0x80, so a
    * byte-suffix match IS a char-suffix match (tested by direct getByte
    * compares — UTF8String.endsWith routed through arrayEquals per call);
    * the >=4 length is UTF-16 units, matching String.length. */
  def isVerbLikeU8(tok: UTF8String): Boolean = {
    if (isAuxU8(tok)) return true
    val nb = tok.numBytes
    if (nb < 2) return false
    val last = tok.getByte(nb - 1)
    val suffix =
      last == 's' ||
        (last == 'd' && tok.getByte(nb - 2) == 'e') ||
        (last == 'g' && nb >= 3 && tok.getByte(nb - 2) == 'n' && tok.getByte(nb - 3) == 'i')
    suffix && utf16Length(tok) >= 4
  }

  /** The one token view the featurizer hashes from: raw UTF8String tokens,
    * straight off Catalyst ArrayData in the native RelationsGenExpr (zero
    * per-token String allocation) and converted once per sentence in
    * training. [[StreamHash.feedUtf8]] feeds the same UTF-16 code units the
    * String form would, so ids equal [[ids]] (FeaturizeSessionSpec). */
  final class U8Toks(ts: Array[UTF8String]) {
    def length: Int = ts.length
    def feed(sh: StreamHash, i: Int): StreamHash = sh.feedUtf8(ts(i))
    // verbLike is pure per token, but the dep-chain walk re-asks it per
    // ordered pair over the same window (2 ordered pairs even for the common
    // 2-mention sentence) — memoize per position, allocated lazily so
    // sentences that never reach a dep walk pay nothing (isAuxU8 was 8% of
    // executor CPU in the round-4 JFR, half of it repeat calls)
    private var vb: Array[Byte] = _
    def verbLike(i: Int): Boolean = {
      var c = vb
      if (c == null) { c = new Array[Byte](ts.length); vb = c }
      val v = c(i)
      if (v != 0) v == 1
      else {
        val r = isVerbLikeU8(ts(i))
        c(i) = if (r) 1 else 2
        r
      }
    }
  }

  /** Raw (pre-hash) feature strings for an ordered candidate (m1, m2) in a
    * tokenized sentence. Pure and total. */
  def raw(tokens: scala.collection.IndexedSeq[String], m1: Mention, m2: Mention): IndexedSeq[String] = {
    val out = new ArrayBuffer[String](32)
    val forward = m1.begin <= m2.begin
    val dir = if (forward) "F|" else "R|"
    val (left, right) = if (forward) (m1, m2) else (m2, m1)
    val lo = math.min(math.max(left.end, 0), tokens.length)
    val hi = math.min(math.max(right.begin, 0), tokens.length)

    // between unigrams + bigrams
    var i = lo
    while (i < hi) {
      out += dir + "btw:" + tokens(i)
      if (i + 1 < hi) out += dir + "btw2:" + tokens(i) + "_" + tokens(i + 1)
      i += 1
    }
    // pseudo-dependency path: chain of verb-like tokens between the mentions
    val chain = new java.lang.StringBuilder()
    i = lo
    while (i < hi) {
      val t = tokens(i)
      if (isVerbLike(t)) { if (chain.length > 0) chain.append('>'); chain.append(t) }
      i += 1
    }
    if (chain.length > 0) out += dir + "dep:" + chain.toString
    // gap bucket
    out += dir + "gap:" + math.min(math.max(hi - lo, 0), 10)
    // type pair
    out += dir + "tp:" + m1.entType + "_" + m2.entType
    // context windows (up to 2 before the left span, 2 after the right span)
    var k = math.max(left.begin - 2, 0)
    while (k < left.begin && k < tokens.length) { out += dir + "bef:" + tokens(k); k += 1 }
    k = right.end
    val kEnd = math.min(right.end + 2, tokens.length)
    while (k < kEnd) { if (k >= 0) out += dir + "aft:" + tokens(k); k += 1 }
    out.toIndexedSeq
  }

  /** Murmur3(seed=42) feature-hash into [0, 2^18) (TextModel constants). */
  def hash(feature: String): Long = {
    val h = MurmurHash3.stringHash(feature, TextModel.FeatureSeed)
    java.lang.Math.floorMod(h.toLong, TextModel.FeatureBuckets.toLong)
  }

  /** Streaming replay of `MurmurHash3.stringHash(parts concatenated, seed)`:
    * feeds chars through the identical 2-chars-per-mix block loop WITHOUT
    * materializing the concatenation. stringHash was ~15% of pipeline
    * executor CPU as StringBuilder.append + a re-read of the built string
    * (JFR, round 4); the hot Session path now hashes prefix+token (and the
    * dep-chain parts) through this. Bit-equality with the string form is
    * asserted by FeaturizeSessionSpec on the fixture corpus plus a
    * property test over random part splits. */
  final class StreamHash(seed: Int) {
    private var h = seed
    private var len = 0
    private var pending = -1
    private def feedChar(c: Int): Unit = {
      if (pending < 0) pending = c
      else { h = MurmurHash3.mix(h, (pending << 16) + c); pending = -1 }
      len += 1
    }
    def feed(s: CharSequence): StreamHash = {
      val n = s.length
      var i = 0
      while (i < n) { feedChar(s.charAt(i).toInt); i += 1 }
      this
    }
    /** Feed a token straight from its UTF-8 bytes: decodes to the UTF-16 code
      * units `s.toString` would produce and replays them through the same mix
      * loop — bit-equal to `feed(s.toString)` for any VALID UTF-8 input (the
      * UTF8String invariant everywhere in the engine: tokenize_lower output,
      * parquet strings). Skips the String allocation the UDF boundary paid
      * per token (the remaining ~14% conversion cost in the round-4 JFR). */
    def feedUtf8(s: UTF8String): StreamHash = {
      val nb = s.numBytes
      var i = 0
      while (i < nb) {
        val b0 = s.getByte(i) & 0xFF
        if (b0 < 0x80) { feedChar(b0); i += 1 }
        else if (b0 < 0xE0) {
          feedChar(((b0 & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F)); i += 2
        } else if (b0 < 0xF0) {
          feedChar(((b0 & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
            (s.getByte(i + 2) & 0x3F)); i += 3
        } else {
          val cp = ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
            ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F)
          feedChar(0xD800 + ((cp - 0x10000) >> 10))
          feedChar(0xDC00 + ((cp - 0x10000) & 0x3FF))
          i += 4
        }
      }
      this
    }
    def result(): Int = {
      val hh = if (pending >= 0) MurmurHash3.mixLast(h, pending) else h
      MurmurHash3.finalizeHash(hh, len)
    }
  }

  private def bucket(h: Int): Long =
    java.lang.Math.floorMod(h.toLong, TextModel.FeatureBuckets.toLong)

  /** Fresh seeded StreamHash with a feature-class prefix already fed. */
  private def sh(prefix: String): StreamHash =
    new StreamHash(TextModel.FeatureSeed).feed(prefix)

  /** hash(prefix + a + sep + b) without the concat. */
  private def hashCat(prefix: String, a: String, sep: String, b: String): Long =
    bucket(new StreamHash(TextModel.FeatureSeed)
      .feed(prefix).feed(a).feed(sep).feed(b).result())

  /** Hashed feature ids (with multiplicity — the scorer sums per occurrence). */
  def ids(tokens: scala.collection.IndexedSeq[String], m1: Mention, m2: Mention): Array[Long] =
    raw(tokens, m1, m2).map(hash).toArray

  // per-direction prefix constants for the streaming hash path (feeding a
  // fixed prefix then the token replays hash(prefix + token) exactly)
  private val Dirs = Array("F|", "R|")
  private val PUni = Array("F|btw:", "R|btw:")
  private val PBi = Array("F|btw2:", "R|btw2:")
  private val PBef = Array("F|bef:", "R|bef:")
  private val PAft = Array("F|aft:", "R|aft:")
  private val PDep = Array("F|dep:", "R|dep:")
  private val PTp = Array("F|tp:", "R|tp:")
  // the gap feature has only 2 x 11 possible strings — hashed once per process
  private val GapH = Array.tabulate(2, 11)((d, g) => hash(Dirs(d) + "gap:" + g))

  /** Per-sentence featurization session: all position-dependent feature
    * hashes (between-unigram/bigram, context windows, verb-likeness) are
    * precomputed ONCE per sentence and reused across every candidate pair —
    * sentences with m mentions score m·(m-1) pairs, so per-pair string
    * building would redo the same hashing O(m²·gap) times. Emits EXACTLY the
    * ids (and order) of `ids(...)` (FeaturizeSessionSpec asserts equality on
    * the fixture corpus). */
  final class Session(tv: U8Toks) {
    private val n = tv.length
    // [dir 0=F 1=R][pos]
    private val uniH = Array.ofDim[Long](2, n)
    private val biH = Array.ofDim[Long](2, math.max(n - 1, 0))
    private val befH = Array.ofDim[Long](2, n)
    private val aftH = Array.ofDim[Long](2, n)
    private val verb = new Array[Boolean](n)
    locally {
      var i = 0
      while (i < n) {
        var d = 0
        while (d < 2) {
          uniH(d)(i) = bucket(tv.feed(sh(PUni(d)), i).result())
          befH(d)(i) = bucket(tv.feed(sh(PBef(d)), i).result())
          aftH(d)(i) = bucket(tv.feed(sh(PAft(d)), i).result())
          if (i + 1 < n)
            biH(d)(i) = bucket(tv.feed(tv.feed(sh(PBi(d)), i).feed("_"), i + 1).result())
          d += 1
        }
        verb(i) = tv.verbLike(i)
        i += 1
      }
    }

    /** Hashed feature ids for an ordered pair — same ids, same order, same
      * multiplicity as Featurize.ids(tokens, m1, m2). */
    def ids(m1: Mention, m2: Mention): Array[Long] = {
      val forward = m1.begin <= m2.begin
      val d = if (forward) 0 else 1
      val (left, right) = if (forward) (m1, m2) else (m2, m1)
      val lo = math.min(math.max(left.end, 0), n)
      val hi = math.min(math.max(right.begin, 0), n)
      // primitive buffer (an ArrayBuffer[Long] would box every id — measurable
      // allocator churn at m² pairs per sentence); exact content bound:
      // (hi-lo) uni + (hi-lo-1) bi + dep + gap + tp + 2 bef + 2 aft
      val buf = new Array[Long](2 * math.max(hi - lo, 0) + 7)
      var m = 0
      var i = lo
      while (i < hi) {
        buf(m) = uniH(d)(i); m += 1
        if (i + 1 < hi) { buf(m) = biH(d)(i); m += 1 }
        i += 1
      }
      // dep chain: stream (prefix, tok1, ">", tok2, ...) through the hasher —
      // identical to hash(dir + "dep:" + chain.toString) with no builder
      var dep: StreamHash = null
      i = lo
      while (i < hi) {
        if (verb(i)) {
          if (dep == null) dep = new StreamHash(TextModel.FeatureSeed).feed(PDep(d))
          else dep.feed(">")
          tv.feed(dep, i)
        }
        i += 1
      }
      if (dep != null) { buf(m) = bucket(dep.result()); m += 1 }
      buf(m) = GapH(d)(math.min(math.max(hi - lo, 0), 10)); m += 1
      buf(m) = hashCat(PTp(d), m1.entType, "_", m2.entType); m += 1
      var k = math.max(left.begin - 2, 0)
      while (k < left.begin && k < n) { buf(m) = befH(d)(k); m += 1; k += 1 }
      k = right.end
      val kEnd = math.min(right.end + 2, n)
      while (k < kEnd) { if (k >= 0) { buf(m) = aftH(d)(k); m += 1 }; k += 1 }
      if (m == buf.length) buf else java.util.Arrays.copyOf(buf, m)
    }
  }

  /** Direct streaming featurization of ONE ordered pair — same ids, same
    * order, same multiplicity as `ids(tokens, m1, m2)` (FeaturizeSessionSpec
    * asserts), but hashing only the pair's own window positions: for the
    * common 2-mention sentence a [[Session]]'s 8-hashes-per-position
    * precompute over the whole sentence would mostly be wasted. */
  def pairIds(tv: U8Toks, m1: Mention, m2: Mention): Array[Long] = {
    val n = tv.length
    val forward = m1.begin <= m2.begin
    val d = if (forward) 0 else 1
    val (left, right) = if (forward) (m1, m2) else (m2, m1)
    val lo = math.min(math.max(left.end, 0), n)
    val hi = math.min(math.max(right.begin, 0), n)
    val buf = new Array[Long](2 * math.max(hi - lo, 0) + 7)
    var m = 0
    var i = lo
    while (i < hi) {
      buf(m) = bucket(tv.feed(sh(PUni(d)), i).result()); m += 1
      if (i + 1 < hi) {
        buf(m) = bucket(tv.feed(tv.feed(sh(PBi(d)), i).feed("_"), i + 1).result()); m += 1
      }
      i += 1
    }
    var dep: StreamHash = null
    i = lo
    while (i < hi) {
      if (tv.verbLike(i)) {
        if (dep == null) dep = sh(PDep(d)) else dep.feed(">")
        tv.feed(dep, i)
      }
      i += 1
    }
    if (dep != null) { buf(m) = bucket(dep.result()); m += 1 }
    buf(m) = GapH(d)(math.min(math.max(hi - lo, 0), 10)); m += 1
    buf(m) = hashCat(PTp(d), m1.entType, "_", m2.entType); m += 1
    var k = math.max(left.begin - 2, 0)
    while (k < left.begin && k < n) {
      buf(m) = bucket(tv.feed(sh(PBef(d)), k).result()); m += 1; k += 1
    }
    k = right.end
    val kEnd = math.min(right.end + 2, n)
    while (k < kEnd) {
      if (k >= 0) { buf(m) = bucket(tv.feed(sh(PAft(d)), k).result()); m += 1 }
      k += 1
    }
    if (m == buf.length) buf else java.util.Arrays.copyOf(buf, m)
  }

  /** The one candidate rule, shared by scoring ([[KgModel.scoreRelationsTv]])
    * and training ([[Train.candidateInstances]]): calls `f` with every
    * ordered pair of span-disjoint mentions of distinct entities and the
    * pair's hashed feature ids. Sentences with 3 or more mentions share one
    * [[Session]]; the common 2-mention sentence hashes its one window
    * directly with [[pairIds]] (identical ids either way). */
  def forEachCandidate(tv: U8Toks, ms: scala.collection.IndexedSeq[Mention])(
      f: (Mention, Mention, Array[Long]) => Unit): Unit = {
    val session = if (ms.length >= 3) new Session(tv) else null
    var a = 0
    while (a < ms.length) {
      var b = 0
      while (b < ms.length) {
        if (a != b) {
          val m1 = ms(a); val m2 = ms(b)
          if ((m1.end <= m2.begin || m2.end <= m1.begin) && m1.entityId != m2.entityId)
            f(m1, m2, if (session != null) session.ids(m1, m2) else pairIds(tv, m1, m2))
        }
        b += 1
      }
      a += 1
    }
  }

  /** The context-independent weighted classes of a forward planted instance of
    * `template` — used by the fixture generator to derive the weight table
    * (FIXTURES.md 2.4) with the SAME featurizer the pipeline runs. */
  def templateFeatures(templateTokens: IndexedSeq[String]): IndexedSeq[String] = {
    val subj = Mention(0L, "s", "X", 0, 1)
    val obj = Mention(1L, "o", "Y", templateTokens.length + 1, templateTokens.length + 2)
    val toks = ("subjtok" +: templateTokens) :+ "objtok"
    raw(toks, subj, obj).filter(f =>
      f.startsWith("F|btw:") || f.startsWith("F|btw2:") || f.startsWith("F|dep:"))
      .distinct
  }
}
