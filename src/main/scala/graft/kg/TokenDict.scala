package graft.kg

import org.apache.spark.unsafe.types.UTF8String

/** UTF8String token trie over the entity dictionary for the A6 greedy scan
  * (built once per executor JVM from the broadcast model). A surface of any
  * token length is one root-to-node path; the scan takes, at each position,
  * the longest surface that starts there.
  *
  * The root level is an open-addressed table keyed by a surface's first
  * token. The java.util.HashMap twins this replaced cost the round-4 JFR
  * ~20% of executor CPU: two maps probed per position (two O(len)
  * hashCodes), plus equals chains through collision/tree bins
  * (ByteArrayMethods.arrayEquals was the single hottest frame). Here the
  * table is power-of-2 sized at load <= 0.25 with linear probing, so a miss
  * — the overwhelmingly common case for webtext tokens — usually terminates
  * on the first empty slot without a single byte comparison. Deeper levels
  * are a short linear scan of a node's children, only reached when the
  * previous token matched.
  */
final class TokenDict private (
    mask: Int,
    keys: Array[UTF8String],
    roots: Array[TokenDict.Node]) extends Serializable {

  /** Slot of `t` in the root table, or -1 when no surface starts with `t`. */
  def find(t: UTF8String): Int = {
    var idx = TokenDict.slotHash(t) & mask
    while (true) {
      val k = keys(idx)
      if (k == null) return -1
      if ((k eq t) || k.equals(t)) return idx
      idx = (idx + 1) & mask
    }
    -1 // unreachable: load < 1 guarantees an empty slot
  }

  /** Trie node of the first token at a found slot. */
  def rootAt(slot: Int): TokenDict.Node = roots(slot)
}

object TokenDict {

  /** One trie node: the surface ending here (null when it is only a prefix
    * of longer surfaces) and the (next-token, child) columns. */
  final class Node extends Serializable {
    var entry: DictEntry = _
    var next: Array[UTF8String] = Array.empty
    var kids: Array[Node] = Array.empty

    /** Child reached by token `t`, or null. */
    def child(t: UTF8String): Node = {
      var j = 0
      while (j < next.length) {
        if (next(j).equals(t)) return kids(j)
        j += 1
      }
      null
    }

    private[TokenDict] def childOrAdd(t: UTF8String): Node = {
      val c = child(t)
      if (c != null) c
      else {
        val n = new Node
        next = next :+ t
        kids = kids :+ n
        n
      }
    }
  }

  /** One-load slot hash: getPrefix (first <= 8 bytes, zero-padded, one
    * unaligned read) multiply-mixed with the byte length. Replaces the
    * O(len) murmur UTF8String.hashCode on the probe path — the A6 scan
    * probes EVERY token of every sentence and almost always misses, and
    * that murmur was the bulk of scanMentionsU8's 8.8% of executor CPU
    * (round-4 JFR). At load <= 0.25 a miss still usually ends on the first
    * empty slot; tokens sharing an 8-byte prefix AND length chain linearly,
    * which equals() resolves exactly. Same function at build and probe time
    * (the table is rebuilt per JVM, never serialized, so the hash never has
    * to be stable across JVMs). */
  private[kg] def slotHash(t: UTF8String): Int = {
    val x = (t.getPrefix ^ (t.numBytes.toLong * 0xC2B2AE3D27D4EB4FL)) * 0x9E3779B97F4A7C15L
    (x >>> 32).toInt
  }

  /** Build from the model's surface → entry map. A surface's tokens are its
    * single-space-separated parts, the same split the tokenizer's output is
    * joined back with. */
  def build(dict: Map[String, DictEntry]): TokenDict = {
    val paths = dict.toSeq.sortBy(_._1).map { case (s, e) =>
      s.split(" ", -1).map(UTF8String.fromString) -> e
    }
    val heads = paths.map(_._1.head).distinct
    var cap = 8
    while (cap < heads.length * 4) cap <<= 1
    val mask = cap - 1
    val keys = new Array[UTF8String](cap)
    val roots = new Array[Node](cap)
    heads.foreach { k =>
      var idx = slotHash(k) & mask
      while (keys(idx) != null) idx = (idx + 1) & mask
      keys(idx) = k
      roots(idx) = new Node
    }
    val d = new TokenDict(mask, keys, roots)
    paths.foreach { case (toks, e) =>
      var node = roots(d.find(toks.head))
      var j = 1
      while (j < toks.length) { node = node.childOrAdd(toks(j)); j += 1 }
      node.entry = e
    }
    d
  }
}
