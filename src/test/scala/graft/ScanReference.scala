package graft

import graft.kg.{DictEntry, Mention}

/** Brute-force reference for the A6 greedy longest-match mention scan,
  * independent of the shipped trie: at each position try every surface
  * length from the longest down to one against a surface-keyed map; take the
  * first hit and skip its tokens, or advance one token on a miss. */
object ScanReference {

  /** Duplicate surfaces: the highest prior, then the lowest entity id wins. */
  def resolve(entries: Seq[DictEntry]): Map[String, DictEntry] =
    entries.groupBy(_.surface).map { case (s, grp) =>
      s -> grp.sortBy(e => (-e.prior, e.entityId)).head
    }

  def scan(dict: Map[String, DictEntry], tokens: IndexedSeq[String]): IndexedSeq[Mention] = {
    val maxLen = (dict.keys.map(_.split(" ", -1).length) ++ Seq(0)).max
    val out = Vector.newBuilder[Mention]
    var i = 0
    while (i < tokens.length) {
      val hit = (math.min(maxLen, tokens.length - i) to 1 by -1).iterator
        .flatMap(len => dict.get(tokens.slice(i, i + len).mkString(" ")).map(len -> _))
        .nextOption()
      hit match {
        case Some((len, e)) =>
          out += Mention(e.entityId, e.canonical, e.entType, i, i + len)
          i += len
        case None => i += 1
      }
    }
    out.result()
  }
}
