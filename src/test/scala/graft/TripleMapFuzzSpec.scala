package graft

import graft.fixtures.SplitMix64
import graft.plans.TripleMap
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Property fuzz for the hand-rolled [[TripleMap]] aggregation state
  * (VERDICT r4 Next #5): random (subj, pred, obj, score?, url?) multisets —
  * including null lineage-marker keys, forced grow(), hash collisions via
  * same-prefix same-length strings (hashOne reads only the 8-byte prefix and
  * the length, so "collideXY" twins always land in one probe chain), NaN /
  * null scores, and serialize → merge → deserialize round-trips — are checked
  * entry-for-entry against a plain Scala reference model with max(score)
  * null-ignoring semantics and byte-wise-min url. The Spark-side differential
  * (partialTriples vs partialTriplesGroupBy under null scores) lives in the
  * last test. */
class TripleMapFuzzSpec extends AnyFunSuite with SharedSpark {

  // pool engineered for collisions and edge shapes: the "collide*" family
  // shares prefix+length (identical hashOne), plus null, empty, multi-byte
  private val pool: Array[String] = Array(
    null, "", "a", "b", "collideA1", "collideA2", "collideA3",
    "xy", "xz", "prefix_same_0001", "prefix_same_0002",
    "élément", "中文", "long".*(20))

  private def u8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private final case class Op(s: String, p: String, o: String,
                              score: Option[Double], url: String)

  /** Reference model: exact multiset semantics of
    * groupBy(s,p,o).agg(count, max(score) null-ignoring, min url by bytes). */
  private def reference(ops: Seq[Op]): Map[(String, String, String), (Long, Option[Double], String)] =
    ops.groupBy(op => (op.s, op.p, op.o)).map { case (k, group) =>
      val n = group.size.toLong
      val scores = group.flatMap(_.score)
      // Spark double ordering == java.lang.Double.compare (NaN greatest)
      val mx = if (scores.isEmpty) None
      else Some(scores.max(Ordering.fromLessThan[Double](
        (a, b) => java.lang.Double.compare(a, b) < 0)))
      val urls = group.map(_.url).filter(_ != null)
      val mn = if (urls.isEmpty) null
      else urls.min(Ordering.fromLessThan[String](
        (a, b) => u8(a).compareTo(u8(b)) < 0))
      (k._1, k._2, k._3) -> ((n, mx, mn))
    }

  private def drain(m: TripleMap): Map[(String, String, String), (Long, Option[Double], String)] = {
    val out = mutable.Map[(String, String, String), (Long, Option[Double], String)]()
    m.foreachEntry { (s, p, o, n, sc, hs, u) =>
      val k = (if (s == null) null else s.toString,
        if (p == null) null else p.toString,
        if (o == null) null else o.toString)
      assert(!out.contains(k), s"duplicate key in map: $k")
      out(k) = ((n, if (hs) Some(sc) else None, if (u == null) null else u.toString))
    }
    out.toMap
  }

  private def serde(agg: graft.plans.TriplesMapAgg, m: TripleMap): TripleMap =
    agg.deserialize(agg.serialize(m))

  test("random multisets: update/merge/serde == reference model (1000 rounds)") {
    val agg = graft.plans.TriplesMapAgg(null, null, null, null, null)
    val rng = new SplitMix64(0x5eed5eedL)
    for (round <- 0 until 1000) {
      val nOps = 1 + rng.nextInt(64)
      val ops = (0 until nOps).map { _ =>
        def pick() = pool(rng.nextInt(pool.length))
        val sc = rng.nextInt(4) match {
          case 0 => None
          case 1 => Some(Double.NaN)
          case _ => Some(java.lang.Double.longBitsToDouble(
            0x3FF0000000000000L | (rng.nextLong() & 0xFFFFFFFFL))) // [1,2)
        }
        Op(pick(), pick(), pick(), sc, pick())
      }
      // split into 1-4 chunks; each chunk -> its own map via update();
      // serde-round-trip every chunk; merge right-to-left via put()
      val nChunks = 1 + rng.nextInt(4)
      val chunks = ops.grouped(math.max(1, nOps / nChunks)).toSeq
      val maps = chunks.map { chunk =>
        val m = new TripleMap()
        chunk.foreach(op => m.update(u8(op.s), u8(op.p), u8(op.o),
          op.score.getOrElse(0d), op.score.isDefined, u8(op.url)))
        serde(agg, m)
      }
      val merged = maps.reduceLeft { (a, b) =>
        b.foreachEntry((s, p, o, n, sc, hs, u) => a.put(s, p, o, n, sc, hs, u))
        a
      }
      val got = drain(serde(agg, merged))
      val want = reference(ops)
      assert(got.keySet == want.keySet,
        s"round $round keys differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
      for ((k, (n, mx, mn)) <- want) {
        val (gn, gmx, gmn) = got(k)
        assert(gn == n, s"round $round n($k): got $gn want $n")
        val scoreEq = (gmx, mx) match {
          case (None, None) => true
          case (Some(a), Some(b)) =>
            java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
          case _ => false
        }
        assert(scoreEq, s"round $round score($k): got $gmx want $mx")
        assert(gmn == mn, s"round $round url($k): got $gmn want $mn")
      }
    }
  }

  test("forced grow(): >512 distinct collide-prefixed keys survive rehash + serde") {
    val agg = graft.plans.TriplesMapAgg(null, null, null, null, null)
    val m = new TripleMap()
    // same length + same 8-byte prefix for ALL keys -> one giant probe chain
    val keys = (0 until 1500).map(i => f"collide$i%08d")
    keys.zipWithIndex.foreach { case (k, i) =>
      m.update(u8(k), u8("p"), u8(k), i.toDouble, true, u8(s"u$i"))
    }
    val got = drain(serde(agg, m))
    assert(got.size == 1500)
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(got((k, "p", k)) == ((1L, Some(i.toDouble), s"u$i")))
    }
  }

  test("maxEntries guardrail fails fast with the conf name, not OOM") {
    val m = new TripleMap(maxEntries = 4)
    (0 until 4).foreach(i => m.update(u8(s"s$i"), u8("p"), u8("o"), 0d, true, null))
    // hitting an EXISTING key is still fine at the cap
    m.update(u8("s0"), u8("p"), u8("o"), 1d, true, null)
    val e = intercept[IllegalStateException] {
      m.update(u8("s999"), u8("p"), u8("o"), 0d, true, null)
    }
    assert(e.getMessage.contains("spark.graft.triplesAgg.maxEntries"))
    assert(e.getMessage.contains("more parts"))
  }

  test("Spark differential: partialTriples == partialTriplesGroupBy incl. null scores") {
    val schema = StructType(Seq(
      StructField("part_id", IntegerType), StructField("subj", StringType),
      StructField("pred", StringType), StructField("obj", StringType),
      StructField("score", DoubleType), StructField("url", StringType)))
    val rng = new SplitMix64(0xabcdefL)
    val rows = (0 until 400).map { i =>
      def pick(a: Array[String]) = a(rng.nextInt(a.length))
      Row(i % 4, pick(Array("e1", "e2", null)), pick(Array("born_in", "works_at")),
        pick(Array("e3", "e4", null)),
        // ~half null scores, so some (part, s, p, o) groups are all-null
        if (rng.nextInt(2) == 0) null else rng.nextInt(16).toDouble,
        pick(Array("http://a", "http://b", null)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val fast = canon(graft.kg.Stages.partialTriples(df))
    val oracle = canon(StageOracles.partialTriplesGroupBy(df))
    assert(fast == oracle,
      s"differential mismatch:\nfast=${fast.take(5)}\noracle=${oracle.take(5)}")
  }
}
