package graft.kg

import graft.text.TextModel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** In-engine scorer training (SURVEY.md §3.1 step 2 — the reference's
  * preprocess → TRAIN → predict lifecycle; BASELINE.json:6 "feature hashing" +
  * logistic-regression-style scoring).
  *
  * Distant supervision: every type-compatible candidate mention pair is
  * labeled positive iff its (subj, pred, obj) is a member of the gold KB —
  * no sentence-level labels exist, exactly the reference's setup. One binary
  * L2 logistic regression per predicate (one-vs-rest over the shared hashed
  * feature space) is fit with spark.ml (distributed LBFGS over the same
  * 2^18-bucket hashed features the scorer consumes), with fitIntercept=false
  * so the decision boundary is w·x = 0 and the serving threshold is tau = 0 —
  * the learned weight rows drop into [[KgModel.fromData]] unchanged.
  *
  * Scale shape: candidate extraction runs the serving flow's stages, scan,
  * candidate rule and featurizer in one narrow UDF (per-partition, no
  * shuffle); labeling is a broadcast left-join per predicate against the
  * (small) gold KB; each LBFGS iteration is one treeAggregate over the
  * candidates — linear scans, no driver-side feature matrices. The
  * candidate frame is persisted once and shared by all predicates' fits.
  */
object Train {

  /** One candidate training instance (pre-labeling). */
  final case class CandidateInstance(
      subj: String, obj: String, subjType: String, objType: String,
      fids: Array[Long])

  final case class Trained(
      weightRows: Seq[(String, Long, Double)], tau: Double,
      perPred: Seq[PredStats])

  /** nIter/finalObjective expose LBFGS convergence per predicate: nIter ==
    * the configured maxIter means the optimizer was CUT OFF rather than
    * converged — a degenerate fit is then visible in the TrainMain summary
    * instead of silently shipping weak weights. (-1 objective = no fit ran:
    * the predicate had no positives, no candidates, or only positives.) */
  final case class PredStats(pred: String, nCand: Long, nPos: Long, nWeights: Long,
                             nIter: Int = 0, finalObjective: Double = -1.0)

  /** T1 — candidate instances: one row per candidate of the serving rule
    * ([[Featurize.forEachCandidate]]: ordered, span-disjoint, distinct
    * entities) with its hashed features. Each sentence's tokens are
    * converted to UTF8String once and run through the same scan
    * ([[KgModel.scanMentionsU8]]) and featurizer as [[Stages.relations]],
    * which emits the pair's score instead. Null tokens (out-of-scope and
    * barren pages) give no rows. `model` only needs the dictionary (weights
    * may be empty). */
  def candidateInstances(tokenized: DataFrame, model: Broadcast[KgModel]): DataFrame = {
    val candUdf = udf { (tokens: Seq[String]) =>
      val out = Seq.newBuilder[CandidateInstance]
      if (tokens != null) {
        val toks = tokens.iterator.map(UTF8String.fromString).toArray
        Featurize.forEachCandidate(new Featurize.U8Toks(toks), model.value.scanMentionsU8(toks)) {
          (m1, m2, fids) =>
            out += CandidateInstance(m1.canonical, m2.canonical, m1.entType, m2.entType, fids)
        }
      }
      out.result()
    }
    tokenized
      .select(explode(candUdf(col("tokens"))).as("c"))
      .select(col("c.subj").as("subj"), col("c.obj").as("obj"),
        col("c.subjType").as("subj_type"), col("c.objType").as("obj_type"),
        col("c.fids").as("fids"))
  }

  /** T2 — distant-supervision labels for one predicate: candidates with the
    * predicate's type signature, label 1.0 iff (subj, pred, obj) ∈ gold. */
  def labeled(cands: DataFrame, gold: DataFrame, pred: Predicate): DataFrame = {
    val kb = gold.filter(col("pred") === pred.pred)
      .select(col("subj"), col("obj")).distinct()
      .withColumn("label", lit(1.0))
    cands
      .filter(col("subj_type") === pred.subjType && col("obj_type") === pred.objType)
      .join(broadcast(kb), Seq("subj", "obj"), "left")
      .na.fill(0.0, Seq("label"))
  }

  /** Hashed feature ids (with multiplicity) → a sparse ml vector. */
  private val toVec = udf { (fids: Seq[Long]) =>
    val counts = scala.collection.mutable.TreeMap.empty[Int, Double]
    fids.foreach { f =>
      val i = f.toInt
      counts.update(i, counts.getOrElse(i, 0.0) + 1.0)
    }
    Vectors.sparse(TextModel.FeatureBuckets, counts.toSeq)
  }

  /** T3 — fit one-vs-rest logistic regressions over a prepared candidate
    * frame; returns weight rows in the fixture `weights` schema plus the
    * serving tau (0.0 — the LR decision boundary; fitIntercept=false). */
  def fit(cands: DataFrame, preds: Seq[Predicate], gold: DataFrame,
          regParam: Double = 0.01, maxIter: Int = 60,
          minAbsWeight: Double = 1e-6): Trained = {
    val cached = cands.persist()
    try {
      val results = preds.sortBy(_.pred).map { p =>
        val df = labeled(cached, gold, p)
          .select(toVec(col("fids")).as("features"), col("label"))
          .persist()
        val nCand = df.count()
        val nPos = df.filter(col("label") === 1.0).count()
        val (rows, nIter, objective) =
          if (nCand == 0L || nPos == 0L || nPos == nCand) (Seq.empty, 0, -1.0)
          else {
            val lr = new LogisticRegression()
              .setFitIntercept(false).setStandardization(false)
              .setRegParam(regParam).setMaxIter(maxIter)
            val mdl = lr.fit(df)
            val coef = mdl.coefficients.toSparse
            val out = Seq.newBuilder[(String, Long, Double)]
            var j = 0
            while (j < coef.indices.length) {
              val w = coef.values(j)
              if (math.abs(w) >= minAbsWeight) out += ((p.pred, coef.indices(j).toLong, w))
              j += 1
            }
            val s = mdl.summary
            (out.result(), s.totalIterations,
              if (s.objectiveHistory.nonEmpty) s.objectiveHistory.last else -1.0)
          }
        df.unpersist()
        (rows, PredStats(p.pred, nCand, nPos, rows.size.toLong, nIter, objective))
      }
      Trained(results.flatMap(_._1), tau = 0.0, perPred = results.map(_._2))
    } finally { cached.unpersist(); () }
  }

  /** End-to-end training from a raw webpages frame: the pipeline's own
    * A1–A5 flow ([[Stages.tokenizedPages]]) → candidates → labels → LR.
    * `dictModel` carries the dictionary only; its weights are ignored. */
  def fromCorpus(spark: SparkSession, webpages: DataFrame,
                 dictModel: Broadcast[KgModel], preds: Seq[Predicate],
                 gold: DataFrame, langs: Seq[String] = Seq("en"),
                 numParts: Int = 32, regParam: Double = 0.01): Trained = {
    fit(candidateInstances(Stages.tokenizedPages(webpages, langs, numParts), dictModel),
      preds, gold, regParam)
  }
}
