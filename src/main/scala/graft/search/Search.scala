package graft.search

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.CvResults
import graft.exec.{FitSideData, Learner, Metrics, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix
import graft.plan.{ParamGrid, ParamSampler}

/** The broadcast-vs-data-parallel regime threshold shared by every
  * auto-routed fit surface (SURVEY §7.4): above this estimated matrix
  * size, `fit` switches from driver-collect + broadcast to a distributed
  * data-parallel executor (which would otherwise OOM long before a user
  * discovers the fallback exists). Default 1 GiB — roughly what a healthy
  * driver/executor heap absorbs comfortably. One definition so the
  * policy can't drift between the search, forest, and OvR surfaces.
  */
trait BroadcastBudgeted {
  protected var broadcastBudgetBytes: Long = 1L << 30
  def withBroadcastBudget(bytes: Long): this.type = {
    broadcastBudgetBytes = bytes; this
  }
}

/** Concurrent Spark-job submission width of every data-parallel regime's
  * INDEPENDENT-fit axis (candidates x folds, classes, class pairs, OOF
  * folds, GBT classes). Each fit is already distributed; submitting them
  * from `DefaultWidth` driver threads (`Par.concurrently`) overlaps the
  * per-job driver-side phases and lets the scheduler interleave stages,
  * instead of serializing N distributed jobs with an idle cluster
  * between them. Fits are seed-isolated and independent, so concurrency
  * changes wall clock only, never models (spec-pinned on the OvO
  * surface). One constant, no setter: every axis runs the same width.
  */
object JobParallel { val DefaultWidth: Int = 8 }

/** fit_params side-data configuration shared by the broadcast-regime fit
  * surfaces (search, OvR, OvO): the eval slice + patience flow into
  * every fan-out fit and the refit. Over budget only the grid search's
  * GBT fits early-stop on it (the eval slice is driver-resident, so they
  * stop exactly like the broadcast regime); the Spark ML logistic solver
  * exposes no eval hook — `max_iter` still caps its iterations. The
  * multilabel surface is deliberately NOT covered: its eval truth is a
  * label SET per row, which `FitSideData`'s double-typed labels cannot
  * represent.
  */
trait FitSideConfigured {
  protected var fitSide: graft.exec.FitSideData = graft.exec.FitSideData.empty
  def withFitSideData(side: graft.exec.FitSideData): this.type = {
    fitSide = side; this
  }
}

final case class SearchResult(cvResults: DataFrame,
                              bestParams: Map[String, Double],
                              bestScore: Double,
                              bestCandidateId: Int,
                              bestModel: Model,
                              oofPreds: Option[Array[Array[Double]]] = None)

/** Search meta-estimators: distributed hyperparameter search over
  * candidates × CV folds (reference `search.py` DistBaseSearchCV /
  * DistGridSearchCV / DistRandomizedSearchCV / DistMultiModelSearch).
  *
  * Pipeline (SURVEY.md §3.1): driver enumerates the candidate lattice →
  * one (candidate, fold) fit-and-score per task (`SearchLoop`: against
  * the broadcast matrix through `ModelParallel.fanOut`, or data-parallel
  * past the budget) → `CvResults.aggregate` (groupBy + window rank) →
  * best candidate → refit on all rows.
  */
class DistGridSearchCV(learner: Learner,
                       grid: Map[String, Seq[Double]],
                       cv: Int = 5,
                       scoring: String = "accuracy",
                       iid: Boolean = false,
                       seed: Long = 42,
                       errorScore: Option[Double] = None)
    extends Serializable with BroadcastBudgeted with FitSideConfigured {

  /** Secondary metrics (reference scorer-dict): each task still fits once;
    * cv_results grows mean_test_<m>/std_test_<m> columns per metric while
    * rank/best stay on the primary `scoring` (the refit metric).
    */
  private var extraScorings: Seq[String] = Nil
  def withExtraScorings(names: Seq[String]): this.type = {
    extraScorings = names; this
  }

  /** `preds=True` (reference `search.py:551-560`): keep out-of-fold
    * predict_proba of the BEST candidate — each row predicted by the fold
    * model that never trained on it. Broadcast regime only: an over-budget
    * `fit` with preds fails loudly instead of returning none.
    */
  protected var preds: Boolean = false
  def withPreds(flag: Boolean = true): this.type = { preds = flag; this }

  // fit_params side data (reference `search.py:347,435` threads caller
  // fit_params into every candidate × fold fit AND the refit; its xgboost
  // test exercises eval-set early stopping, `tests/test_spark.py:165-187`)
  // comes from FitSideConfigured.withFitSideData.

  protected def candidates(): Seq[Map[String, Double]] =
    ParamGrid.expand(grid.map { case (k, v) => k -> v.map(_.asInstanceOf[Any]) })
      .map(_.map { case (k, v) => k -> v.asInstanceOf[Double] })

  /** Auto-routed fit: collect + broadcast while the estimated matrix fits
    * the budget; switch to the data-parallel executor when it doesn't
    * (SURVEY §7.4's 100 TB-safe generalization) — one public surface,
    * two regimes, same result type.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): SearchResult = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, cv, seed)
      fitMatrix(spark, matrix)
    } else fitDataParallel(spark, df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route: each (candidate, fold) is a distributed
    * `DataParallelFit` over the full DataFrame (`SearchLoop`); candidate
    * ids (and so cv_results/param columns) stay aligned with the
    * broadcast path. The engine's `c` passes through unchanged — the fit
    * translates it to Spark ML's regParam per fit (regParam = 1/(c*nTrain),
    * matching the engine objective's lambda = 1/(c*n)); tree params are
    * native to both regimes, and GBT early-stops on the fit_params eval
    * slice exactly like broadcast. Scoring, `iid` weighting and
    * `extraScorings` run through the same engine metric surface as the
    * broadcast route, and the refit best model is the broadcast route's
    * model type. `preds` is a broadcast-regime feature (OOF arrays are
    * driver-sized) and fails loudly here.
    */
  private def fitDataParallel(spark: SparkSession, df: DataFrame,
                              featuresCol: String, labelCol: String): SearchResult = {
    require(!preds, "withPreds() is broadcast-only (out-of-fold arrays are " +
      s"driver-sized) and the estimated matrix exceeds the $broadcastBudgetBytes-" +
      "byte budget; use OutOfFold.oofProbaDF for DataFrame-sized OOF " +
      "probabilities, or raise withBroadcastBudget")
    DataParallelFit.requireSupported(learner)
    val cands = candidates()
    require(cands.nonEmpty, "empty parameter grid")
    val r = DpCvFrame.using(df, featuresCol, labelCol, cv, seed) { cvf =>
      SearchLoop.dataParallel(cvf, SearchLoop.candidateKey, keyed(cands),
        scoring, extraScorings, iid, fitSide,
        fitSeed = (_, _) => seed, refitSeed = seed)
    }
    result(spark, cands, r, oof = None)
  }

  /** Group-aware CV (`fit(X, y, groups)` flowing into `check_cv`,
    * reference `search.py:334,379`): folds come from GroupKFold over
    * `groupCol`, so no group's rows are split between train and test.
    */
  def fit(spark: SparkSession, df: DataFrame, featuresCol: String,
          labelCol: String, groupCol: String): SearchResult = {
    // Group CV has no data-parallel executor (GroupKFold balancing is
    // driver-side): enforce the broadcast budget LOUDLY instead of
    // silently collecting an over-budget matrix and OOMing the driver.
    val est = ModelParallel.estimateMatrixBytes(df, featuresCol)
    require(est <= broadcastBudgetBytes,
      s"group-aware fit is broadcast-only (estimated matrix ~$est bytes " +
        s"exceeds the $broadcastBudgetBytes-byte budget); shrink the data, " +
        "raise withBroadcastBudget, or drop groupCol for the auto-routed fit")
    fitMatrix(spark,
      ModelParallel.collectMatrixGrouped(df, featuresCol, labelCol, groupCol, cv))
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): SearchResult = {
    val cands = candidates()
    require(cands.nonEmpty, "empty parameter grid")
    val r = SearchLoop.broadcast(spark, matrix, SearchLoop.candidateKey,
      keyed(cands), cv, scoring, extraScorings, iid, errorScore, fitSide,
      fitSeed = (ci, fold) => seed + ci * cv + fold, refitSeed = seed)
    // preds_: out-of-fold proba of the best candidate — row i predicted by
    // the fold model that never saw row i (`search.py:551-560`).
    val oof =
      if (preds) Some(OutOfFold.oofProba(spark, matrix, learner, cv, seed,
        cands(r.best), fitSide))
      else None
    result(spark, cands, r, oof)
  }

  private def keyed(cands: Seq[Map[String, Double]]): Seq[SearchLoop.Candidate] =
    cands.zipWithIndex.map { case (p, ci) => SearchLoop.Candidate(Seq(ci), learner, p) }

  /** cv_results with the param columns attached (a small driver-side
    * frame, broadcast join), ordered by candidate.
    */
  private def result(spark: SparkSession, cands: Seq[Map[String, Double]],
                     r: SearchLoop.Outcome,
                     oof: Option[Array[Array[Double]]]): SearchResult = {
    val paramNames = cands.head.keys.toSeq.sorted
    val paramRows = cands.zipWithIndex.map { case (m, i) =>
      Row.fromSeq(i +: paramNames.map(m))
    }
    val schema = StructType(SearchLoop.candidateKey ++ paramNames.map(n =>
      StructField(s"param_$n", DoubleType, nullable = false)))
    import scala.jdk.CollectionConverters._
    val params = spark.createDataFrame(paramRows.asJava, schema)
    SearchResult(r.agg.join(broadcast(params), "candidate_id").orderBy("candidate_id"),
      cands(r.best), r.bestScore, r.best, r.bestModel, oof)
  }
}

class DistRandomizedSearchCV(learner: Learner,
                             grid: Map[String, Seq[Double]],
                             nIter: Int,
                             cv: Int = 5,
                             scoring: String = "accuracy",
                             iid: Boolean = false,
                             seed: Long = 42,
                             errorScore: Option[Double] = None)
  extends DistGridSearchCV(learner, grid, cv, scoring, iid, seed, errorScore) {

  override protected def candidates(): Seq[Map[String, Double]] =
    ParamSampler.sample(
      grid.map { case (k, v) => k -> v.map(_.asInstanceOf[Any]) }, nIter, seed)
      .map(_.map { case (k, v) => k -> v.asInstanceOf[Double] })
}

/** Multi-armed search over heterogeneous (name, learner, grid) triples
  * (reference `search.py:717-908`): sample `n` candidates per model, fit
  * models × candidates × folds in ONE fan-out, aggregate per (model,
  * candidate), report per-model winners and refit the global best.
  */
class DistMultiModelSearch(models: Seq[(String, Learner, Map[String, Seq[Double]])],
                           n: Int = 5,
                           cv: Int = 5,
                           scoring: String = "accuracy",
                           seed: Long = 42)
    extends Serializable with BroadcastBudgeted {
  require(models.map(_._1).distinct.size == models.size,
    s"model names must be unique (they key the cv_results rows): " +
      models.map(_._1).mkString(", "))

  final case class MultiResult(cvResults: DataFrame,
                               bestModelName: String,
                               bestParams: Map[String, Double],
                               bestScore: Double,
                               bestModel: Model)

  private val keyFields = Seq(
    StructField("model_name", StringType, nullable = false),
    StructField("candidate_id", IntegerType, nullable = false))

  /** Auto-routed fit: the multi-armed race collects + broadcasts while
    * the matrix fits the budget; past it, every (model, candidate, fold)
    * becomes a distributed `DataParallelFit` scored by
    * `DistributedScore` — both through the grid search's `SearchLoop`,
    * with the same engine metric surface, cv_results keying and refit
    * contract, so the caller never sees which regime ran.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): MultiResult = {
    // Per-model candidate draws; rows are keyed by (model_name,
    // per-model candidate index) — names, not arithmetic id packing, so
    // candidate counts can never collide across models. Per-fit seeds get
    // a globally-unique running offset — without it, candidate pi of
    // model A and candidate pi of model B would draw identical
    // subsampling / random-split streams (correlated scores across
    // entrants).
    val drawn = models.zipWithIndex.map { case ((name, learner, grid), mi) =>
      (name, learner, ParamSampler.sample(
        grid.map { case (k, v) => k -> v.map(_.asInstanceOf[Any]) }, n, seed + mi)
        .map(_.map { case (k, v) => k -> v.asInstanceOf[Double] }))
    }
    val seedOffsets = drawn.scanLeft(0)(_ + _._3.size * cv).init
    val cands = for {
      ((name, learner, params), off) <- drawn.zip(seedOffsets)
      (p, pi) <- params.zipWithIndex
    } yield (SearchLoop.Candidate(Seq(name, pi), learner, p), seed + off + pi * cv)
    val fitSeed = (ci: Int, fold: Int) => cands(ci)._2 + fold
    val r =
      if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes)
        SearchLoop.broadcast(spark,
          ModelParallel.collectMatrix(df, featuresCol, labelCol, cv, seed),
          keyFields, cands.map(_._1), cv, scoring, Nil, iid = false,
          errorScore = None, FitSideData.empty, fitSeed, refitSeed = seed)
      else {
        drawn.foreach { case (name, learner, _) =>
          DataParallelFit.requireSupported(learner, entrant = name)
        }
        // DpCvFrame hashes folds, not labels; the broadcast route
        // stratifies instead — fold SCHEMES differ between regimes,
        // scores agree in expectation (same contract as the grid search)
        DpCvFrame.using(df, featuresCol, labelCol, cv, seed) { cvf =>
          SearchLoop.dataParallel(cvf, keyFields, cands.map(_._1), scoring,
            Nil, iid = false, FitSideData.empty, fitSeed,
            refitSeed = seed)
        }
      }
    val best = cands(r.best)._1
    MultiResult(r.agg.orderBy("model_name", "candidate_id"),
      best.key.head.toString, best.params, r.bestScore, r.bestModel)
  }
}

/** The one CV loop of the grid search, the multi-model race and the
  * feature eliminator, in both regimes: every (candidate, fold) is
  * fitted once and scored under every metric, the fold scores become a
  * driver-local frame, and `CvResults.aggregate`/`aggregateMulti` ranks
  * the candidates; the best one is refitted on all rows. A regime
  * supplies only its fold scorer and its refit. Callers keep their
  * cv_results key columns, their per-fit seeds and their param columns.
  */
private[search] object SearchLoop {
  /** The cv_results key of the grid search and the eliminator. */
  val candidateKey = Seq(StructField("candidate_id", IntegerType, nullable = false))

  /** `key`: the candidate's cv_results key values, in `keyFields` order. */
  final case class Candidate(key: Seq[Any], learner: Learner,
                             params: Map[String, Double])

  /** `agg`: one row per candidate over driver-local fold scores — a
    * re-evaluation re-aggregates a few rows and never refits, so nothing
    * is cached; `best` indexes the candidates.
    */
  final case class Outcome(agg: DataFrame, best: Int, bestScore: Double,
                           bestModel: Model)

  /** Broadcast regime: one `ModelParallel.fanOut` task per (candidate,
    * fold) over the matrix. `errorScore`: Some(v) fills a failed FIT with
    * v under every metric and n_test = 0 (reference `error_score`,
    * `search.py:232-259`); None rethrows. A scorer exception always
    * surfaces — it is a bug, not a score to fake (sklearn semantics).
    */
  def broadcast(spark: SparkSession, matrix: TrainMatrix,
                keyFields: Seq[StructField], cands: Seq[Candidate], cv: Int,
                scoring: String, extraScorings: Seq[String], iid: Boolean,
                errorScore: Option[Double], side: FitSideData,
                fitSeed: (Int, Int) => Long, refitSeed: Long): Outcome = {
    val metrics = scoring +: extraScorings
    run(spark, keyFields, cands, cv, scoring, extraScorings, iid) { tasks =>
      val items = tasks.map { case (ci, fold) => (cands(ci), fold, fitSeed(ci, fold)) }
      ModelParallel.fanOut(spark, matrix, items) { case (m, (c, fold, seed)) =>
        val (trainX, trainY) = m.trainOf(fold)
        val (testX, testY) = m.testOf(fold)
        val fitted =
          try Right(c.learner.fit(trainX, trainY, c.params, seed, side))
          catch { case e: Exception => Left(e) }
        fitted match {
          case Right(model) =>
            (Metrics.multi(metrics)(model, testX, testY), testX.length.toLong)
          case Left(e) => errorScore match {
            case Some(v) => (metrics.map(_ -> v).toMap, 0L)
            case None    => throw e
          }
        }
      }.toSeq
    } { c => // the full matrix (reference `search.py:543-550`), same side data
      c.learner.fit(matrix.x, matrix.y, c.params, refitSeed, side)
    }
  }

  /** Data-parallel regime: each (candidate, fold) is a [[DataParallelFit]]
    * on the fold frame's `_x`/`_y`, submitted `JobParallel.DefaultWidth`
    * at a time
    * (`Par.concurrently`, order-preserving) and scored by
    * [[DistributedScore.scoreMany]].
    */
  def dataParallel(cvf: DpCvFrame, keyFields: Seq[StructField],
                   cands: Seq[Candidate], scoring: String,
                   extraScorings: Seq[String], iid: Boolean, side: FitSideData,
                   fitSeed: (Int, Int) => Long, refitSeed: Long): Outcome = {
    def fit(c: Candidate, data: DataFrame, seed: Long, nRows: Long): Model =
      DataParallelFit.fit(c.learner, data, "_x", "_y", c.params, seed, nRows,
        cvf.classesFor(c.learner),
        // no eval history: concurrent fits appending to ONE driver buffer
        // would interleave (and race) — the visibility the broadcast
        // regime's executor-side fits give it
        side.copy(history = null))
    val metrics = scoring +: extraScorings
    run(cvf.prepared.sparkSession, keyFields, cands, cvf.cv, scoring,
        extraScorings, iid) { tasks =>
      graft.ops.Par.concurrently(tasks, JobParallel.DefaultWidth) { case (ci, fold) =>
        val model = fit(cands(ci), cvf.train(fold), fitSeed(ci, fold),
          cvf.nTrain(fold))
        (DistributedScore.scoreMany(metrics, model, cvf.test(fold), "_x", "_y"),
          cvf.nTest(fold))
      }
    } { c => fit(c, cvf.prepared, refitSeed, cvf.nTotal) }
  }

  /** The shared tail: `scoreFolds` maps the (candidate, fold) lattice,
    * in order, to (metric -> score, n_test); then aggregate, best, refit.
    */
  private def run(spark: SparkSession, keyFields: Seq[StructField],
                  cands: Seq[Candidate], cv: Int, scoring: String,
                  extraScorings: Seq[String], iid: Boolean)(
      scoreFolds: Seq[(Int, Int)] => Seq[(Map[String, Double], Long)])(
      refit: Candidate => Model): Outcome = {
    val tasks = for (ci <- cands.indices; fold <- 0 until cv) yield (ci, fold)
    val rows = tasks.zip(scoreFolds(tasks)).map { case ((ci, fold), (ms, nTest)) =>
      Row.fromSeq(cands(ci).key ++ Seq(fold, ms(scoring), nTest, ms))
    }
    val schema = StructType(keyFields ++ Seq(
      StructField("fold_id", IntegerType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("n_test", LongType, nullable = false),
      StructField("scores", MapType(StringType, DoubleType, valueContainsNull = false))))
    import scala.jdk.CollectionConverters._
    val scores = spark.createDataFrame(rows.asJava, schema)
    val keyCols = keyFields.map(_.name)
    val agg =
      if (extraScorings.isEmpty) CvResults.aggregate(scores, keyCols, iid = iid)
      else CvResults.aggregateMulti(scores, keyCols, scoring +: extraScorings, iid = iid)
    val bestRow = CvResults.best(agg, keyCols).head()
    val best = cands.indexWhere(_.key == keyCols.map(bestRow.getAs[Any]))
    Outcome(agg, best, bestRow.getAs[Double]("mean_test_score"), refit(cands(best)))
  }
}
