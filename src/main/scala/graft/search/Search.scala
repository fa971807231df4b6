package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField}

import graft.agg.CvResults
import graft.exec.{Learner, Model, ModelParallel}
import graft.exec.ModelParallel.{FitTask, TrainMatrix}
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

/** Concurrent Spark-job submission width for the data-parallel regime's
  * INDEPENDENT-fit axes (candidates x folds, classes, class pairs, OOF
  * folds). Each fit is already distributed; submitting them from
  * `jobParallelism` driver threads (`Par.concurrently`) overlaps the
  * per-job driver-side phases and lets the scheduler interleave stages,
  * instead of serializing N distributed jobs with an idle cluster
  * between them. Fits are seed-isolated and independent, so concurrency
  * changes wall clock only, never models (spec-pinned on the OvO
  * surface). One definition so the width policy can't drift between the
  * search, multiclass, and forest surfaces.
  */
trait JobParallel {
  protected var jobParallelism: Int = 8
  def withJobParallelism(n: Int): this.type = {
    require(n >= 1, s"job parallelism must be >= 1, got $n")
    jobParallelism = n; this
  }
}

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
  * task fan-out against the broadcast matrix (ModelParallel.run) →
  * `CvResults.aggregate` (groupBy + window rank, fully distributed) →
  * best candidate → driver refit on the full matrix.
  */
class DistGridSearchCV(learner: Learner,
                       grid: Map[String, Seq[Double]],
                       cv: Int = 5,
                       scoring: String = "accuracy",
                       iid: Boolean = false,
                       seed: Long = 42,
                       errorScore: Option[Double] = None)
    extends Serializable with BroadcastBudgeted with FitSideConfigured
    with JobParallel {

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
    * `DataParallelFit` over the full DataFrame (`DpSearch`); candidate
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
      DpSearch.run(cvf,
        Seq(StructField("candidate_id", IntegerType, nullable = false)),
        cands.zipWithIndex.map { case (p, ci) => DpSearch.Candidate(Seq(ci), learner, p) },
        scoring, extraScorings, iid, jobParallelism, fitSide,
        fitSeed = (_, _) => seed, refitSeed = seed)
    }
    SearchResult(
      r.agg.join(broadcast(paramsFrame(spark, cands)), "candidate_id")
        .orderBy("candidate_id"),
      cands(r.best), r.bestScore, r.best, r.bestModel)
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
    val bc = spark.sparkContext.broadcast(matrix)
    val tasks = for {
      (params, ci) <- cands.zipWithIndex
      fold <- 0 until cv
    } yield FitTask(ci * cv + fold, ci, fold, params)

    // cached: `best()` below and the returned cvResults both consume this
    // frame — without the cache every later action re-runs the whole fit
    // fan-out. One row per candidate, so the cache is tiny.
    val agg = {
      val a =
        if (extraScorings.isEmpty)
          CvResults.aggregate(
            ModelParallel.run(spark, tasks, bc, learner, scoring, seed,
              errorScore, fitSide),
            Seq("candidate_id"), iid = iid)
        else
          CvResults.aggregateMulti(
            ModelParallel.runMulti(spark, tasks, bc, learner,
              scoring +: extraScorings, seed, errorScore, fitSide),
            Seq("candidate_id"), scoring +: extraScorings, iid = iid)
      a.cache()
    }

    // Attach the param columns (small driver-side frame, broadcast join).
    val cvResults = agg.join(broadcast(paramsFrame(spark, cands)), "candidate_id")
      .orderBy("candidate_id")

    val bestRow = CvResults.best(agg, Seq("candidate_id")).head()
    val bestId = bestRow.getAs[Int]("candidate_id")
    val bestScore = bestRow.getAs[Double]("mean_test_score")
    val bestParams = cands(bestId)
    // Refit on the FULL matrix (reference `search.py:543-550`), with the
    // same fit_params side data as the CV fits.
    val bestModel = learner.fit(matrix.x, matrix.y, bestParams, seed, fitSide)
    // preds_: out-of-fold proba of the best candidate — row i predicted by
    // the fold model that never saw row i (`search.py:551-560`).
    val oof =
      if (preds) Some(OutOfFold.oofProba(spark, matrix, learner, cv, seed,
        bestParams, fitSide))
      else None
    // unpersist, not destroy: the returned cvResults DataFrame is lazy and
    // may re-evaluate against the broadcast after we return.
    bc.unpersist()
    SearchResult(cvResults, bestParams, bestScore, bestId, bestModel, oof)
  }

  private def paramsFrame(spark: SparkSession,
                          cands: Seq[Map[String, Double]]): DataFrame = {
    val paramNames = cands.head.keys.toSeq.sorted
    val paramRows = cands.zipWithIndex.map { case (m, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: paramNames.map(m))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("candidate_id",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
        paramNames.map(n => org.apache.spark.sql.types.StructField(
          s"param_$n", org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(paramRows, 1), schema)
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
    extends Serializable with BroadcastBudgeted with JobParallel {
  require(models.map(_._1).distinct.size == models.size,
    s"model names must be unique (they key the cv_results rows): " +
      models.map(_._1).mkString(", "))

  final case class MultiResult(cvResults: DataFrame,
                               bestModelName: String,
                               bestParams: Map[String, Double],
                               bestScore: Double,
                               bestModel: Model)

  private def drawCandidates(): Seq[(String, Learner, Seq[Map[String, Double]])] =
    // Per-model candidate draws; rows are keyed by (model_name,
    // per-model candidate index) — names, not arithmetic id packing, so
    // candidate counts can never collide across models.
    models.zipWithIndex.map { case ((name, learner, grid), mi) =>
      val cands = ParamSampler.sample(
        grid.map { case (k, v) => k -> v.map(_.asInstanceOf[Any]) }, n, seed + mi)
        .map(_.map { case (k, v) => k -> v.asInstanceOf[Double] })
      (name, learner, cands)
    }

  /** Auto-routed fit: the multi-armed race collects + broadcasts while
    * the matrix fits the budget; past it, every (model, candidate, fold)
    * becomes a distributed `DataParallelFit` scored by
    * `DistributedScore` (`DpSearch`, the grid search's loop) — same engine
    * metric surface, same cv_results keying, same refit contract, so the
    * caller never sees which regime ran.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): MultiResult = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes)
      fitBroadcast(spark, df, featuresCol, labelCol)
    else fitDataParallel(df, featuresCol, labelCol)
  }

  private def fitDataParallel(df: DataFrame,
                              featuresCol: String, labelCol: String): MultiResult = {
    val drawn = drawCandidates()
    drawn.foreach { case (name, learner, _) =>
      DataParallelFit.requireSupported(learner, entrant = name)
    }
    // Per-fit seeds get the same globally-unique running offset as the
    // broadcast route's task ids — without it, candidate pi of model A
    // and candidate pi of model B would draw identical subsampling /
    // random-split streams (correlated scores across entrants).
    val seedOffsets = drawn.scanLeft(0)(_ + _._3.size * cv).init
    val cands = for {
      ((name, learner, params), off) <- drawn.zip(seedOffsets)
      (p, pi) <- params.zipWithIndex
    } yield (DpSearch.Candidate(Seq(name, pi), learner, p), seed + off + pi * cv)
    // DpCvFrame hashes folds, not labels; the broadcast route stratifies
    // instead — fold SCHEMES differ between regimes, scores agree in
    // expectation (same contract as the grid search auto-route)
    val r = DpCvFrame.using(df, featuresCol, labelCol, cv, seed) { cvf =>
      DpSearch.run(cvf,
        Seq(StructField("model_name", StringType, nullable = false),
          StructField("candidate_id", IntegerType, nullable = false)),
        cands.map(_._1), scoring, Nil, iid = false, jobParallelism,
        graft.exec.FitSideData.empty,
        fitSeed = (ci, fold) => cands(ci)._2 + fold, refitSeed = seed)
    }
    val best = cands(r.best)._1
    MultiResult(r.agg.orderBy("model_name", "candidate_id"),
      best.key.head.toString, best.params, r.bestScore, r.bestModel)
  }

  private def fitBroadcast(spark: SparkSession, df: DataFrame,
                           featuresCol: String, labelCol: String): MultiResult = {
    val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, cv, seed)
    val bc = spark.sparkContext.broadcast(matrix)

    // Task ids (used only for per-task seeds) get a running offset to
    // stay globally unique.
    val perModel = drawCandidates()
    val taskOffsets = perModel.scanLeft(0)(_ + _._3.size * cv).init
    val frames = perModel.zip(taskOffsets).map {
      case ((name, learner, cands), off) =>
        val tasks = for {
          (params, pi) <- cands.zipWithIndex
          fold <- 0 until cv
        } yield FitTask(off + pi * cv + fold, pi, fold, params)
        ModelParallel.run(spark, tasks, bc, learner, scoring, seed)
          .withColumn("model_name", lit(name))
    }
    val scores = frames.reduce(_ union _)
    // cached for the same reason as in DistGridSearchCV.fitMatrix
    val agg = CvResults.aggregate(scores, Seq("model_name", "candidate_id")).cache()
    val bestRow = CvResults.best(agg, Seq("model_name", "candidate_id")).head()
    val bestPi = bestRow.getAs[Int]("candidate_id")
    val bestName = bestRow.getAs[String]("model_name")
    val (_, bestLearner, bestCands) = perModel.find(_._1 == bestName).get
    val bestParams = bestCands(bestPi)
    val bestModel = bestLearner.fit(matrix.x, matrix.y, bestParams, seed)
    bc.unpersist() // cvResults is lazy; destroy would break re-evaluation
    MultiResult(agg.orderBy("model_name", "candidate_id"), bestName, bestParams,
      bestRow.getAs[Double]("mean_test_score"), bestModel)
  }
}
