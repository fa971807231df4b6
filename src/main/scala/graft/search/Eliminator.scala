package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{CART, FitSideData, Learner, LogRegModel, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix
import graft.plan.RemovalLadder

/** Distributed feature elimination (reference `eliminate.py`):
  * 1. initial full fit ranks features by importance (the cost-estimation
  *    pre-pass, `eliminate.py:141-157`);
  * 2. nested removal ladder drops 0, step, 2*step, ... worst features
  *    keeping >= minFeaturesToSelect (`eliminate.py:159-163`);
  * 3. each rung is a `SearchLoop` candidate — a [[MaskedLearner]] over
  *    the rung's kept columns — so rungs × folds, the mean score per
  *    rung, the argmax and the refit are the grid search's own CV loop.
  *
  * The fitted result delegates prediction through the column mask
  * (`eliminate.py:241-284` = VectorSlicer-then-model).
  */
final case class MaskedModel(model: Model, keep: Array[Int]) extends Model {
  private def slice(x: Array[Double]): Array[Double] = keep.map(x)
  def predict(x: Array[Double]): Double = model.predict(slice(x))
  def predictProba(x: Array[Double]): Array[Double] = model.predictProba(slice(x))
}

/** `inner` fitted on the `keep` columns, as a [[MaskedModel]] over
  * full-width rows; over budget, `DataParallelFit` projects the feature
  * array column the same way. Side data is not forwarded: its eval rows
  * are full-width, and the eliminator fits with none.
  */
final case class MaskedLearner(inner: Learner, keep: Array[Int]) extends Learner {
  def fit(X: Array[Array[Double]], y: Array[Double],
          params: Map[String, Double], seed: Long): Model =
    MaskedModel(inner.fit(X.map(r => keep.map(r)), y, params, seed), keep)
}

final case class EliminatorResult(scores: DataFrame,
                                  bestFeatures: Array[Int],
                                  bestScore: Double,
                                  model: MaskedModel)

class DistFeatureEliminator(learner: Learner,
                            minFeaturesToSelect: Int = 1,
                            step: Int = 1,
                            cv: Int = 5,
                            scoring: String = "accuracy",
                            seed: Long = 42)
    extends Serializable with BroadcastBudgeted {

  /** Importance extraction: |coef| sum for linear models, split-based for
    * trees/forests (reference uses `coef_`/`feature_importances_`,
    * `eliminate.py:141-157`).
    */
  private[search] def importances(m: Model, d: Int): Array[Double] = m match {
    case lr: LogRegModel =>
      (0 until d).map(j => lr.weights.map(w => math.abs(w(j))).sum).toArray
    case t: CART.TreeModel => t.featureImportances(d)
    case f: ForestModel    => f.featureImportances(d)
    case g: graft.exec.GBT.GBTModel =>
      // gain-importance summed over every stage tree (all trees of one
      // stage share the lr scale, so the sum ranks like xgboost's
      // total_gain)
      val acc = new Array[Double](d)
      g.trees.foreach(_.foreach { t =>
        val fi = t.featureImportances(d)
        var j = 0
        while (j < d) { acc(j) += fi(j); j += 1 }
      })
      acc
    case _                 => Array.fill(d)(1.0)
  }

  /** Auto-routed fit (the same regime switch as DistGridSearchCV /
    * DistForest): rungs x folds against the broadcast matrix while it
    * fits the budget; data-parallel fits scored by DistributedScore when
    * it doesn't — subsets are masked IN the DataFrame (column
    * projection, never a collect), so elimination works over
    * broadcast-overflow data too.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): EliminatorResult = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, cv, seed)
      fitMatrix(spark, matrix)
    } else fitDataParallel(df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route: a `DataParallelFit` pre-pass over the
    * whole `DpCvFrame`, then `SearchLoop.dataParallel`.
    */
  private def fitDataParallel(df: DataFrame, featuresCol: String,
                              labelCol: String): EliminatorResult = {
    DataParallelFit.requireSupported(learner)
    DpCvFrame.using(df, featuresCol, labelCol, cv, seed) { cvf =>
      require(cvf.nTotal > 0, "empty training set")
      val d = cvf.prepared.select(size(col("_x"))).head().getInt(0)
      val keeps = rungKeeps(DataParallelFit.fit(learner, cvf.prepared, "_x", "_y",
        Map.empty, seed, cvf.nTotal, cvf.classesFor(learner)), d)
      result(keeps, SearchLoop.dataParallel(cvf, SearchLoop.candidateKey,
        candidates(keeps), scoring, Nil, iid = false, FitSideData.empty,
        fitSeed, refitSeed = seed))
    }
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): EliminatorResult = {
    val keeps = rungKeeps(learner.fit(matrix.x, matrix.y, Map.empty, seed),
      matrix.x(0).length)
    result(keeps, SearchLoop.broadcast(spark, matrix, SearchLoop.candidateKey,
      candidates(keeps), cv, scoring, Nil, iid = false, errorScore = None,
      FitSideData.empty, fitSeed, refitSeed = seed))
  }

  /** The kept columns of every rung: the pre-pass importances rank the
    * features worst-first (ties by index) and the ladder drops prefixes.
    */
  private def rungKeeps(full: Model, d: Int): Seq[Array[Int]] = {
    val imp = importances(full, d)
    val worstFirst = (0 until d).sortBy(j => (imp(j), j))
    RemovalLadder.rungs(worstFirst, step, minFeaturesToSelect)
      .map(drop => (0 until d).filterNot(drop.toSet).toArray)
  }

  private def candidates(keeps: Seq[Array[Int]]): Seq[SearchLoop.Candidate] =
    keeps.zipWithIndex.map { case (keep, ri) =>
      SearchLoop.Candidate(Seq(ri), MaskedLearner(learner, keep), Map.empty)
    }

  private def fitSeed(ri: Int, fold: Int): Long = seed + ri * 100 + fold

  /** Ties go to the fewest dropped features (lowest rung id), the
    * reference's argmax-first semantics.
    */
  private def result(keeps: Seq[Array[Int]], r: SearchLoop.Outcome): EliminatorResult =
    EliminatorResult(r.agg.orderBy("candidate_id"), keeps(r.best), r.bestScore,
      r.bestModel.asInstanceOf[MaskedModel])
}
