package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.CvResults
import graft.exec.{CART, Learner, LogRegModel, Metrics, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix
import graft.plan.RemovalLadder

/** Distributed feature elimination (reference `eliminate.py`):
  * 1. initial full fit ranks features by importance (the cost-estimation
  *    pre-pass, `eliminate.py:141-157`);
  * 2. nested removal ladder drops 0, step, 2*step, ... worst features
  *    keeping >= minFeaturesToSelect (`eliminate.py:159-163`);
  * 3. rungs × folds fan out as tasks; per-task column mask projection;
  * 4. mean score per rung → argmax → refit on the best columns.
  *
  * The fitted result delegates prediction through the column mask
  * (`eliminate.py:241-284` = VectorSlicer-then-model).
  */
final case class MaskedModel(model: Model, keep: Array[Int]) extends Model {
  private def slice(x: Array[Double]): Array[Double] = keep.map(x)
  def predict(x: Array[Double]): Double = model.predict(slice(x))
  def predictProba(x: Array[Double]): Array[Double] = model.predictProba(slice(x))
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
    * fits the budget; a distributed per-rung fit + DistributedScore loop
    * when it doesn't — subsets are masked IN the DataFrame (column
    * projection, never a collect), so elimination works over
    * broadcast-overflow data too.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): EliminatorResult = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, cv, seed)
      fitMatrix(spark, matrix)
    } else fitDataParallel(spark, df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route. Same skeleton as `fitMatrix` — pre-pass
    * importance ranking, removal ladder, rungs x folds, CvResults — but
    * every fit is a `DataParallelFit` over the `DpCvFrame` folds and every
    * score flows through DistributedScore's sufficient-statistics path.
    * The feature mask is a column projection on the array column; rows
    * never reach the driver.
    */
  private def fitDataParallel(spark: SparkSession, df: DataFrame,
                              featuresCol: String,
                              labelCol: String): EliminatorResult = {
    DataParallelFit.requireSupported(learner)
    DpCvFrame.using(df, featuresCol, labelCol, cv, seed) { cvf =>
      require(cvf.nTotal > 0, "empty training set")
      val d = cvf.prepared.select(size(col("_x"))).head().getInt(0)
      def masked(data: DataFrame, keep: Array[Int]): DataFrame =
        data.select(array(keep.map(j => col("_x").getItem(j)): _*).as("_xm"),
          col("_y"))
      // every classifier fit shares the frame's class count, scanned once
      // (SearchLoop.dataParallel's discipline)
      lazy val k = DataParallelCART.scanClasses(cvf.prepared, "_y")
      // one data-parallel fit of `learner` on a masked projection (default
      // params throughout, matching the broadcast route's Map.empty fits);
      // `nRows` from the fold bookkeeping spares the logistic count job
      def fitOne(data: DataFrame, keep: Array[Int], fitSeed: Long,
                 nRows: Long): Model =
        DataParallelFit.fit(learner, masked(data, keep), "_xm", "_y",
          Map.empty, fitSeed, nRows,
          if (DataParallelFit.isClassifier(learner)) Some(k) else None)

      // 1. pre-pass on ALL rows ranks features worst-first
      val full = fitOne(cvf.prepared, (0 until d).toArray, seed, cvf.nTotal)
      val worstFirst = {
        val imp = importances(full, d)
        (0 until d).sortBy(j => (imp(j), j)).toArray
      }
      // 2. ladder, 3. rungs x folds — sequential loop of distributed fits
      val rungKeeps: Seq[Array[Int]] = RemovalLadder
        .rungs(worstFirst.toSeq, step, minFeaturesToSelect)
        .map(drop => (0 until d).filterNot(drop.toSet).toArray)
      val scoreRows = for {
        (keep, ri) <- rungKeeps.zipWithIndex
        fold <- 0 until cv
      } yield {
        val model = fitOne(cvf.train(fold), keep, seed + ri * 100 + fold,
          cvf.nTrain(fold))
        val s = DistributedScore(scoring, model, masked(cvf.test(fold), keep),
          "_xm", "_y")
        (ri, fold, s, cvf.nTest(fold))
      }
      import spark.implicits._
      val scores = scoreRows.toDF("candidate_id", "fold_id", "score", "n_test")
      // 4. aggregate, best rung, refit on all rows with the winning mask
      val agg = CvResults.aggregate(scores, Seq("candidate_id"))
      val bestRow = CvResults.best(agg, Seq("candidate_id")).head()
      val keep = rungKeeps(bestRow.getAs[Int]("candidate_id"))
      val refit = fitOne(cvf.prepared, keep, seed, cvf.nTotal)
      EliminatorResult(agg.orderBy("candidate_id"), keep,
        bestRow.getAs[Double]("mean_test_score"), MaskedModel(refit, keep))
    }
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): EliminatorResult = {
    val d = matrix.x(0).length
    // 1. pre-pass: rank features worst-first.
    val full = learner.fit(matrix.x, matrix.y, Map.empty, seed)
    val imp = importances(full, d)
    val worstFirst = (0 until d).sortBy(j => (imp(j), j)).toArray

    // 2. ladder of drop-lists.
    val rungs = RemovalLadder.rungs(worstFirst.toSeq, step, minFeaturesToSelect)

    // 3. rungs × folds fan-out; per-task column mask.
    val lrn = learner
    val scorerName = scoring
    val baseSeed = seed
    val rungKeeps: Seq[Array[Int]] =
      rungs.map(drop => (0 until d).filterNot(drop.toSet).toArray)
    val tasks = for {
      (keep, ri) <- rungKeeps.zipWithIndex
      fold <- 0 until cv
    } yield (ri, fold, keep)
    val scoreRows = ModelParallel.fanOut(spark, matrix, tasks) {
      case (m, (ri, fold, keep)) =>
        val (trainX, trainY) = m.trainOf(fold)
        val (testX, testY) = m.testOf(fold)
        val model = lrn.fit(trainX.map(r => keep.map(r)), trainY, Map.empty,
          baseSeed + ri * 100 + fold)
        val s = Metrics.scorer(scorerName)(MaskedModel(model, keep), testX, testY)
        (ri, fold, s, testX.length.toLong)
    }
    import spark.implicits._
    val scores = scoreRows.toSeq.toDF("candidate_id", "fold_id", "score", "n_test")

    // 4. aggregate, pick best rung (ties -> fewest dropped = lowest id,
    //    matching the reference's argmax-first semantics).
    val agg = CvResults.aggregate(scores, Seq("candidate_id"))
    val bestRow = CvResults.best(agg, Seq("candidate_id")).head()
    val bestRung = bestRow.getAs[Int]("candidate_id")
    val keep = rungKeeps(bestRung)
    val refit = learner.fit(matrix.x.map(r => keep.map(r)), matrix.y, Map.empty, seed)
    EliminatorResult(agg.orderBy("candidate_id"), keep,
      bestRow.getAs[Double]("mean_test_score"), MaskedModel(refit, keep))
  }
}
