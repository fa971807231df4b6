package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}

import scala.util.Random

import graft.exec.{CART, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix

/** Task-parallel tree ensembles (reference `ensemble.py`): one Spark task
  * per tree, each tree sees ALL rows of the broadcast matrix — the
  * reference's accuracy edge over row-partitioned forests
  * (`examples/search/spark_ml.py:20-24`). Bootstrap is multinomial
  * sample-weight counts per tree (`_build_trees`, `ensemble.py:88-106`),
  * so no data copy per task.
  */
final case class ForestModel(trees: Array[CART.TreeModel],
                             nClasses: Int) extends Model {
  /** Soft vote: mean of per-tree probability vectors (sklearn forest
    * semantics); regression: mean prediction.
    */
  def predictProba(x: Array[Double]): Array[Double] = {
    if (nClasses == 0) return Array(predict(x))
    val acc = new Array[Double](nClasses)
    trees.foreach { t =>
      val p = t.predictProba(x)
      var i = 0
      while (i < nClasses && i < p.length) { acc(i) += p(i); i += 1 }
    }
    acc.map(_ / trees.length)
  }
  def predict(x: Array[Double]): Double =
    if (nClasses == 0) trees.map(_.predict(x)).sum / trees.length
    else {
      val p = predictProba(x)
      var b = 0; var i = 1
      while (i < p.length) { if (p(i) > p(b)) b = i; i += 1 }
      b.toDouble
    }
  def featureImportances(d: Int): Array[Double] = {
    val acc = new Array[Double](d)
    trees.foreach { t =>
      val imp = t.featureImportances(d)
      var i = 0
      while (i < d) { acc(i) += imp(i); i += 1 }
    }
    acc.map(_ / trees.length)
  }
}

class DistForest(nEstimators: Int = 100,
                 params: Map[String, Double] = Map.empty,
                 classification: Boolean = true,
                 bootstrap: Boolean = true,
                 extraTrees: Boolean = false,
                 seed: Long = 42) extends Serializable with BroadcastBudgeted {

  /** Auto-routed fit: task-parallel trees against the broadcast matrix
    * while it fits the budget (the reference's regime — each tree sees all
    * rows); data-parallel histogram induction when it doesn't. Both routes
    * return the same `ForestModel`. The data-parallel bootstrap is
    * Poisson(1) per (row, tree) — the distributed limit of the broadcast
    * route's multinomial counts — so the regimes agree in distribution,
    * not per-seed draw-for-draw.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): ForestModel = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, 1, seed,
        stratified = false)
      fitMatrix(spark, matrix)
    } else fitDataParallel(df, featuresCol, labelCol)
  }

  private def fitDataParallel(df: DataFrame,
                              featuresCol: String, labelCol: String): ForestModel = {
    // sklearn's forest default max_features = sqrt(d) for classification,
    // expressed as a fraction — same translation the broadcast route does.
    val p0 =
      if (!params.contains("max_features") && classification) {
        val d = df.select(size(col(featuresCol))).head().getInt(0)
        params + ("max_features" -> math.sqrt(d.toDouble) / d)
      } else params
    val p = p0 ++ (if (extraTrees) Map("random_splits" -> 1.0) else Map.empty)
    DataParallelCART.fitForest(df, featuresCol, labelCol, p, seed,
      nEstimators, classification, bootstrap = bootstrap && !extraTrees)
  }

  /** `sampleWeight`: caller-supplied per-row weights (reference
    * `fit(X, y, sample_weight)`, `ensemble.py:232-248`) — multiplied into
    * each tree's bootstrap counts, sklearn's
    * `curr_sample_weight *= sample_counts` composition.
    */
  def fitMatrix(spark: SparkSession, matrix: TrainMatrix,
                sampleWeight: Option[Array[Double]] = None): ForestModel = {
    val nClasses = if (classification) matrix.y.max.toInt + 1 else 0
    ForestModel(growTrees(spark, matrix, 0, nEstimators, nClasses, sampleWeight),
      nClasses)
  }

  /** `warm_start` (reference `ensemble.py:250-272, 324-325`): grow `nMore`
    * additional trees onto a fitted model. The seed fan-out continues at
    * the existing tree count, so `extend` of an n-tree model equals a
    * fresh fit of n + nMore trees under the same base seed.
    */
  def extend(spark: SparkSession, model: ForestModel, matrix: TrainMatrix,
             nMore: Int,
             sampleWeight: Option[Array[Double]] = None): ForestModel = {
    require(nMore > 0, "nMore must be positive")
    val newTrees = growTrees(spark, matrix, model.trees.length, nMore,
      model.nClasses, sampleWeight)
    ForestModel(model.trees ++ newTrees, model.nClasses)
  }

  private def growTrees(spark: SparkSession, matrix: TrainMatrix,
                        fromIdx: Int, count: Int, nClasses: Int,
                        sampleWeight: Option[Array[Double]] = None): Array[CART.TreeModel] = {
    sampleWeight.foreach(sw => require(sw.length == matrix.nRows,
      s"sample_weight length ${sw.length} != rows ${matrix.nRows}"))
    val p = params ++ (if (extraTrees) Map("random_splits" -> 1.0) else Map.empty) ++
      // sklearn default max_features for forests: sqrt(d) for
      // classification; we express it as a fraction.
      (if (!params.contains("max_features") && classification)
        Map("max_features" -> -1.0) else Map.empty)
    val doBootstrap = bootstrap && !extraTrees
    val baseSeed = seed
    ModelParallel.fanOut(spark, (matrix, sampleWeight.orNull),
        fromIdx until (fromIdx + count)) { case ((m, sw), treeIdx) =>
      val n = m.nRows
      val d = m.x(0).length
      val treeParams =
        if (p.get("max_features").contains(-1.0))
          p + ("max_features" -> math.sqrt(d.toDouble) / d)
        else p
      val treeSeed = baseSeed + treeIdx
      val w: Array[Double] =
        if (!doBootstrap) sw // may be null: unweighted, all rows
        else {
          // Multinomial counts = bincount of n draws with replacement;
          // caller weights multiply in (curr_sample_weight *= counts).
          val rng = new Random(treeSeed)
          val counts = new Array[Double](n)
          var i = 0
          while (i < n) { counts(rng.nextInt(n)) += 1.0; i += 1 }
          if (sw != null) { i = 0; while (i < n) { counts(i) *= sw(i); i += 1 } }
          counts
        }
      CART.grow(m.treeView, m.y, w, treeParams, treeSeed, nClasses)
    }
  }
}

/** Concrete forest variants mirroring the reference's public surface
  * (`ensemble.py:365-616`): sklearn-parameter-named factories over
  * DistForest. `maxDepth <= 0` = unlimited (sklearn None);
  * `maxFeatures <= 0` = the per-kind default (sqrt(d) for
  * classification, all for regression).
  */
object DistRandomForestClassifier {
  def apply(nEstimators: Int = 100, maxDepth: Int = 0, maxFeatures: Double = 0.0,
            seed: Long = 42): DistForest =
    new DistForest(nEstimators, forestParams(maxDepth, maxFeatures),
      classification = true, bootstrap = true, extraTrees = false, seed = seed)
}

object DistExtraTreesClassifier {
  def apply(nEstimators: Int = 100, maxDepth: Int = 0, maxFeatures: Double = 0.0,
            seed: Long = 42): DistForest =
    new DistForest(nEstimators, forestParams(maxDepth, maxFeatures),
      classification = true, bootstrap = false, extraTrees = true, seed = seed)
}

object DistRandomForestRegressor {
  def apply(nEstimators: Int = 100, maxDepth: Int = 0, maxFeatures: Double = 0.0,
            seed: Long = 42): DistForest =
    new DistForest(nEstimators, forestParams(maxDepth, maxFeatures),
      classification = false, bootstrap = true, extraTrees = false, seed = seed)
}

object DistExtraTreesRegressor {
  def apply(nEstimators: Int = 100, maxDepth: Int = 0, maxFeatures: Double = 0.0,
            seed: Long = 42): DistForest =
    new DistForest(nEstimators, forestParams(maxDepth, maxFeatures),
      classification = false, bootstrap = false, extraTrees = true, seed = seed)
}

private object forestParams {
  def apply(maxDepth: Int, maxFeatures: Double): Map[String, Double] =
    (if (maxDepth > 0) Map("max_depth" -> maxDepth.toDouble) else Map.empty[String, Double]) ++
      (if (maxFeatures > 0) Map("max_features" -> maxFeatures) else Map.empty[String, Double])
}

/** Unsupervised tree embedding (reference `DistRandomTreesEmbedding`,
  * `ensemble.py:619-716`): extra-trees fit on a uniform-random target,
  * rows are encoded one-hot by the leaf each tree routes them to.
  */
final case class TreeEmbeddingModel(trees: Array[CART.TreeModel]) extends Serializable {
  val leafOffsets: Array[Int] = trees.scanLeft(0)(_ + _.nLeaves).init
  def width: Int = trees.map(_.nLeaves).sum
  /** Active one-hot indices (sorted) for a row — the sparse embedding. */
  def transform(x: Array[Double]): Array[Int] =
    trees.indices.map(t => leafOffsets(t) + trees(t).leafIndex(x)).toArray

  /** DataFrame transform: appends the sparse one-hot indices as an
    * `array<int>` column. The model rides the UDF closure (leaf routing
    * is a handful of comparisons per tree — executor-local, no shuffle),
    * so encoding distributes over however many partitions the input has.
    */
  def transform(df: DataFrame, featuresCol: String,
                outCol: String = "leaf_indices"): DataFrame = {
    val m = this
    val enc = org.apache.spark.sql.functions.udf(
      (xs: Seq[Double]) => m.transform(xs.toArray))
    df.withColumn(outCol,
      enc(col(featuresCol).cast("array<double>")))
  }
}

class DistRandomTreesEmbedding(nEstimators: Int = 100,
                               maxDepth: Int = 5,
                               seed: Long = 42)
    extends Serializable with BroadcastBudgeted {

  /** Auto-routed DataFrame fit (reference `ensemble.py:696-716` fits on X
    * alone — the embedding is unsupervised): broadcast task-parallel trees
    * under the budget; data-parallel histogram induction with a `rand()`
    * target column past it. The uniform-random target is drawn per-row in
    * both regimes (driver RNG vs rand(seed) column), so they agree in
    * distribution — leaf geometry, like the forest bootstrap, is not
    * draw-for-draw identical across regimes.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String): TreeEmbeddingModel = {
    import org.apache.spark.sql.functions.{lit, rand}
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      fitMatrix(spark, ModelParallel.collectMatrix(
        df.withColumn("_zero", lit(0.0)), featuresCol, "_zero", 1, seed,
        stratified = false))
    } else {
      val withY = df.withColumn("_ry", rand(seed))
      val forest = DataParallelCART.fitForest(withY, featuresCol, "_ry",
        Map("max_depth" -> maxDepth.toDouble, "random_splits" -> 1.0),
        seed, nEstimators, classification = false, bootstrap = false)
      TreeEmbeddingModel(forest.trees)
    }
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): TreeEmbeddingModel = {
    // Random uniform target (`ensemble.py:704-705`), regression trees with
    // random splits.
    val rng = new Random(seed)
    val randomY = Array.fill(matrix.nRows)(rng.nextDouble())
    val m2 = TrainMatrix(matrix.x, randomY, matrix.folds)
    val forest = new DistForest(nEstimators,
      Map("max_depth" -> maxDepth.toDouble), classification = false,
      bootstrap = false, extraTrees = true, seed = seed)
    TreeEmbeddingModel(forest.fitMatrix(spark, m2).trees)
  }
}

/** Out-of-fold predicted probabilities (reference `get_oof`/
  * `get_single_oof`, `ensemble.py:112-151`): per fold, fit on train, emit
  * probabilities on test; union covers every row exactly once.
  */
object OutOfFold {
  def oofProba(spark: SparkSession, matrix: TrainMatrix, mkLearner: graft.exec.Learner,
               cv: Int, seed: Long,
               params: Map[String, Double] = Map.empty,
               side: graft.exec.FitSideData =
                 graft.exec.FitSideData.empty): Array[Array[Double]] = {
    val out = new Array[Array[Double]](matrix.nRows)
    ModelParallel.fanOut(spark, matrix, 0 until cv) { (m, fold) =>
      val (trainX, trainY) = m.trainOf(fold)
      val model = mkLearner.fit(trainX, trainY, params, seed + fold, side)
      m.folds.zipWithIndex.collect {
        case (f, i) if f == fold => (i, model.predictProba(m.x(i)))
      }
    }.foreach(_.foreach { case (i, p) => out(i) = p })
    out
  }

  /** DataFrame-native out-of-fold probabilities — the 100 TB shape of
    * `get_oof`: OOF predictions stay a COLUMN, never a driver-sized
    * array. Folds come from `DpCvFrame` (the search and eliminator
    * routes' fold frame), each fold's model fits DATA-PARALLEL on the
    * complement (`DataParallelFit`), and its fold's rows get
    * probabilities via the broadcast-model UDF. The union covers every
    * input row exactly once, so the result stacks directly as a
    * meta-learner feature. It comes back cached and materialized, and
    * the fold frame is released: `result.unpersist()` frees everything
    * the call cached.
    */
  def oofProbaDF(df: org.apache.spark.sql.DataFrame,
                 featuresCol: String, labelCol: String,
                 learner: graft.exec.Learner, cv: Int, seed: Long,
                 params: Map[String, Double] = Map.empty,
                 outCol: String = "oof_proba")
      : org.apache.spark.sql.DataFrame = {
    require(cv >= 2, s"cv must be >= 2, got $cv")
    DataParallelFit.requireSupported(learner)
    val spark = df.sparkSession
    // the fold frame's cache freezes the fold ids across the per-fold
    // fit and predict scans, until the union is materialized
    val cvf = DpCvFrame(df, labelCol, cv, seed)
    try {
      // the per-fold fits are independent distributed jobs — submit them
      // concurrently (see `JobParallel`); the lazy predict frames cost
      // nothing here, the fits inside DataParallelFit are the jobs. One
      // class count for every fold: the frame's, scanned once
      val parts = graft.ops.Par.concurrently(0 until cv, JobParallel.DefaultWidth) { fold =>
        val model = DataParallelFit.fit(learner, cvf.train(fold), featuresCol,
          labelCol, params, seed + fold, nRows = cvf.nTrain(fold),
          nClasses = cvf.classesFor(learner))
        graft.predict.Predict.withProbabilities(spark, cvf.test(fold), model,
          featuresCol, outCol)
      }
      val out = parts.reduce(_ unionByName _).drop("_fold").cache()
      try { out.count(); out }
      catch { case e: Throwable => out.unpersist(); throw e }
    } finally cvf.unpersist()
  }
}
