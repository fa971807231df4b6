package graft.search

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.{CART, FitSideData, GBT, Learner, Model}
import graft.plan.Folds

/** The one fold frame of every data-parallel CV route (grid search,
  * multi-model race, eliminator, DataFrame OOF): the fold-hash column,
  * the cache, and the row/fold-size bookkeeping — ONE pass, no
  * per-(candidate, fold) count jobs. Folds are hashed row position, NOT
  * the label (fold-label correlation would skew CV); stable while the
  * cache holds, which is all CV needs. One definition so a fix to the
  * fold ids lands everywhere.
  */
private[search] final case class DpCvFrame(prepared: DataFrame, labelCol: String,
                                           cv: Int, nTotal: Long,
                                           foldSizes: Map[Int, Long]) {
  def train(fold: Int): DataFrame = prepared.filter(col("_fold") =!= fold)
  def test(fold: Int): DataFrame = prepared.filter(col("_fold") === fold)
  def nTest(fold: Int): Long = foldSizes.getOrElse(fold, 0L)
  def nTrain(fold: Int): Long = nTotal - nTest(fold)
  def unpersist(): Unit = { prepared.unpersist(); () }

  /** The `labelCol` class count for the classifiers, scanned once per
    * frame: a fold missing the top class still fits its width.
    */
  private lazy val nClasses = DataParallelCART.scanClasses(prepared, labelCol)
  def classesFor(learner: Learner): Option[Int] =
    if (DataParallelFit.isClassifier(learner)) Some(nClasses) else None
}

private[search] object DpCvFrame {
  /** `selected` must already project the fit columns, its labels in
    * `labelCol`; the fold column is added here so every route hashes
    * identically. The fold-size pass materializes the cache.
    */
  def apply(selected: DataFrame, labelCol: String, cv: Int, seed: Long): DpCvFrame = {
    val prepared = selected
      .withColumn("_fold", Folds.byHash(monotonically_increasing_id(), cv, seed))
      .cache() // scanned once per (candidate, fold) fit — keep it hot
    try {
      val foldSizes = prepared.groupBy("_fold").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      DpCvFrame(prepared, labelCol, cv, foldSizes.values.sum, foldSizes)
    } catch { case e: Throwable => prepared.unpersist(); throw e }
  }

  /** `f` over a fold frame of `df`'s features and label as `_x`/`_y`,
    * whose cache is released afterwards — also when a fit throws, so a
    * failed fit leaves nothing cached in the caller's session.
    */
  def using[T](df: DataFrame, featuresCol: String, labelCol: String,
               cv: Int, seed: Long)(f: DpCvFrame => T): T = {
    val cvf = apply(df.select(
      col(featuresCol).cast("array<double>").as("_x"),
      col(labelCol).cast("double").as("_y")), "_y", cv, seed)
    try f(cvf) finally cvf.unpersist()
  }
}

/** Distributed scoring of an engine `Model` against a DataFrame test
  * fold — the data-parallel twin of `Metrics`: rows never leave the
  * executors; only sufficient statistics (a k x k confusion matrix for
  * classification, residual sums for regression) reach the driver, where
  * the metric math is `Metrics`' exactly.
  */
object DistributedScore {
  def apply(scoring: String, model: Model, test: DataFrame,
            featuresCol: String, labelCol: String): Double = scoring match {
    case "accuracy" | "f1_weighted" =>
      fromConfusion(scoring, confusion(model, test, featuresCol, labelCol))
    case "neg_log_loss" =>
      negLogLoss(model, test, featuresCol, labelCol)
    case "r2" | "neg_mean_squared_error" =>
      regression(scoring, model, test, featuresCol, labelCol)
    case other => throw new IllegalArgumentException(
      s"data-parallel scoring supports accuracy/f1_weighted/neg_log_loss/" +
        s"r2/neg_mean_squared_error, not $other")
  }

  /** Several metrics over one fitted model — the multi-metric twin of
    * `Metrics.multi`. The confusion matrix is computed ONCE and reused by
    * every confusion-derived metric; only proba/regression metrics add a
    * scan of their own.
    */
  def scoreMany(scorings: Seq[String], model: Model, test: DataFrame,
                featuresCol: String, labelCol: String): Map[String, Double] = {
    lazy val cells = confusion(model, test, featuresCol, labelCol)
    scorings.distinct.map {
      case s @ ("accuracy" | "f1_weighted") => s -> fromConfusion(s, cells)
      case s => s -> apply(s, model, test, featuresCol, labelCol)
    }.toMap
  }

  /** `model.predict` as a Column: the fused codegen'd kernel when the
    * family has one ([[graft.predict.FusedScore]] — linear, SVC, CART,
    * forest, GBT, constant, masked), else the broadcast-UDF fallback.
    * The fused kernels reproduce each model's float order, so the two
    * routes agree bit-for-bit on well-formed rows (spec-pinned); what
    * changes is ONLY that scoring stays inside whole-stage codegen
    * instead of paying per-row boxing over the full distributed fold.
    */
  private def predictCol(model: Model, featuresCol: String): Column = {
    val x = col(featuresCol).cast("array<double>")
    graft.predict.FusedScore.predict(model, x).getOrElse {
      val f = udf((xs: Seq[Double]) => model.predict(xs.toArray))
      f(x)
    }
  }

  /** Matches `Metrics.negLogLoss` exactly: mean log of the true-class
    * probability, eps-clipped at 1e-15, 0.0 on an empty fold.
    */
  private def negLogLoss(model: Model, test: DataFrame,
                         featuresCol: String, labelCol: String): Double = {
    val eps = 1e-15
    val x = col(featuresCol).cast("array<double>")
    val llCol = graft.predict.FusedScore.proba(model, x) match {
      case Some(p) =>
        // get() is 0-based and null out-of-range under ANSI too, so the
        // UDF's `yi in [0, k) else eps` clause maps to coalesce
        val pi = coalesce(get(p, col(labelCol).cast("double").cast("int")),
          lit(eps))
        log(greatest(lit(eps), least(lit(1 - eps), pi)))
      case None =>
        val lp = udf((xs: Seq[Double], y: Double) => {
          val prob = model.predictProba(xs.toArray)
          val yi = y.toInt
          val pi = if (yi >= 0 && yi < prob.length) prob(yi) else eps
          math.log(math.max(eps, math.min(1 - eps, pi)))
        })
        lp(x, col(labelCol).cast("double"))
    }
    val r = test.select(llCol.as("_ll"))
      .agg(count(lit(1)), sum(col("_ll"))).head()
    val n = r.getLong(0)
    if (n == 0) 0.0 else r.getDouble(1) / n
  }

  /** (label, prediction, count) cells — one shuffle, k^2 rows collected. */
  def confusion(model: Model, test: DataFrame,
                featuresCol: String, labelCol: String): Seq[(Double, Double, Long)] = {
    test.groupBy(col(labelCol).cast("double").as("_l"),
        predictCol(model, featuresCol).as("_p"))
      .count().collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
  }

  /** Metric from confusion cells, matching `Metrics.accuracy`/`f1Weighted`
    * (classes = labels observed in y; zero_division=0).
    */
  def fromConfusion(scoring: String, cells: Seq[(Double, Double, Long)]): Double = {
    val total = cells.map(_._3).sum.toDouble
    if (total == 0) return 0.0
    scoring match {
      case "accuracy" =>
        cells.collect { case (l, p, c) if l == p => c }.sum / total
      case "f1_weighted" =>
        val classes = cells.map(_._1).distinct.sorted
        var f1Sum = 0.0
        classes.foreach { c =>
          val tp = cells.collect { case (l, p, n) if l == c && p == c => n }.sum.toDouble
          val fp = cells.collect { case (l, p, n) if l != c && p == c => n }.sum.toDouble
          val fn = cells.collect { case (l, p, n) if l == c && p != c => n }.sum.toDouble
          val support = tp + fn
          val prec = if (tp + fp > 0) tp / (tp + fp) else 0.0
          val rec = if (tp + fn > 0) tp / (tp + fn) else 0.0
          val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
          f1Sum += f1 * support
        }
        f1Sum / total
    }
  }

  private def regression(scoring: String, model: Model, test: DataFrame,
                         featuresCol: String, labelCol: String): Double = {
    val r = test.select(col(labelCol).cast("double").as("_y"),
        predictCol(model, featuresCol).as("_p"))
      .agg(count(lit(1)), sum(col("_y")), sum(col("_y") * col("_y")),
        sum(pow(col("_y") - col("_p"), 2)))
      .head()
    val n = r.getLong(0)
    if (n == 0) return 0.0
    val ssRes = r.getDouble(3)
    scoring match {
      case "neg_mean_squared_error" => -ssRes / n
      case "r2" =>
        val ssTot = r.getDouble(2) - r.getDouble(1) * r.getDouble(1) / n
        if (ssTot == 0) { if (ssRes == 0) 1.0 else 0.0 } else 1.0 - ssRes / ssTot
    }
  }
}

/** ONE data-parallel fit of a routable engine learner over a DataFrame —
  * the only learner dispatch of the broadcast-overflow regime, behind
  * every over-budget route: the grid search, multi-model race and
  * eliminator (`SearchLoop`), OvR, OvO and multilabel OvR
  * (`Decomposition`), and the DataFrame OOF. Logistic via Spark ML (losslessly bridged), CART via
  * DataParallelCART, GBT via DataParallelGBT. Returns the same engine
  * `Model` types the broadcast regime produces; unsupported learners
  * fail loudly (`requireSupported`).
  */
object DataParallelFit {
  /** The one supported-learner check: routes call it before any job, so
    * an unsupported learner fails before anything is cached. `entrant`
    * names the multi-model race's entry in the message.
    */
  private[search] def requireSupported(learner: Learner,
                                       entrant: String = ""): Unit =
    learner match {
      case MaskedLearner(inner, _) => requireSupported(inner, entrant)
      case graft.exec.LogisticRegressionGD | graft.exec.LogisticRegressionLBFGS |
           _: CART.Classifier | CART.Regressor | GBT.Classifier | GBT.Regressor => ()
      case other => throw new IllegalArgumentException(
        (if (entrant.isEmpty) "" else s"model '$entrant': ") +
          s"the data-parallel regime supports the logistic, CART, and GBT " +
          s"learners, not $other; for bagged tree ensembles over " +
          "broadcast-overflow data use DistForest, else shrink the data or " +
          "raise withBroadcastBudget")
    }

  /** Whether `fit` needs a class count — callers fitting many times over
    * one frame pass it once instead of one label scan per fit.
    */
  private[search] def isClassifier(learner: Learner): Boolean =
    learner match {
      case MaskedLearner(inner, _)             => isClassifier(inner)
      case _: CART.Classifier | GBT.Classifier => true
      case _                                   => false
    }

  /** `nRows`: the training row count when the caller already knows it
    * (fold-size bookkeeping) — skips the count job the logistic
    * regularization translation otherwise pays per fit. `nClasses`: the
    * class count (max label + 1) of the caller's whole frame, scanned once
    * for the learners `isClassifier` names; None scans `data`'s labels
    * here. A CART class hint still widens it — k = max(hint, count), the
    * broadcast learner's contract (`CART.Classifier.fit`). `side`:
    * fit_params side data — GBT early-stops on its eval slice; the Spark
    * ML logistic solver has no eval hook and CART does not iterate.
    */
  def fit(learner: Learner, data: DataFrame,
          featuresCol: String, labelCol: String,
          params: Map[String, Double], seed: Long,
          nRows: Long = -1L, nClasses: Option[Int] = None,
          side: FitSideData = FitSideData.empty): Model = {
    import org.apache.spark.ml.functions.array_to_vector
    requireSupported(learner)
    learner match {
      case MaskedLearner(inner, keep) => // side data not forwarded, as broadcast
        val x = col(featuresCol).cast("array<double>")
        val kept = data.withColumn(featuresCol, array(keep.map(x.getItem(_)): _*))
        MaskedModel(fit(inner, kept, featuresCol, labelCol, params, seed, nRows,
          nClasses), keep)
      case graft.exec.LogisticRegressionGD | graft.exec.LogisticRegressionLBFGS =>
        val p = data.select(
          array_to_vector(col(featuresCol).cast("array<double>")).as("_features"),
          col(labelCol).cast("double").as("_label"))
        val est = new LogisticRegression()
          .setFeaturesCol("_features").setLabelCol("_label")
          // multinomial even for 2 classes: k coefficient rows, so the
          // fitted model converts losslessly to the engine's k x (d+1)
          // LogRegModel
          .setFamily("multinomial")
          .setMaxIter(params.getOrElse("max_iter", 100.0).toInt)
        // The engine's `c` is INVERSE L2 strength over the objective
        // meanNLL + ||w||^2 / (2*c*n) (LogisticRegressionLBFGS.scala:23);
        // Spark ML minimizes meanLoss + regParam/2 * ||w||^2, so the
        // lossless translation is regParam = 1/(c*n) — per fit, because n
        // differs between a fold fit and the full-data refit. A MISSING c
        // means the engine DEFAULT c=1 (broadcast learners regularize at
        // lambda = 1/n when params omit 'c') — NOT Spark ML's regParam=0,
        // which would silently fit unregularized and diverge from the
        // broadcast regime on separable data. An explicit c <= 0 opts out.
        val c = params.getOrElse("c", 1.0)
        if (c > 0) {
          val n = if (nRows > 0) nRows else data.count()
          est.setRegParam(1.0 / (c * math.max(1L, n)))
        }
        SparkMLBridge.toLogRegModel(est.fit(p))
      case c: CART.Classifier =>
        DataParallelCART.fitClassifier(data, featuresCol, labelCol, params, seed,
          nClasses = math.max(c.nClassesHint,
            nClasses.getOrElse(DataParallelCART.scanClasses(data, labelCol))))
      case CART.Regressor =>
        DataParallelCART.fitRegressor(data, featuresCol, labelCol, params, seed)
      case GBT.Classifier =>
        // class inventory from the data unless resolved by the caller,
        // like the broadcast fit's y.max + 1; max(2, k): a single-class
        // slice fits a constant-ish binary like the broadcast y.max clamp
        val k = nClasses.getOrElse(DataParallelCART.scanClasses(data, labelCol))
        DataParallelGBT.fit(data, featuresCol, labelCol, params, seed,
          math.max(2, k), side)
      case GBT.Regressor => // requireSupported above leaves no other learner
        DataParallelGBT.fit(data, featuresCol, labelCol, params, seed, 0, side)
    }
  }
}

/** Lossless conversion of a fitted (multinomial) Spark ML logistic model
  * into the engine's LogRegModel, so the data-parallel route returns the
  * SAME model type as the broadcast route — callers never see which
  * executor regime ran.
  */
object SparkMLBridge {
  def toLogRegModel(
      m: org.apache.spark.ml.classification.LogisticRegressionModel): graft.exec.LogRegModel = {
    val k = m.numClasses
    val d = m.numFeatures
    val cm = m.coefficientMatrix
    val iv = m.interceptVector
    val weights = Array.tabulate(k) { c =>
      val row = new Array[Double](d + 1)
      var j = 0
      while (j < d) { row(j) = cm(c, j); j += 1 }
      row(d) = iv(c)
      row
    }
    graft.exec.LogRegModel(weights, k)
  }
}
