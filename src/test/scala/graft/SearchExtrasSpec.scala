package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.exec.{Learner, LogisticRegressionGD, Metrics, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix
import graft.plan.{Expansions, Folds}
import graft.search._

/** Fits on the driver (a pre-pass, a refit); throws inside every Spark
  * task, so a fan-out's fits fail after its broadcast is out.
  */
private object ThrowsInTasks extends Learner {
  def fit(x: Array[Array[Double]], y: Array[Double],
          params: Map[String, Double], seed: Long): Model =
    if (org.apache.spark.TaskContext.get() != null)
      throw new IllegalStateException("fit failed in a task")
    else LogisticRegressionGD.fit(x, y, Map("max_iter" -> 5.0), seed)
}

private object UnscorableModel extends Model {
  def predict(x: Array[Double]): Double =
    throw new IllegalStateException("scorer boom")
  def predictProba(x: Array[Double]): Array[Double] =
    throw new IllegalStateException("scorer boom")
}

/** Fits, but every score of its model throws. */
private object FitsButUnscorable extends Learner {
  def fit(x: Array[Array[Double]], y: Array[Double],
          params: Map[String, Double], seed: Long): Model = UnscorableModel
}

class SearchExtrasSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def blobs(n: Int = 60, seed: Int = 7): TrainMatrix = {
    val rng = new Random(seed)
    val x = Array.tabulate(n) { i =>
      val c = i % 2
      Array(c * 4.0 + rng.nextGaussian() * 0.3, rng.nextGaussian())
    }
    val y = Array.tabulate(n)(i => (i % 2).toDouble)
    TrainMatrix(x, y, ModelParallel.stratifiedFolds(y, 3, seed))
  }

  test("multimetric search: one fit, several metrics, rank on primary") {
    val r = new DistGridSearchCV(LogisticRegressionGD,
      Map("c" -> Seq(0.1, 1.0), "max_iter" -> Seq(40.0)), cv = 3)
      .withExtraScorings(Seq("f1_weighted", "neg_log_loss"))
      .fitMatrix(spark, blobs())
    val cols = r.cvResults.columns.toSet
    assert(Set("mean_test_accuracy", "std_test_accuracy",
      "mean_test_f1_weighted", "mean_test_neg_log_loss",
      "mean_test_score", "rank_test_score").subsetOf(cols), cols.toSeq.sorted)
    val row = r.cvResults.orderBy("candidate_id").head()
    assert(row.getAs[Double]("mean_test_score")
      == row.getAs[Double]("mean_test_accuracy"), "primary = refit metric")
    assert(row.getAs[Double]("mean_test_neg_log_loss") <= 0.0)
  }

  test("error_score contains learner failures instead of aborting the search") {
    object ExplodingLearner extends Learner {
      def fit(x: Array[Array[Double]], y: Array[Double],
              params: Map[String, Double], seed: Long): Model = {
        if (params.getOrElse("c", 1.0) < 0.5) throw new RuntimeException("boom")
        LogisticRegressionGD.fit(x, y, params, seed)
      }
    }
    val r = new DistGridSearchCV(ExplodingLearner,
      Map("c" -> Seq(0.1, 1.0), "max_iter" -> Seq(30.0)), cv = 3,
      errorScore = Some(-1.0)).fitMatrix(spark, blobs())
    val byId = r.cvResults.collect()
      .map(row => row.getAs[Int]("candidate_id") -> row.getAs[Double]("mean_test_score"))
      .toMap
    assert(byId(0) == -1.0, "failed candidate filled with error_score")
    assert(byId(1) > 0.9 && r.bestCandidateId == 1)
    // without errorScore the failure propagates
    intercept[Exception] {
      new DistGridSearchCV(ExplodingLearner,
        Map("c" -> Seq(0.1), "max_iter" -> Seq(30.0)), cv = 3)
        .fitMatrix(spark, blobs())
    }
  }

  test("negative downsampling caps the binary problem (ratio and multiplier)") {
    import spark.implicits._
    val df = ((0 until 10).map(i => (i.toLong, 1)) ++
      (10 until 110).map(i => (i.toLong, 0)))
      .toDF("id", "label")
    val ratio = Expansions.negativesMask(df, "label", 1, 0.2, "ratio", seed = 5)
    val nNegRatio = ratio.filter(col("label") === 0).count()
    assert(ratio.filter(col("label") === 1).count() == 10, "positives all kept")
    assert(nNegRatio < 40, s"~20% of 100 negatives expected, got $nNegRatio")
    val mult = Expansions.negativesMask(df, "label", 1, 2.0, "multiplier", seed = 5)
    val nNegMult = mult.filter(col("label") === 0).count()
    assert(nNegMult < 45, s"~2x positives expected, got $nNegMult")
    intercept[IllegalArgumentException](
      Expansions.negativesMask(df, "label", 1, 1.0, "bogus", seed = 5))
  }

  test("over-budget multiplier-capped OvR runs no cap count job") {
    // the class inventory already counts every binary problem's positives
    // and negatives; the standalone negativesMask would count both sides
    // again, two jobs per class
    import spark.implicits._
    val rng = new Random(12)
    val df = (0 until 150).map { i =>
      (Seq((i % 3) * 4.0 + rng.nextGaussian(), rng.nextGaussian()), (i % 3).toDouble)
    }.toDF("features", "label")
    val sc = spark.sparkContext
    val capCounts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.details.contains("Expansions") =>
            capCounts.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      // multiplier 1.0 over 3 balanced classes keeps half the negatives
      val m = new DistOneVsRest(LogisticRegressionGD, maxNegatives = Some(1.0),
        negMethod = "multiplier").withBroadcastBudget(1L)
        .fit(spark, df, "features", "label")
      graft.obs.StageMetrics.drain(sc)
      assert(capCounts.get == 0, s"${capCounts.get} cap count jobs")
      assert(m.predictProba(Array(0.0, 0.0)).length == 3)
    } finally sc.removeSparkListener(listener)
  }

  test("hash folds are deterministic, seed-sensitive, and balanced") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("id")
    val f1 = df.select(Folds.byHash(col("id"), 5, seed = 1).as("f"))
    val f2 = df.select(Folds.byHash(col("id"), 5, seed = 1).as("f"))
    val f3 = df.select(Folds.byHash(col("id"), 5, seed = 2).as("f"))
    assert(f1.collect().map(_.getInt(0)).toSeq == f2.collect().map(_.getInt(0)).toSeq)
    assert(f1.collect().map(_.getInt(0)).toSeq != f3.collect().map(_.getInt(0)).toSeq)
    val counts = f1.groupBy("f").count().collect().map(_.getLong(1))
    assert(counts.length == 5 && counts.forall(c => c > 130 && c < 270))
  }

  test("auto-route: one public fit, broadcast under budget, data-parallel over") {
    import spark.implicits._
    val m = blobs(n = 120)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    val grid = Map("c" -> Seq(0.5, 1.0), "max_iter" -> Seq(40.0))
    // default budget (1 GiB): broadcast route
    val rb = new DistGridSearchCV(LogisticRegressionGD, grid, cv = 3)
      .fit(spark, df, "features", "label")
    // 1-byte budget: forced onto the data-parallel route
    val rd = new DistGridSearchCV(LogisticRegressionGD, grid, cv = 3)
      .withBroadcastBudget(1L)
      .fit(spark, df, "features", "label")
    for (r <- Seq(rb, rd)) {
      assert(r.bestScore > 0.9, s"separable blobs, got ${r.bestScore}")
      assert(r.cvResults.count() == 2)
      assert(r.cvResults.columns.toSet
        .intersect(Set("param_c", "param_max_iter", "rank_test_score")).size == 3)
      // both regimes return the engine's own model type
      val acc = m.x.zip(m.y).count { case (x, y) => r.bestModel.predict(x) == y }
      assert(acc.toDouble / m.nRows > 0.9)
    }
    // non-linear learner over budget: loud, actionable failure
    intercept[IllegalArgumentException] {
      new DistGridSearchCV(graft.exec.ConstantLearner, grid, cv = 3)
        .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    }
    // OvR: same two routes through its one public fit
    val m3 = {
      val rng = new Random(9)
      // 2-D spread centers: each class linearly separable from the REST
      // (collinear centers would make the middle class OvR-inseparable)
      val centers = Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, 5.0))
      val x = Array.tabulate(150) { i =>
        val c = i % 3
        Array(centers(c)(0) + rng.nextGaussian() * 0.3,
          centers(c)(1) + rng.nextGaussian() * 0.3)
      }
      (x, Array.tabulate(150)(i => (i % 3).toDouble))
    }
    val df3 = m3._1.zip(m3._2).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    val ovrB = new DistOneVsRest(LogisticRegressionGD)
      .fit(spark, df3, "features", "label")
    val ovrD = new DistOneVsRest(LogisticRegressionGD)
      .withBroadcastBudget(1L).fit(spark, df3, "features", "label")
    for (model <- Seq(ovrB, ovrD)) {
      assert(model.classes.toSeq == Seq(0.0, 1.0, 2.0))
      assert(Metrics.accuracy(model, m3._1, m3._2) > 0.9)
    }
  }

  test("over-budget search releases its fold frame when a fit throws") {
    import spark.implicits._
    val m = blobs(n = 60)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // every (candidate, fold) GBT fit rejects the learning rate — after
    // the fold frame is cached
    intercept[IllegalArgumentException] {
      new DistGridSearchCV(graft.exec.GBT.Classifier,
        Map("learning_rate" -> Seq(-1.0)), cv = 3)
        .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    }
    assert(sc.getPersistentRDDs.size == before,
      s"cached RDDs ${sc.getPersistentRDDs.values.mkString(", ")}")
  }

  test("withPreds() over budget fails loudly instead of dropping the OOF") {
    import spark.implicits._
    val m = blobs(n = 60)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      new DistGridSearchCV(LogisticRegressionGD,
        Map("c" -> Seq(1.0), "max_iter" -> Seq(10.0)), cv = 3)
        .withPreds().withBroadcastBudget(1L)
        .fit(spark, df, "features", "label")
    }
    assert(e.getMessage.contains("withPreds"), e.getMessage)
    // failed before the fold frame was built
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("preds: OOF proba of the best candidate covers every row exactly once") {
    val m = blobs(n = 90)
    val r = new DistGridSearchCV(LogisticRegressionGD,
      Map("c" -> Seq(0.1, 1.0), "max_iter" -> Seq(40.0)), cv = 3)
      .withPreds()
      .fitMatrix(spark, m)
    val oof = r.oofPreds.getOrElse(fail("preds requested but absent"))
    assert(oof.length == m.nRows && oof.forall(_ != null),
      "every row predicted exactly once")
    assert(oof.forall(p => math.abs(p.sum - 1.0) < 1e-6))
    // rows are predicted by fold models, NOT the full refit: at least one
    // row must disagree with the refit model's proba (different train set)
    val refit = m.x.map(r.bestModel.predictProba)
    assert(m.x.indices.exists(i => oof(i)(0) != refit(i)(0)),
      "OOF proba must come from fold models that never saw the row")
    // off by default
    assert(new DistGridSearchCV(LogisticRegressionGD,
      Map("c" -> Seq(1.0), "max_iter" -> Seq(20.0)), cv = 3)
      .fitMatrix(spark, m).oofPreds.isEmpty)
  }

  test("forest warm_start: extend equals a fresh fit under the same seeds") {
    val m = blobs(n = 90)
    val forest = new DistForest(10, Map("max_depth" -> 4.0), seed = 5)
    val base = forest.fitMatrix(spark, m)
    val extended = forest.extend(spark, base, m, nMore = 5)
    assert(extended.trees.length == 15)
    val fresh = new DistForest(15, Map("max_depth" -> 4.0), seed = 5)
      .fitMatrix(spark, m)
    assert(m.x.forall(x =>
      extended.predictProba(x).toSeq == fresh.predictProba(x).toSeq),
      "extend(10 -> 15) must equal a fresh 15-tree fit under the same seeds")
    assert(base.trees.length == 10, "the base model is untouched")
  }

  test("forest sample_weight: zero-weighted rows cannot influence the fit") {
    val m = blobs(n = 80)
    // poison half the labels but zero their weight: the weighted fit must
    // match a fit on the clean half alone in accuracy on clean rows
    val poisoned = m.y.zipWithIndex.map { case (y, i) =>
      if (i % 2 == 1) 1.0 - y else y
    }
    val mp = TrainMatrix(m.x, poisoned, m.folds)
    val w = Array.tabulate(m.nRows)(i => if (i % 2 == 1) 0.0 else 1.0)
    val forest = new DistForest(10, Map("max_depth" -> 4.0), seed = 5)
    val weighted = forest.fitMatrix(spark, mp, Some(w))
    val cleanIdx = m.x.indices.filter(_ % 2 == 0)
    val acc = cleanIdx.count(i => weighted.predict(m.x(i)) == m.y(i))
      .toDouble / cleanIdx.size
    assert(acc > 0.9, s"zero-weight rows leaked into the fit: acc $acc")
    // uniform weights reproduce the unweighted fit exactly
    val uni = forest.fitMatrix(spark, m, Some(Array.fill(m.nRows)(1.0)))
    val plain = forest.fitMatrix(spark, m)
    assert(m.x.forall(x => uni.predictProba(x).toSeq == plain.predictProba(x).toSeq))
    intercept[IllegalArgumentException](
      forest.fitMatrix(spark, m, Some(Array(1.0))))
  }

  test("named forest factories mirror the reference variants") {
    val m = blobs()
    val rf = DistRandomForestClassifier(nEstimators = 8, maxDepth = 4)
      .fitMatrix(spark, m)
    val et = DistExtraTreesClassifier(nEstimators = 8, maxDepth = 4)
      .fitMatrix(spark, m)
    assert(Metrics.accuracy(rf, m.x, m.y) > 0.9)
    assert(Metrics.accuracy(et, m.x, m.y) > 0.9)
    val yReg = m.x.map(_(0))
    val mr = TrainMatrix(m.x, yReg, m.folds)
    val rfr = DistRandomForestRegressor(nEstimators = 10, maxDepth = 5)
      .fitMatrix(spark, mr)
    val etr = DistExtraTreesRegressor(nEstimators = 10, maxDepth = 5)
      .fitMatrix(spark, mr)
    assert(Metrics.r2(rfr, mr.x, mr.y) > 0.8)
    assert(Metrics.r2(etr, mr.x, mr.y) > 0.8)
  }

  test("error_score covers fit failures ONLY: scorer errors surface loudly") {
    // sklearn semantics: error_score fills FIT failures; a scoring
    // exception is a bug that must not be laundered into a fake score
    val e = intercept[org.apache.spark.SparkException] {
      new DistGridSearchCV(FitsButUnscorable,
        Map("c" -> Seq(1.0), "max_iter" -> Seq(10.0)), cv = 3,
        errorScore = Some(0.0)).fitMatrix(spark, blobs())
    }
    assert(e.getMessage.contains("scorer boom"), e.getMessage)
  }

  test("constant learner fails loudly on an empty slice") {
    intercept[IllegalArgumentException](
      graft.exec.ConstantLearner.fit(Array.empty, Array.empty, Map.empty, 0L))
  }

  test("multi-model search rejects duplicate model names") {
    intercept[IllegalArgumentException] {
      new DistMultiModelSearch(Seq(
        ("lr", LogisticRegressionGD, Map("c" -> Seq(1.0))),
        ("lr", graft.exec.LogisticRegressionLBFGS, Map("c" -> Seq(0.1)))))
    }
  }

  test("group-aware fit enforces the broadcast budget loudly") {
    import spark.implicits._
    val m = blobs(n = 60)
    val df = m.x.zip(m.y).zipWithIndex
      .map { case ((x, y), i) => (x.toSeq, y, (i % 7).toLong) }
      .toSeq.toDF("features", "label", "grp")
    // group CV has no data-parallel executor: over budget must be a clear
    // error, not a silent driver-collect of an over-budget matrix
    val e = intercept[IllegalArgumentException] {
      new DistGridSearchCV(LogisticRegressionGD,
        Map("c" -> Seq(1.0), "max_iter" -> Seq(10.0)), cv = 3)
        .withBroadcastBudget(1L)
        .fit(spark, df, "features", "label", "grp")
    }
    assert(e.getMessage.contains("broadcast-only"))
  }

  test("data-parallel route: engine c translates per-fit, regParam = 1/(c*n)") {
    import spark.implicits._
    val m = blobs(n = 120)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    def weightNorm(model: Model): Double = {
      val w = model.asInstanceOf[graft.exec.LogRegModel].weights
      math.sqrt(w.map(_.dropRight(1).map(x => x * x).sum).sum)
    }
    // c = 1.0 on 120 separable rows: lambda = 1/(c*n) ~ 0.008 — near
    // unregularized, so the margin weights grow well past 1. The wrong
    // 1/c translation (regParam = 1.0) crushes them far below that.
    val weak = new DistGridSearchCV(graft.exec.LogisticRegressionLBFGS,
      Map("c" -> Seq(1.0), "max_iter" -> Seq(80.0)), cv = 3)
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    assert(weightNorm(weak.bestModel) > 1.0,
      s"near-unregularized fit expected, weight norm ${weightNorm(weak.bestModel)}")
    // near-zero c: lambda = 1/(c*n) explodes and weights shrink to ~0
    val strong = new DistGridSearchCV(graft.exec.LogisticRegressionLBFGS,
      Map("c" -> Seq(1e-8), "max_iter" -> Seq(80.0)), cv = 3)
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    assert(weightNorm(strong.bestModel) < 0.1,
      s"crushing regularization expected, weight norm ${weightNorm(strong.bestModel)}")
  }

  test("data-parallel route honors engine scoring names, iid and extras") {
    import spark.implicits._
    val m = blobs(n = 120)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    // f1_weighted/neg_log_loss are ENGINE names — Spark's evaluator would
    // reject them; the route must score via DistributedScore instead
    val r = new DistGridSearchCV(graft.exec.LogisticRegressionLBFGS,
      Map("c" -> Seq(1.0, 0.1), "max_iter" -> Seq(60.0)),
      cv = 3, scoring = "f1_weighted", iid = true)
      .withExtraScorings(Seq("neg_log_loss"))
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    assert(r.bestScore > 0.9, s"separable blobs, got ${r.bestScore}")
    val cols = r.cvResults.columns.toSet
    assert(Set("mean_test_f1_weighted", "mean_test_neg_log_loss",
      "mean_test_score", "rank_test_score").subsetOf(cols), cols.toSeq.sorted)
    val row = r.cvResults.orderBy("candidate_id").head()
    assert(row.getAs[Double]("mean_test_score")
      == row.getAs[Double]("mean_test_f1_weighted"), "primary = refit metric")
    assert(row.getAs[Double]("mean_test_neg_log_loss") <= 0.0)
  }

  test("eliminator auto-route: over-budget fit eliminates data-parallel") {
    import spark.implicits._
    val m = blobs(n = 120)
    val rng = new Random(13)
    // 2 informative dims + 2 pure-noise dims
    val df = m.x.map(r => r ++ Array(rng.nextGaussian(), rng.nextGaussian()))
      .zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    def eliminate(budget: Long) =
      new graft.search.DistFeatureEliminator(
        graft.exec.LogisticRegressionLBFGS,
        minFeaturesToSelect = 2, step = 1, cv = 3)
        .withBroadcastBudget(budget).fit(spark, df, "features", "label")
    val dp = eliminate(1L)        // forced distributed route
    val bc = eliminate(1L << 30)  // broadcast route
    // both regimes keep the informative dims and prune toward them
    Seq(("dp", dp), ("bc", bc)).foreach { case (name, r) =>
      assert(r.bestScore > 0.9, s"$name score ${r.bestScore}")
      assert(r.bestFeatures.toSet.intersect(Set(0, 1)) == Set(0, 1),
        s"$name kept ${r.bestFeatures.toSeq}")
      assert(r.scores.count() == 3, s"$name rung count") // 4 dims, min 2, step 1
    }
    // the masked model predicts through the FULL-width row
    val probe = m.x(0) ++ Array(0.0, 0.0)
    assert(dp.model.predict(probe) == bc.model.predict(probe))
    // unsupported learner fails loudly on the distributed route
    assertThrows[IllegalArgumentException] {
      new graft.search.DistFeatureEliminator(graft.exec.LinearSVC)
        .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    }
  }

  test("DataFrame OOF covers every row exactly once with usable probabilities") {
    import spark.implicits._
    val m = blobs(n = 120)
    val df = m.x.zip(m.y).zipWithIndex.toSeq
      .map { case ((x, y), i) => (i.toLong, x.toSeq, y) }
      .toDF("id", "features", "label")
    val oof = graft.search.OutOfFold.oofProbaDF(df, "features", "label",
      graft.exec.LogisticRegressionLBFGS, cv = 3, seed = 11)
    val rows = oof.select("id", "label", "oof_proba").collect()
    // exactly-once coverage
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 120L))
    // out-of-fold argmax still separates the blobs
    val acc = rows.count { r =>
      val p = r.getSeq[Double](2)
      p.indexOf(p.max).toDouble == r.getDouble(1)
    }.toDouble / rows.length
    assert(acc > 0.9, s"OOF accuracy $acc")
    // original columns survive; proba width = class count
    assert(oof.columns.toSet == Set("id", "features", "label", "oof_proba"))
    assert(rows.head.getSeq[Double](2).length == 2)
    // tree learner routes through DataParallelCART
    val oofTree = graft.search.OutOfFold.oofProbaDF(df, "features", "label",
      new graft.exec.CART.Classifier(2), cv = 3, seed = 11,
      params = Map("max_depth" -> 4.0))
    assert(oofTree.count() == 120)
  }

  test("DataFrame OOF leaves nothing cached once the result is released") {
    import spark.implicits._
    val m = blobs(n = 60)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val oof = graft.search.OutOfFold.oofProbaDF(df, "features", "label",
      graft.exec.LogisticRegressionLBFGS, cv = 3, seed = 5)
    assert(oof.count() == 60)
    oof.unpersist()
    assert(sc.getPersistentRDDs.size == before,
      s"cached RDDs ${sc.getPersistentRDDs.values.mkString(", ")}")
  }

  test("aggregateMulti iid weights every metric by fold size") {
    import spark.implicits._
    // two folds, unequal sizes: weighted mean differs from plain mean for
    // BOTH metrics, matching aggregate()'s single-metric math exactly
    val scores = Seq(
      (0, 0, Map("acc" -> 1.0, "nll" -> -0.2), 30L),
      (0, 1, Map("acc" -> 0.5, "nll" -> -0.8), 10L))
      .toDF("candidate_id", "fold_id", "scores", "n_test")
    val plain = graft.agg.CvResults
      .aggregateMulti(scores, Seq("candidate_id"), Seq("acc", "nll")).head()
    assert(plain.getAs[Double]("mean_test_acc") == 0.75)
    val iid = graft.agg.CvResults
      .aggregateMulti(scores, Seq("candidate_id"), Seq("acc", "nll"),
        iid = true).head()
    // (1.0*30 + 0.5*10) / 40 = 0.875 ; (-0.2*30 + -0.8*10) / 40 = -0.35
    assert(iid.getAs[Double]("mean_test_acc") == 0.875, iid.toString)
    assert(iid.getAs[Double]("mean_test_nll") == -0.35, iid.toString)
    // population-std parity with the single-metric weighted formula
    val single = graft.agg.CvResults.aggregate(
      scores.withColumn("score", org.apache.spark.sql.functions
        .element_at(org.apache.spark.sql.functions.col("scores"), "acc")),
      Seq("candidate_id"), iid = true).head()
    assert(iid.getAs[Double]("std_test_acc")
      == single.getAs[Double]("std_test_score"))
  }

  test("fit_params: eval-set early stopping fires sooner, scores within tolerance") {
    import scala.collection.mutable.ArrayBuffer
    import graft.exec.{FitSideData, LogisticRegressionLBFGS}
    // Overfit-prone: few rows, mostly-noise dims, near-zero regularization
    // — train NLL keeps falling while held-out NLL turns, so patience fires
    // well before max_iter.
    val rng = new Random(3)
    val d = 20
    def mk(n: Int) = {
      val x = Array.tabulate(n) { i =>
        val c = i % 2
        Array.tabulate(d)(j =>
          if (j == 0) c * 1.0 + rng.nextGaussian() * 0.8 else rng.nextGaussian())
      }
      (x, Array.tabulate(n)(i => (i % 2).toDouble))
    }
    val (tx, ty) = mk(40)
    val (ex, ey) = mk(200)
    val params = Map("c" -> 1e6, "max_iter" -> 400.0, "tol" -> 0.0)
    for (lrn <- Seq[Learner](LogisticRegressionLBFGS, LogisticRegressionGD)) {
      // patience = MaxValue never stops, so its history length IS the
      // solver's natural iteration count (the monitor only observes)
      val fullHist = ArrayBuffer.empty[Double]
      val full = lrn.fit(tx, ty, params, 1,
        FitSideData(ex, ey, Int.MaxValue, history = fullHist))
      val earlyHist = ArrayBuffer.empty[Double]
      val early = lrn.fit(tx, ty, params, 1,
        FitSideData(ex, ey, earlyStoppingRounds = 3, history = earlyHist))
      assert(earlyHist.nonEmpty && earlyHist.length < fullHist.length,
        s"$lrn: early ${earlyHist.length} vs full ${fullHist.length} iters")
      // best-on-eval rewind: the stopped fit can't be worse on eval NLL
      assert(FitSideData.evalNll(early, ex, ey)
        <= FitSideData.evalNll(full, ex, ey) + 1e-9, s"$lrn eval NLL")
      val accFull = Metrics.accuracy(lrn.fit(tx, ty, params, 1), ex, ey)
      val accEarly = Metrics.accuracy(early, ex, ey)
      assert(accEarly >= accFull - 0.05, s"$lrn: $accEarly vs $accFull")
      // no side data (or no eval slice) is exactly the old path
      assert(Metrics.accuracy(lrn.fit(tx, ty, params, 1, FitSideData.empty), ex, ey)
        == accFull)
    }
    // LinearSVC: same channel, per-class squared-hinge monitor (decision
    // values, not probabilities — NLL does not apply). The noisy-dim set
    // above is no good here: its eval HINGE rises from step 1 (noise dims
    // produce confident wrong margins that hinge punishes quadratically),
    // so no iterate is ever accepted and the fit falls back to the final
    // iterate — working semantics, nothing to compare. On separable blobs eval hinge drops
    // to ~0 within a few iterations and plateaus (measured: floor by iter
    // ~6 of a ~66-iteration natural run), so minDelta turns the plateau
    // into a stop far before the natural count.
    locally {
      val svc = graft.exec.LinearSVC
      val svcParams = Map("c" -> 1.0, "max_iter" -> 400.0, "tol" -> 0.0)
      def blob(n: Int, s: Int) = {
        val r2 = new Random(s)
        val x = Array.tabulate(n) { i =>
          val c = i % 2
          Array(c * 4.0 + r2.nextGaussian() * 0.3, r2.nextGaussian())
        }
        (x, Array.tabulate(n)(i => (i % 2).toDouble))
      }
      val (bx2, by2) = blob(60, 5)
      val (ex2, ey2) = blob(100, 6)
      val fullHist = ArrayBuffer.empty[Double]
      svc.fit(bx2, by2, svcParams, 1,
        FitSideData(ex2, ey2, Int.MaxValue, history = fullHist))
      val earlyHist = ArrayBuffer.empty[Double]
      val early = svc.fit(bx2, by2, svcParams, 1,
        FitSideData(ex2, ey2, earlyStoppingRounds = 3, minDelta = 1e-4,
          history = earlyHist))
      assert(earlyHist.nonEmpty && earlyHist.length < fullHist.length,
        s"svc: early ${earlyHist.length} vs full ${fullHist.length}")
      val accF = Metrics.accuracy(svc.fit(bx2, by2, svcParams, 1), ex2, ey2)
      assert(Metrics.accuracy(early, ex2, ey2) >= accF - 0.05, "svc eval accuracy")
    }
    // no-improvement fallback: minDelta = MaxValue means NO iterate is
    // ever accepted, so the rewind has no candidate — the fit must return
    // the optimizer's final iterate (patience stops it after
    // earlyStoppingRounds steps), NEVER the all-zero init it used to
    // rewind to (zero model = ln(2) eval NLL / coin-flip accuracy)
    locally {
      val m2 = blobs(n = 120)
      val (b2x, b2y) = (m2.x.take(60), m2.y.take(60))
      val (v2x, v2y) = (m2.x.drop(60), m2.y.drop(60))
      val zeroNll = math.log(2)
      for (lrn <- Seq[Learner](LogisticRegressionLBFGS, LogisticRegressionGD)) {
        val mdl = lrn.fit(b2x, b2y, Map("c" -> 1.0, "max_iter" -> 200.0),
          1, FitSideData(v2x, v2y, earlyStoppingRounds = 3,
            minDelta = Double.MaxValue))
        assert(FitSideData.evalNll(mdl, v2x, v2y) < zeroNll - 1e-6,
          s"$lrn: no-improvement fallback returned the zero model")
      }
      val svcMdl = graft.exec.LinearSVC.fit(b2x, b2y,
        Map("c" -> 1.0, "max_iter" -> 200.0), 1,
        FitSideData(v2x, v2y, earlyStoppingRounds = 3,
          minDelta = Double.MaxValue))
      assert(Metrics.accuracy(svcMdl, v2x, v2y) >= 0.9,
        "svc: no-improvement fallback returned the zero model")
    }
    // the search stack threads side data into every CV fit and the refit
    val m = blobs(n = 90)
    val (bx, by) = (m.x.take(30), m.y.take(30))
    val r = new DistGridSearchCV(LogisticRegressionLBFGS,
      Map("c" -> Seq(1.0, 10.0), "max_iter" -> Seq(80.0)), cv = 3)
      .withFitSideData(FitSideData(bx, by, earlyStoppingRounds = 3))
      .fitMatrix(spark, m)
    assert(r.bestScore > 0.9, s"early-stopped search, got ${r.bestScore}")
    assert(Metrics.accuracy(r.bestModel, m.x, m.y) > 0.9)
    // OvR / OvO remap the eval labels into each binary subproblem: with
    // an aggressive patience, a label-space bug would stop every class
    // fit at iteration ~0 and tank accuracy on separable blobs
    locally {
      import spark.implicits._
      val rng3 = new Random(21)
      val centers = Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, 5.0))
      def mk3(n: Int) = {
        val x = Array.tabulate(n) { i =>
          val c = i % 3
          Array(centers(c)(0) + rng3.nextGaussian() * 0.3,
            centers(c)(1) + rng3.nextGaussian() * 0.3)
        }
        (x, Array.tabulate(n)(i => (i % 3).toDouble))
      }
      val (x3, y3) = mk3(120)
      val (e3x, e3y) = mk3(60)
      val df3 = x3.zip(y3).toSeq.map { case (x, y) => (x.toSeq, y) }
        .toDF("features", "label")
      val es = FitSideData(e3x, e3y, earlyStoppingRounds = 2)
      val ovr = new DistOneVsRest(graft.exec.LogisticRegressionLBFGS)
        .withFitSideData(es).fit(spark, df3, "features", "label")
      assert(Metrics.accuracy(ovr, x3, y3) > 0.9, "OvR with eval early stop")
      val ovo = new DistOneVsOne(graft.exec.LogisticRegressionLBFGS)
        .withFitSideData(es).fit(spark, df3, "features", "label")
      assert(Metrics.accuracy(ovo, x3, y3) > 0.9, "OvO with eval early stop")
    }
  }

  test("OvO auto-route: over-budget fit runs per-pair data-parallel, regime-identical predictions") {
    import spark.implicits._
    val rng = new Random(11)
    val centers = Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(-5.0, 5.0))
    val x = Array.tabulate(150) { i =>
      val c = i % 3
      Array(centers(c)(0) + rng.nextGaussian() * 0.3,
        centers(c)(1) + rng.nextGaussian() * 0.3)
    }
    val y = Array.tabulate(150)(i => (i % 3).toDouble)
    val df = x.zip(y).toSeq.map { case (xs, yy) => (xs.toSeq, yy) }
      .toDF("features", "label")
    val bc = new DistOneVsOne(graft.exec.LogisticRegressionLBFGS)
      .fit(spark, df, "features", "label")
    val dp = new DistOneVsOne(graft.exec.LogisticRegressionLBFGS)
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    assert(dp.classes.toSeq == bc.classes.toSeq)
    assert(dp.pairs.toSeq == bc.pairs.toSeq)
    assert(dp.models.forall(_.isInstanceOf[graft.exec.LogRegModel]),
      "data-parallel OvO returns the engine's own model type")
    // same pair lattice, same default regularization (c=1 -> lambda=1/n),
    // well-separated pairs: the two regimes must agree pointwise
    x.indices.foreach { i =>
      assert(dp.predict(x(i)) == bc.predict(x(i)), s"row $i regime disagreement")
    }
    assert(Metrics.accuracy(dp, x, y) > 0.95)
    // the pair axis submits its fits concurrently — a second run must
    // produce IDENTICAL models: pair fits are independent, so the order
    // the scheduler runs them in may change only wall clock
    val again = new DistOneVsOne(graft.exec.LogisticRegressionLBFGS)
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    assert(again.pairs.toSeq == dp.pairs.toSeq)
    x.indices.foreach { i =>
      assert(again.predictProba(x(i)).sameElements(dp.predictProba(x(i))),
        s"row $i run-to-run disagreement")
    }
    // tree base learner routes through DataParallelCART per pair
    val dpTree = new DistOneVsOne(new graft.exec.CART.Classifier(2))
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    assert(Metrics.accuracy(dpTree, x, y) > 0.95)
  }

  test("Par.concurrently: overlapping execution, ordered results, failure propagation") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = graft.ops.Par.concurrently(1 to 6, parallelism = 6) { i =>
      val a = active.incrementAndGet()
      peak.accumulateAndGet(a, math.max)
      Thread.sleep(150)
      active.decrementAndGet()
      i * 10
    }
    assert(out == (1 to 6).map(_ * 10), "input order preserved")
    assert(peak.get() > 1, s"no overlap observed (peak ${peak.get()})")
    // parallelism 1 is the plain sequential map
    val p1 = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.ops.Par.concurrently(1 to 3, parallelism = 1) { _ =>
      assert(p1.incrementAndGet() == 1); Thread.sleep(10); p1.decrementAndGet()
    }
    intercept[IllegalStateException] {
      graft.ops.Par.concurrently(1 to 4, parallelism = 4) { i =>
        if (i == 3) throw new IllegalStateException("boom") else i
      }
    }
  }

  test("multi-model auto-route: over-budget race runs data-parallel, same winner") {
    import spark.implicits._
    val m = blobs(n = 150)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    // a real logistic candidate vs a deliberately-crippled tree whose
    // min_samples_split exceeds n (root never splits → constant
    // prediction): the winner is unambiguous in both regimes, not a
    // tie-break accident
    val entrants = Seq(
      ("logreg", graft.exec.LogisticRegressionLBFGS: Learner,
        Map("c" -> Seq(1.0), "max_iter" -> Seq(60.0))),
      ("rootleaf", new graft.exec.CART.Classifier(2): Learner,
        Map("min_samples_split" -> Seq(10000.0))))
    def race(budget: Long) = new DistMultiModelSearch(entrants, n = 2, cv = 3)
      .withBroadcastBudget(budget).fit(spark, df, "features", "label")
    val bc = race(1L << 30)
    val dp = race(1L)
    for ((r, nm) <- Seq((bc, "broadcast"), (dp, "data-parallel"))) {
      assert(r.bestModelName == "logreg", s"$nm winner ${r.bestModelName}")
      assert(r.bestScore > 0.9, s"$nm score ${r.bestScore}")
      // the crippled tree actually scored like a constant (gate has teeth)
      val worst = r.cvResults.filter(col("model_name") === "rootleaf")
        .select("mean_test_score").collect().map(_.getDouble(0)).max
      assert(worst < 0.7, s"$nm rootleaf scored $worst — not crippled")
      assert(r.cvResults.columns.contains("rank_test_score"))
      // same (model, candidate) row lattice in both regimes
      assert(r.cvResults.select("model_name", "candidate_id").collect()
        .map(row => (row.getString(0), row.getInt(1))).toSet
        == bc.cvResults.select("model_name", "candidate_id").collect()
        .map(row => (row.getString(0), row.getInt(1))).toSet, s"$nm lattice")
      // both regimes hand back an engine model that actually predicts
      val acc = m.x.zip(m.y).count { case (x, y) => r.bestModel.predict(x) == y }
      assert(acc.toDouble / m.nRows > 0.9, s"$nm refit accuracy")
    }
    // non-routable learner over budget: loud, actionable failure
    intercept[IllegalArgumentException] {
      new DistMultiModelSearch(Seq(
        ("const", graft.exec.ConstantLearner: Learner, Map("c" -> Seq(1.0)))),
        n = 1, cv = 3).withBroadcastBudget(1L).fit(spark, df, "features", "label")
    }
  }

  test("DataParallelFit treats a missing 'c' as the engine default c=1") {
    import spark.implicits._
    val m = blobs(n = 120)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    def weights(params: Map[String, Double]) =
      DataParallelFit.fit(graft.exec.LogisticRegressionLBFGS, df,
        "features", "label", params, 1)
        .asInstanceOf[graft.exec.LogRegModel].weights
    val omitted = weights(Map.empty)
    val explicit = weights(Map("c" -> 1.0))
    omitted.zip(explicit).foreach { case (a, b) =>
      a.zip(b).foreach { case (u, v) =>
        assert(math.abs(u - v) < 1e-9, "Map.empty must regularize like c=1")
      }
    }
    // and the regularization actually bites: separable blobs fit
    // unregularized (explicit c<=0 opt-out) grow much larger weights
    val unreg = weights(Map("c" -> 0.0))
    val norm = (w: Array[Array[Double]]) =>
      math.sqrt(w.map(_.map(v => v * v).sum).sum)
    assert(norm(unreg) > 2 * norm(omitted),
      s"unregularized ${norm(unreg)} vs default ${norm(omitted)}")
  }

  test("successful fits leave no cached frame in the caller's session") {
    import spark.implicits._
    val m = blobs(n = 60)
    val df = m.x.zip(m.y).toSeq.map { case (x, y) => (x.toSeq, y) }
      .toDF("features", "label")
    val sc = spark.sparkContext
    val grid = Map("c" -> Seq(0.1, 1.0), "max_iter" -> Seq(20.0))
    val fits: Seq[(String, () => DataFrame)] = Seq(
      "grid" -> (() => new DistGridSearchCV(LogisticRegressionGD, grid, cv = 3)
        .fitMatrix(spark, m).cvResults),
      "race" -> (() => new DistMultiModelSearch(
        Seq(("lr", LogisticRegressionGD, Map("c" -> Seq(0.1, 1.0)))), n = 2, cv = 3)
        .fit(spark, df, "features", "label").cvResults),
      "eliminator" -> (() => new DistFeatureEliminator(LogisticRegressionGD, cv = 3)
        .fitMatrix(spark, m).scores),
      "over-budget grid" -> (() => new DistGridSearchCV(LogisticRegressionGD, grid, cv = 3)
        .withBroadcastBudget(1L).fit(spark, df, "features", "label").cvResults))
    for ((name, fit) <- fits) {
      val before = sc.getPersistentRDDs.size
      val cvResults = fit()
      assert(sc.getPersistentRDDs.size == before,
        s"$name: cached RDDs ${sc.getPersistentRDDs.values.mkString(", ")}")
      // re-evaluating the results re-aggregates driver-local fold scores
      assert(cvResults.count() == cvResults.count())
    }
  }

  test("every broadcast fit surface releases its matrix, also when a fit throws") {
    import spark.implicits._
    val sc = spark.sparkContext
    // >= 1 MB of features: a broadcast the driver keeps shows up in its
    // block manager's memory far above the task binaries' few KB
    val rng = new Random(3)
    val n = 4000
    val x = Array.tabulate(n)(i => Array.tabulate(32)(j => (i % 3) * (j % 2) + rng.nextGaussian()))
    val y = Array.tabulate(n)(i => (i % 3).toDouble)
    val m = TrainMatrix(x, y, ModelParallel.stratifiedFolds(y, 2, 3))
    val df = x.zip(y).toSeq.map { case (r, l) => (r.toSeq, l) }.toDF("features", "label")
    val sets = y.map(l => Set(l.toString))
    def surfaces(l: Learner): Seq[(String, () => Any)] = Seq(
      "grid" -> (() => new DistGridSearchCV(l, Map("max_iter" -> Seq(5.0)), cv = 2)
        .fitMatrix(spark, m)),
      "race" -> (() => new DistMultiModelSearch(
        Seq(("lr", l, Map("max_iter" -> Seq(5.0)))), n = 1, cv = 2)
        .fit(spark, df, "features", "label")),
      "ovr" -> (() => new DistOneVsRest(l).fitMatrix(spark, m)),
      "multilabel" -> (() => new DistMultilabelOvR(l).fitSets(spark, x, sets)),
      "ovo" -> (() => new DistOneVsOne(l).fitMatrix(spark, m)),
      "oof" -> (() => OutOfFold.oofProba(spark, m, l, 2, 7)),
      "eliminator" -> (() => new DistFeatureEliminator(l,
        minFeaturesToSelect = 16, step = 16, cv = 2).fitMatrix(spark, m)))
    val forest = DistRandomForestClassifier(nEstimators = 2, maxDepth = 2)
    val runs =
      surfaces(LogisticRegressionGD).map { case (s, f) => (s, f, false) } ++
        surfaces(ThrowsInTasks).map { case (s, f) => (s, f, true) } ++ Seq(
        ("forest/extend", () => forest.extend(spark, forest.fitMatrix(spark, m), m, 2), false),
        // a 1-class model has no slot for label 1: every tree task throws
        ("forest/extend", () => forest.extend(spark, ForestModel(Array.empty, 1), m, 2), true))
    def held: Long = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    for ((surface, fit, throws) <- runs) {
      val before = held
      if (throws) intercept[org.apache.spark.SparkException](fit()) else fit()
      // broadcast removal is asynchronous: give the block manager a moment
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (held - before > (512L << 10) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(held - before <= (512L << 10),
        s"$surface (throwing=$throws) left ${held - before} bytes in the driver's block manager")
    }
  }

  test("empty or ragged training matrices fail loudly on every surface") {
    import spark.implicits._
    val empty = Seq.empty[(Seq[Double], Double)].toDF("features", "label")
    val fits: Seq[(String, () => Any)] = Seq(
      "grid" -> (() => new DistGridSearchCV(LogisticRegressionGD, Map("c" -> Seq(1.0)))
        .fit(spark, empty, "features", "label")),
      "race" -> (() => new DistMultiModelSearch(
        Seq(("lr", LogisticRegressionGD, Map("c" -> Seq(1.0)))))
        .fit(spark, empty, "features", "label")),
      "ovr" -> (() => new DistOneVsRest(LogisticRegressionGD)
        .fit(spark, empty, "features", "label")),
      "multilabel" -> (() => new DistMultilabelOvR(LogisticRegressionGD)
        .fit(spark, Seq.empty[(Seq[Double], Seq[String])].toDF("features", "labels"),
          "features", "labels")),
      "ovo" -> (() => new DistOneVsOne(LogisticRegressionGD)
        .fit(spark, empty, "features", "label")),
      "forest" -> (() => DistRandomForestClassifier(nEstimators = 2)
        .fit(spark, empty, "features", "label")),
      "embedding" -> (() => new DistRandomTreesEmbedding(nEstimators = 2)
        .fit(spark, empty, "features")),
      "eliminator" -> (() => new DistFeatureEliminator(LogisticRegressionGD)
        .fit(spark, empty, "features", "label")))
    for ((surface, fit) <- fits) {
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("empty training set"), s"$surface: ${e.getMessage}")
    }
    val ragged = intercept[IllegalArgumentException](
      TrainMatrix(Array(Array(1.0), Array(2.0)), Array(0.0), Array(0, 1)))
    assert(ragged.getMessage.contains("ragged"), ragged.getMessage)
  }

  test("a null label fails OvR and OvO loudly in both regimes, naming the column") {
    import spark.implicits._
    val m = blobs(n = 60)
    val df = m.x.zip(m.y).toSeq.zipWithIndex.map { case ((x, y), i) =>
      (x.toSeq, if (i == 7) None else Some(y))
    }.toDF("features", "target")
    val sc = spark.sparkContext
    val fits: Seq[(String, Long => Any)] = Seq(
      "ovr" -> (b => new DistOneVsRest(LogisticRegressionGD).withBroadcastBudget(b)
        .fit(spark, df, "features", "target")),
      "ovo" -> (b => new DistOneVsOne(LogisticRegressionGD).withBroadcastBudget(b)
        .fit(spark, df, "features", "target")))
    for ((surface, fit) <- fits; budget <- Seq(1L << 30, 1L)) {
      val before = sc.getPersistentRDDs.size
      val e = intercept[IllegalArgumentException](fit(budget))
      assert(e.getMessage.contains("'target'") && e.getMessage.contains("null"),
        s"$surface at budget $budget: ${e.getMessage}")
      assert(sc.getPersistentRDDs.size == before,
        s"$surface at budget $budget left its label frame cached")
    }
  }
}
