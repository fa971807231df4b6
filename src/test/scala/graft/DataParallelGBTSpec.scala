package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.exec.{FitSideData, GBT, Metrics}
import graft.search.DataParallelGBT

/** Regime parity for data-parallel boosting: on low-cardinality features
  * (where `DataParallelCART`'s exact-candidate path grows the broadcast
  * learner's own trees) a DP GBT fit must agree with the broadcast
  * `GBT.boost` up to floating-point summation order — same priors, same
  * stage trees, same Newton leaf steps, same early-stopping decisions.
  * Subsample < 1 is distribution-equivalent (not draw-for-draw, like the
  * forest bootstrap) and is checked for quality, not equality.
  */
class DataParallelGBTSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** d low-cardinality features (6 distinct values each — well under the
    * 32-bin exact-candidate threshold, so both regimes see identical
    * split candidates).
    */
  private def lowCardX(n: Int, d: Int, seed: Int): Array[Array[Double]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(d)(rng.nextInt(6) * 0.5))
  }

  private def toDF(x: Array[Array[Double]], y: Array[Double]) = {
    import spark.implicits._
    x.zip(y).toSeq.map { case (v, l) => (v.toSeq, l) }
      .toDF("features", "label")
  }

  test("regression parity: DP fit == broadcast fit on low-card data") {
    val x = lowCardX(400, 4, seed = 3)
    val rng = new Random(11)
    val y = x.map(r => 2.0 * r(0) - r(1) + r(2) * r(3) + rng.nextGaussian() * 0.1)
    val params = Map("n_estimators" -> 5.0, "learning_rate" -> 0.3)
    val bc = GBT.Regressor.fit(x, y, params, seed = 5).asInstanceOf[GBT.GBTModel]
    val dp = DataParallelGBT.fit(toDF(x, y), "features", "label", params,
      seed = 5, nClasses = 0)
    assert(dp.nStages == bc.nStages)
    assert(math.abs(dp.prior(0) - bc.prior(0)) < 1e-12)
    x.foreach { r =>
      assert(math.abs(dp.predict(r) - bc.predict(r)) < 1e-8,
        s"regression drift at ${r.toSeq}: ${dp.predict(r)} vs ${bc.predict(r)}")
    }
  }

  test("binary parity: probabilities agree; Newton steps via aggregation") {
    val x = lowCardX(400, 4, seed = 17)
    val y = x.map(r => if (r(0) + r(1) > 2.4) 1.0 else 0.0)
    val params = Map("n_estimators" -> 5.0, "learning_rate" -> 0.3)
    val bc = GBT.Classifier.fit(x, y, params, seed = 5).asInstanceOf[GBT.GBTModel]
    val dp = DataParallelGBT.fit(toDF(x, y), "features", "label", params,
      seed = 5, nClasses = 2)
    assert(dp.nStages == bc.nStages)
    x.foreach { r =>
      val (pd, pb) = (dp.predictProba(r)(1), bc.predictProba(r)(1))
      assert(math.abs(pd - pb) < 1e-6, s"proba drift: $pd vs $pb")
      assert(dp.predict(r) == bc.predict(r))
    }
    assert(Metrics.accuracy(dp, x, y) > 0.95)
  }

  test("multiclass parity: K softmax trees per stage, (K-1)/K Newton step") {
    val k = 3
    val x = lowCardX(450, 4, seed = 23)
    val y = x.map { r =>
      if (r(0) > 1.5) 2.0 else if (r(1) > 1.5) 1.0 else 0.0
    }
    val params = Map("n_estimators" -> 4.0, "learning_rate" -> 0.3)
    val bc = GBT.Classifier.fit(x, y, params, seed = 7).asInstanceOf[GBT.GBTModel]
    val dp = DataParallelGBT.fit(toDF(x, y), "features", "label", params,
      seed = 7, nClasses = k)
    assert(dp.nStages == bc.nStages && dp.nClasses == k)
    x.foreach { r =>
      val (pd, pb) = (dp.predictProba(r), bc.predictProba(r))
      (0 until k).foreach { c =>
        assert(math.abs(pd(c) - pb(c)) < 1e-5,
          s"class $c proba drift: ${pd.toSeq} vs ${pb.toSeq}")
      }
      assert(dp.predict(r) == bc.predict(r))
    }
  }

  test("early stopping: DP regime stops at the broadcast regime's stage") {
    val x = lowCardX(300, 4, seed = 31)
    // 15% flipped train labels: the fit overfits the noise, held-out
    // loss bottoms out, and patience actually fires within 60 stages
    val flip = new Random(43)
    val y = x.map { r =>
      val t = if (r(0) + r(2) > 2.4) 1.0 else 0.0
      if (flip.nextDouble() < 0.15) 1.0 - t else t
    }
    val ex = lowCardX(200, 4, seed = 37)
    val ey = ex.map(r => if (r(0) + r(2) > 2.4) 1.0 else 0.0)
    val params = Map("n_estimators" -> 60.0, "learning_rate" -> 0.4)
    def sideData() = FitSideData(ex, ey, earlyStoppingRounds = 3,
      history = scala.collection.mutable.ArrayBuffer.empty[Double])
    val sideBc = sideData()
    val bc = GBT.Classifier.fit(x, y, params, 5, sideBc)
      .asInstanceOf[GBT.GBTModel]
    val sideDp = sideData()
    val dp = DataParallelGBT.fit(toDF(x, y), "features", "label", params,
      seed = 5, nClasses = 2, side = sideDp)
    assert(sideBc.history.length < 60, "early stopping fired (broadcast)")
    assert(dp.nStages == bc.nStages,
      s"regimes truncated differently: ${dp.nStages} vs ${bc.nStages}")
    assert(sideDp.history.length == sideBc.history.length)
    sideDp.history.zip(sideBc.history).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"eval history drift: $a vs $b")
    }
  }

  test("OvR over broadcast budget routes GBT per-class fits data-parallel") {
    val rng = new Random(53)
    val k = 3
    val x = Array.fill(360)(Array.fill(3)(rng.nextInt(6) * 0.5))
    val y = x.map { r =>
      if (r(0) > 1.5) 2.0 else if (r(1) > 1.5) 1.0 else 0.0
    }
    val m = new graft.search.DistOneVsRest(GBT.Classifier)
      .withBroadcastBudget(1L)
      .fit(spark, toDF(x, y), "features", "label")
    assert(Metrics.accuracy(m, x, y) > 0.95,
      s"OvR-over-GBT DP accuracy ${Metrics.accuracy(m, x, y)}")
  }

  test("subsample: DP route is seeded, deterministic, and still learns") {
    val x = lowCardX(500, 4, seed = 41)
    val y = x.map(r => if (r(0) + r(1) > 2.4) 1.0 else 0.0)
    val params = Map("n_estimators" -> 8.0, "learning_rate" -> 0.3,
      "subsample" -> 0.6)
    val a = DataParallelGBT.fit(toDF(x, y), "features", "label", params,
      seed = 5, nClasses = 2)
    val b = DataParallelGBT.fit(toDF(x, y), "features", "label", params,
      seed = 5, nClasses = 2)
    x.take(50).foreach { r =>
      assert(a.predictProba(r).sameElements(b.predictProba(r)),
        "same seed must reproduce the same stochastic-GBT model")
    }
    assert(Metrics.accuracy(a, x, y) > 0.93,
      s"stochastic DP GBT accuracy ${Metrics.accuracy(a, x, y)}")
  }

  test("over-budget GBT regressor search is bit-identical run to run") {
    // more partitions than task slots, so partials finish in varying
    // order: the statistics merge must not follow completion order
    val rng = new Random(29)
    val x = Array.fill(600)(Array.fill(4)(rng.nextGaussian()))
    val y = x.map(r => r(0) * 1.7 - r(1) * r(2) + rng.nextGaussian() * 0.3)
    import spark.implicits._
    val df = spark.sparkContext
      .parallelize(x.zip(y).toSeq.map { case (v, l) => (v.toSeq, l) }, 16)
      .toDF("features", "label")
    def fit() = new graft.search.DistGridSearchCV(GBT.Regressor,
        Map("n_estimators" -> Seq(4.0), "max_depth" -> Seq(2.0, 3.0)), cv = 3,
        scoring = "r2")
      .withBroadcastBudget(1L).fit(spark, df, "features", "label")
    val a = fit()
    val b = fit()
    def bits(v: Double) = java.lang.Double.doubleToRawLongBits(v)
    assert(bits(a.bestScore) == bits(b.bestScore), s"${a.bestScore} vs ${b.bestScore}")
    x.foreach { r =>
      assert(bits(a.bestModel.predict(r)) == bits(b.bestModel.predict(r)),
        s"${a.bestModel.predict(r)} vs ${b.bestModel.predict(r)}")
    }
  }
}
