package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.exec.CART
import graft.search.{DataParallelCART, DistForest, DistGridSearchCV, DistributedScore, ForestModel}

/** Data-parallel (histogram) CART vs the broadcast learner: same scoring
  * math, same candidate set on low-cardinality data, same TreeModel type.
  */
class DataParallelCARTSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Low-cardinality 3-class data with planted axis-aligned structure:
    * label from x0/x1 thresholds, x2 pure noise. Integer feature values
    * keep the histogram candidate set identical to the broadcast
    * learner's (midpoints between consecutive distinct values).
    */
  private def planted(n: Int = 240, seed: Int = 11): (Array[Array[Double]], Array[Double]) = {
    val rng = new Random(seed)
    val x = Array.tabulate(n) { _ =>
      Array(rng.nextInt(7).toDouble, rng.nextInt(7).toDouble, rng.nextInt(5).toDouble)
    }
    val y = x.map { v =>
      if (v(0) <= 2.0) { if (v(1) <= 3.0) 0.0 else 1.0 } else 2.0
    }
    (x, y)
  }

  private def toDF(x: Array[Array[Double]], y: Array[Double]): DataFrame = {
    import spark.implicits._
    x.zip(y).toSeq.map { case (xi, yi) => (xi.toSeq, yi) }.toDF("x", "y")
      .repartition(8) // force genuinely distributed statistics aggregation
  }

  test("classification parity: distributed tree == broadcast tree on low-card data") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val params = Map("max_depth" -> 4.0)
    val dp = DataParallelCART.fitClassifier(df, "x", "y", params, seed = 42, nClasses = 3)
    val bc = CART.grow(x, y, null, params, seed = 42, nClasses = 3)
    // same root split (full data present ⇒ identical candidates + scores)
    assert(dp.root.feature == bc.root.feature)
    assert(math.abs(dp.root.threshold - bc.root.threshold) < 1e-9,
      s"${dp.root.threshold} vs ${bc.root.threshold}")
    // same predictions on every training row
    x.indices.foreach { i =>
      assert(dp.predict(x(i)) == bc.predict(x(i)), s"row $i")
    }
    // and the planted rule is recovered exactly
    x.indices.foreach(i => assert(dp.predict(x(i)) == y(i)))
  }

  test("value-gap nodes: DP thresholds are NODE-LOCAL midpoints, not global cuts") {
    // feature 1 globally holds {1..5} (global candidates 1.5, 2.5, 3.5,
    // 4.5) but the LEFT child of the root contains only values {1, 5}.
    // The broadcast learner cuts that node at the node-local midpoint
    // (1+5)/2 = 3.0; a DP inducer that keeps the first winning GLOBAL
    // candidate would record 1.5 — training rows route identically, but
    // a serving-time row with f1 = 2.0 goes left in one regime and right
    // in the other. The DP tree must match the broadcast tree exactly.
    val x =
      (1 to 6).map(_ => Array(0.0, 1.0)) ++ // left child, f1 = 1 -> class 0
      (1 to 6).map(_ => Array(0.0, 5.0)) ++ // left child, f1 = 5 -> class 1
      // right child: 12 pure class-2 rows spread over f1 ∈ {2,3,4} so the
      // ROOT split lands on f0 (weighted gini 0.25, beats any f1 cut) and
      // f1 keeps global candidates 1.5/2.5/3.5/4.5 while the left child
      // holds only {1, 5}
      (0 until 12).map(i => Array(10.0, (2 + i % 3).toDouble))
    val y = Array.fill(6)(0.0) ++ Array.fill(6)(1.0) ++ Array.fill(12)(2.0)
    val xa = x.toArray
    val df = toDF(xa, y)
    val params = Map("max_depth" -> 3.0)
    val dp = DataParallelCART.fitClassifier(df, "x", "y", params, seed = 7, nClasses = 3)
    val bc = CART.grow(xa, y, null, params, seed = 7, nClasses = 3)
    // identical predictions on gap-probing points BETWEEN the node's
    // values — the serving-time contract the regimes share
    for (probe <- Seq(Array(0.0, 2.0), Array(0.0, 2.9), Array(0.0, 3.1),
                      Array(0.0, 4.5))) {
      assert(dp.predict(probe) == bc.predict(probe),
        s"probe ${probe.toSeq}: dp=${dp.predict(probe)} bc=${bc.predict(probe)}")
    }
    assert(dp.predict(Array(0.0, 2.0)) == 0.0,
      "f1=2.0 sits below the node-local midpoint 3.0 -> class 0")
  }

  test("regression parity: distributed variance splits match broadcast") {
    val (x, _) = planted(seed = 13)
    val yr = x.map(v => if (v(0) <= 2.0) 10.0 else if (v(1) <= 3.0) -4.0 else 3.0)
    val df = toDF(x, yr)
    val params = Map("max_depth" -> 3.0)
    val dp = DataParallelCART.fitRegressor(df, "x", "y", params, seed = 1)
    val bc = CART.grow(x, yr, null, params, seed = 1, nClasses = 0)
    x.indices.foreach { i =>
      assert(math.abs(dp.predict(x(i)) - bc.predict(x(i))) < 1e-9, s"row $i")
    }
  }

  test("extra-trees regression parity: distributed == broadcast on low-card data") {
    val (x, _) = planted(seed = 13)
    val yr = x.map(v => if (v(0) <= 2.0) 10.0 else if (v(1) <= 3.0) -4.0 else 3.0)
    val df = toDF(x, yr)
    val params = Map("max_depth" -> 4.0, "random_splits" -> 1.0)
    val dp = DataParallelCART.fitRegressor(df, "x", "y", params, seed = 5)
    val bc = CART.grow(x, yr, null, params, seed = 5, nClasses = 0)
    assert(dp.root.feature == bc.root.feature &&
      math.abs(dp.root.threshold - bc.root.threshold) < 1e-12,
      s"root (${dp.root.feature}, ${dp.root.threshold}) vs " +
        s"(${bc.root.feature}, ${bc.root.threshold})")
    x.indices.foreach { i =>
      assert(math.abs(dp.predict(x(i)) - bc.predict(x(i))) < 1e-9, s"row $i")
    }
  }

  test("max_depth and min_samples_split bound the tree") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val stump = DataParallelCART.fitClassifier(df, "x", "y",
      Map("max_depth" -> 1.0), seed = 5, nClasses = 3)
    assert(stump.nLeaves <= 2)
    val coarse = DataParallelCART.fitClassifier(df, "x", "y",
      Map("max_depth" -> 8.0, "min_samples_split" -> 200.0), seed = 5, nClasses = 3)
    // only the root (240 rows) clears min_samples_split=200; its children
    // (<=200 rows each) cannot split again
    assert(coarse.nLeaves <= 2)
  }

  test("weighted rows: zero-weight rows do not influence splits") {
    val (x, y) = planted()
    // append poison rows that would flip the root split if counted
    val xPoison = Array.tabulate(100)(i => Array(6.0, 6.0, (i % 5).toDouble))
    val yPoison = Array.fill(100)(0.0)
    import spark.implicits._
    val rows = (x.zip(y).map { case (a, b) => (a.toSeq, b, 1.0) } ++
      xPoison.zip(yPoison).map { case (a, b) => (a.toSeq, b, 0.0) }).toSeq
    val df = rows.toDF("x", "y", "w").repartition(8)
    val dp = DataParallelCART.fitClassifier(df, "x", "y",
      Map("max_depth" -> 4.0), seed = 42, nClasses = 3, weightCol = Some("w"))
    val bc = CART.grow(x, y, null, Map("max_depth" -> 4.0), 42, 3)
    x.indices.foreach(i => assert(dp.predict(x(i)) == bc.predict(x(i)), s"row $i"))
  }

  test("quantile path: continuous features still recover planted structure") {
    val rng = new Random(99)
    val n = 400
    val x = Array.tabulate(n)(_ => Array(rng.nextDouble() * 10, rng.nextDouble() * 10))
    val y = x.map(v => if (v(0) <= 5.0) 0.0 else 1.0)
    val df = toDF(x, y)
    val dp = DataParallelCART.fitClassifier(df, "x", "y",
      Map("max_depth" -> 3.0), seed = 7, nClasses = 2, bins = 32)
    val acc = x.indices.count(i => dp.predict(x(i)) == y(i)).toDouble / n
    assert(acc >= 0.97, s"accuracy $acc") // cut within one quantile bin of 5.0
  }

  test("extra-trees parity: distributed random splits == broadcast on low-card data") {
    // uid-keyed threshold draws + exact per-value bins (low-card data)
    // make the two regimes grow the SAME random tree: node ranges agree
    // (per-bin min/max is exact), the uniform draw is keyed by
    // (seed, uid, feature), and whole-bin prefix scoring is exact when
    // every bin holds one distinct value
    val (x, y) = planted()
    val df = toDF(x, y)
    val params = Map("max_depth" -> 4.0, "random_splits" -> 1.0)
    val dp = DataParallelCART.fitClassifier(df, "x", "y", params, seed = 42, nClasses = 3)
    val bc = CART.grow(x, y, null, params, seed = 42, nClasses = 3)
    assert(dp.root.feature == bc.root.feature)
    assert(math.abs(dp.root.threshold - bc.root.threshold) < 1e-12,
      s"${dp.root.threshold} vs ${bc.root.threshold}")
    x.indices.foreach { i =>
      assert(dp.predict(x(i)) == bc.predict(x(i)), s"row $i")
    }
    // and the same under a feature subset (shared nodeRng derivation)
    val ps = params + ("max_features" -> 0.67)
    val dps = DataParallelCART.fitClassifier(df, "x", "y", ps, seed = 7, nClasses = 3)
    val bcs = CART.grow(x, y, null, ps, seed = 7, nClasses = 3)
    x.indices.foreach { i =>
      assert(dps.predict(x(i)) == bcs.predict(x(i)), s"row $i (max_features)")
    }
  }

  test("extra-trees quantile path: random thresholds still recover structure") {
    val rng = new Random(31)
    val n = 400
    val x = Array.tabulate(n)(_ => Array(rng.nextDouble() * 10, rng.nextDouble() * 10))
    val y = x.map(v => if (v(0) <= 5.0) 0.0 else 1.0)
    val df = toDF(x, y)
    val forest = DataParallelCART.fitForest(df, "x", "y",
      Map("max_depth" -> 6.0, "random_splits" -> 1.0), seed = 3,
      nTrees = 8, classification = true, bootstrap = false)
    val acc = x.indices.count(i => forest.predict(x(i)) == y(i)).toDouble / n
    assert(acc >= 0.95, s"extra-forest accuracy $acc")
  }

  test("range-tracking stats are invariant to data partitioning") {
    // the trackRanges combOp is cell-aware (min/max can't blind-add like
    // counts); merging across any partition split must give the same
    // tensor — a wrong empty-cell merge would clamp minima toward 0
    val rng = new Random(17)
    val rows = Array.tabulate(200) { i =>
      (Array(rng.nextGaussian() * 5 + 3, rng.nextInt(9).toDouble),
        (i % 3).toDouble, 1.0, i.toLong)
    }
    val sc = spark.sparkContext
    val cands = sc.broadcast(Array(Array(0.0, 2.0, 4.0), Array(2.5, 5.5)))
    val stride = 4 // max candidates + 1
    val s = 4      // 3 classes + count
    def statsWith(parts: Int): Seq[Double] = {
      val routes = sc.broadcast[Array[DataParallelCART.PNode]](
        Array(DataParallelCART.PLeaf(0)))
      DataParallelCART.aggregateStats(
        sc.parallelize(rows.toSeq, parts), routes, 0, 1, cands,
        sc.broadcast(Array(Array(0, 1))),
        nFeat = 2, stride = stride, s = s, nClasses = 3,
        bootstrap = false, seed = 9, trackRanges = true).toSeq
    }
    val one = statsWith(1)
    assert(one == statsWith(3) && one == statsWith(8),
      "stats tensor must not depend on partitioning")
    // sanity: some cell carries a real (min < max) range
    assert(one.grouped(s + 2).exists(c => c(s - 1) > 1 && c(s) < c(s + 1)))
  }

  test("search auto-route: tree candidates over budget run data-parallel, same winner") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val grid = Map("max_depth" -> Seq(1.0, 4.0))
    // budget 1 byte → forced data-parallel; generous budget → broadcast
    val dp = new DistGridSearchCV(CART.Classifier, grid, cv = 3)
      .withExtraScorings(Seq("f1_weighted"))
      .withBroadcastBudget(1L).fit(spark, df, "x", "y")
    val bc = new DistGridSearchCV(CART.Classifier, grid, cv = 3)
      .fit(spark, df, "x", "y")
    assert(dp.bestParams == bc.bestParams)
    assert(dp.bestParams("max_depth") == 4.0) // depth 1 cannot express 3 classes
    assert(dp.bestModel.isInstanceOf[CART.TreeModel]) // same model type
    assert(dp.cvResults.columns.contains("param_max_depth"))
    // the tree DP route honors the multi-metric contract too
    assert(dp.cvResults.columns.contains("mean_test_f1_weighted"),
      dp.cvResults.columns.toSeq.toString)
    assert(dp.cvResults.count() == 2)
    // both regimes separate the depth-4 candidate from the stump clearly
    val s = dp.cvResults.orderBy("candidate_id")
      .select("mean_test_score").collect().map(_.getDouble(0))
    assert(s(1) > s(0) + 0.1, s.toSeq.toString)
  }

  test("data-parallel forest: shared-pass trees recover planted rule") {
    val (x, y0) = planted()
    // 10% label noise: leaves go impure, so bootstrap reweighting shows up
    // in per-tree leaf proportions (a noise-free rule yields identical
    // pure trees under ANY bootstrap — no diversity to observe).
    val rng = new Random(5)
    val y = y0.map(v => if (rng.nextDouble() < 0.1) rng.nextInt(3).toDouble else v)
    val df = toDF(x, y)
    val forest = DataParallelCART.fitForest(df, "x", "y",
      Map("max_depth" -> 3.0), seed = 42, nTrees = 12,
      classification = true, bootstrap = true)
    assert(forest.trees.length == 12)
    // majority vote denoises: predictions match the CLEAN rule
    val acc = x.indices.count(i => forest.predict(x(i)) == y0(i)).toDouble / x.length
    assert(acc >= 0.95, s"forest accuracy vs clean rule: $acc")
    // bootstrap diversity: some probe row gets different leaf
    // probabilities across trees
    val probe = x(0)
    val perTree = forest.trees.map(t => t.predictProba(probe).toSeq).distinct
    assert(perTree.size > 1, "bootstrap produced 12 identical trees")
  }

  test("data-parallel forest without bootstrap on full features = N copies of the CART tree") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val forest = DataParallelCART.fitForest(df, "x", "y",
      Map("max_depth" -> 4.0), seed = 42, nTrees = 3,
      classification = true, bootstrap = false)
    val bc = graft.exec.CART.grow(x, y, null, Map("max_depth" -> 4.0), 42, 3)
    forest.trees.foreach { t =>
      x.indices.foreach(i => assert(t.predict(x(i)) == bc.predict(x(i))))
    }
  }

  test("DistForest auto-route: over-budget fit runs data-parallel, same model type") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val model = new DistForest(nEstimators = 8,
      params = Map("max_depth" -> 5.0), classification = true, seed = 42)
      .withBroadcastBudget(1L)
      .fit(spark, df, "x", "y")
    assert(model.isInstanceOf[ForestModel])
    assert(model.trees.length == 8)
    val acc = x.indices.count(i => model.predict(x(i)) == y(i)).toDouble / x.length
    assert(acc >= 0.95, s"auto-routed forest accuracy $acc")
    // extra-trees past the budget now fit data-parallel too — and match
    // the broadcast regime tree-for-tree (no bootstrap, uid-keyed draws)
    def extra(budget: Long) = new DistForest(nEstimators = 4,
      params = Map("max_depth" -> 5.0, "max_features" -> 1.0),
      classification = true, extraTrees = true, bootstrap = false, seed = 1)
      .withBroadcastBudget(budget).fit(spark, df, "x", "y")
    val over = extra(1L)
    val under = extra(1L << 30)
    assert(over.trees.length == 4)
    x.indices.take(80).foreach { i =>
      assert(over.predict(x(i)) == under.predict(x(i)), s"row $i regime disagreement")
    }
  }

  test("DistRandomTreesEmbedding auto-route: over-budget fit runs data-parallel, sane embedding") {
    val (x, y) = planted()
    val df = toDF(x, y)
    def emb(budget: Long) =
      new graft.search.DistRandomTreesEmbedding(nEstimators = 6, maxDepth = 3, seed = 7)
        .withBroadcastBudget(budget).fit(spark, df, "x")
    val under = emb(1L << 30)
    val over = emb(1L)
    for ((m, name) <- Seq((under, "broadcast"), (over, "data-parallel"))) {
      assert(m.trees.length == 6, s"$name tree count")
      assert(m.width == m.trees.map(_.nLeaves).sum, s"$name width")
      assert(m.width > 6, s"$name: all trees degenerate single-leaf")
      x.take(30).foreach { row =>
        val idx = m.transform(row)
        assert(idx.length == 6, s"$name: one active leaf per tree")
        idx.zipWithIndex.foreach { case (v, t) =>
          assert(v >= m.leafOffsets(t) &&
            v < m.leafOffsets(t) + m.trees(t).nLeaves,
            s"$name: tree $t index $v out of its leaf block")
        }
      }
      // DataFrame transform agrees with the row-level encoder
      val viaDF = m.transform(df, "x").select("x", "leaf_indices")
        .collect().map(r => (r.getSeq[Double](0).toArray.toSeq,
          r.getSeq[Int](1).toSeq)).toMap
      x.take(30).foreach { row =>
        assert(viaDF(row.toSeq) == m.transform(row).toSeq,
          s"$name: DF transform disagrees with row transform")
      }
    }
  }

  test("OvR auto-route: tree base learner over budget fits per-class distributed trees") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val dp = new graft.search.DistOneVsRest(CART.Classifier, seed = 42)
      .withBroadcastBudget(1L).fit(spark, df, "x", "y")
    val bc = new graft.search.DistOneVsRest(CART.Classifier, seed = 42)
      .fit(spark, df, "x", "y")
    assert(dp.classes.toSeq == bc.classes.toSeq)
    // unlimited-depth CART separates the planted rule exactly per class
    val acc = x.indices.count(i => dp.predict(x(i)) == y(i)).toDouble / x.length
    assert(acc >= 0.99, s"OvR data-parallel accuracy $acc")
    x.indices.take(50).foreach { i =>
      assert(dp.predict(x(i)) == bc.predict(x(i)), s"row $i regime disagreement")
    }
  }

  test("distributed scoring matches driver-side Metrics math") {
    val (x, y) = planted()
    val df = toDF(x, y)
    val model = CART.grow(x, y, null, Map("max_depth" -> 2.0), 3, 3)
    Seq("accuracy", "f1_weighted").foreach { m =>
      val dist = DistributedScore(m, model, df, "x", "y")
      val drv = graft.exec.Metrics.scorer(m)(model, x, y)
      assert(math.abs(dist - drv) < 1e-12, s"$m: $dist vs $drv")
    }
    val yr = x.map(v => v(0) * 2 + v(1))
    val dfr = toDF(x, yr)
    val reg = CART.grow(x, yr, null, Map("max_depth" -> 3.0), 3, 0)
    Seq("r2", "neg_mean_squared_error").foreach { m =>
      val dist = DistributedScore(m, reg, dfr, "x", "y")
      val drv = graft.exec.Metrics.scorer(m)(reg, x, yr)
      assert(math.abs(dist - drv) < 1e-9, s"$m: $dist vs $drv")
    }
  }

  test("out-of-range labels fail loudly instead of corrupting histograms") {
    import spark.implicits._
    // SVM-style -1/+1: -1 would silently write into a NEIGHBORING bin's
    // stat slot; the histogram pass must reject it
    val df = (0 until 50).map(i => (Seq(i.toDouble), if (i % 2 == 0) -1.0 else 1.0))
      .toDF("x", "y")
    val e = intercept[org.apache.spark.SparkException] {
      DataParallelCART.fitClassifier(df, "x", "y",
        Map("max_depth" -> 2.0), seed = 1, nClasses = 2)
    }
    assert(e.getMessage != null)
  }

  /** SQL executions whose plan scans the `label` column for a class count. */
  private def labelScans[T](body: => T, label: String = "_y"): (Int, T) = {
    val sc = spark.sparkContext
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains(s"max($label") =>
            scans.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      graft.obs.StageMetrics.drain(sc)
      (scans.get, r)
    } finally sc.removeSparkListener(listener)
  }

  test("over-budget CART grid search scans the labels once per frame") {
    // every fold fit and the refit share the frame's class count: one
    // max(label) job per search, not one per fit (2 candidates x 3 folds
    // + the refit would be 7)
    val (x, y) = planted()
    val df = toDF(x, y)
    for (learner <- Seq(CART.Classifier, new CART.Classifier(3))) {
      val (scans, r) = labelScans {
        new DistGridSearchCV(learner, Map("max_depth" -> Seq(2.0, 3.0)), cv = 3)
          .withBroadcastBudget(1L).fit(spark, df, "x", "y")
      }
      assert(scans == 1, s"$scans label scans for $learner")
      assert(r.bestModel.predictProba(x.head).length == 3)
    }
  }

  test("over-budget CART eliminator scans the labels once per frame") {
    // pre-pass + 3 rungs x 3 folds + refit = 11 fits, one class count
    val (x, y) = planted()
    val df = toDF(x, y)
    val (scans, r) = labelScans {
      new graft.search.DistFeatureEliminator(CART.Classifier, cv = 3)
        .withBroadcastBudget(1L).fit(spark, df, "x", "y")
    }
    assert(scans == 1, s"$scans label scans")
    assert(r.model.predictProba(x.head).length == 3)
  }

  test("CART oofProbaDF scans the labels once per frame") {
    // cv = 3 fold fits share the fold frame's class count, read off the
    // caller's label column
    val (x, y) = planted()
    val df = toDF(x, y)
    val (scans, oof) = labelScans(graft.search.OutOfFold.oofProbaDF(df, "x", "y",
      CART.Classifier, cv = 3, seed = 5), label = "y")
    try {
      assert(scans == 1, s"$scans label scans")
      assert(oof.count() == x.length)
    } finally oof.unpersist()
  }

  test("over-budget CART OvR and OvO fit their binary problems without a label scan") {
    // every non-degenerate binary problem has labels {0, 1}: no max(label)
    // job per class or per pair
    val (x, y) = planted()
    val df = toDF(x, y)
    val fits: Seq[(String, () => graft.exec.Model)] = Seq(
      "ovr" -> (() => new graft.search.DistOneVsRest(CART.Classifier)
        .withBroadcastBudget(1L).fit(spark, df, "x", "y")),
      "ovo" -> (() => new graft.search.DistOneVsOne(CART.Classifier)
        .withBroadcastBudget(1L).fit(spark, df, "x", "y")))
    for ((name, fit) <- fits) {
      val (scans, m) = labelScans(fit())
      assert(scans == 0, s"$name: $scans label scans")
      assert(m.predictProba(x.head).length == 3, name)
    }
  }
}
