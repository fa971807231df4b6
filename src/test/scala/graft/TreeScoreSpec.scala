package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{CART, ConstantModel, GBT, Model}
import graft.functions.TreeEnsembleScore
import graft.predict.FusedScore
import graft.search.{ForestModel, MaskedModel}

/** The fused tree/ensemble scoring kernels vs the driver-side models —
  * CODEGEN_ONLY (interpreter fallback disabled, so a broken doGenCode
  * fails instead of silently degrading), EXACT equality (the expressions
  * reproduce each model's float op order, not just its math).
  */
class TreeScoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def randomData(n: Int, d: Int, k: Int, seed: Int)
      : (Array[Array[Double]], Array[Double]) = {
    val rng = new scala.util.Random(seed)
    val x = Array.fill(n)(Array.fill(d)(rng.nextGaussian()))
    val y =
      if (k == 0) x.map(r => r.sum + rng.nextGaussian() * 0.1)
      else x.map(r => ((r(0) > 0, r(1) > 0) match {
        case (true, true) => 0; case (true, false) => 1
        case (false, _) => 2
      }).min(k - 1).toDouble)
    (x, y)
  }

  /** Collect predict/proba through FusedScore on a DataFrame and check
    * bit-exact agreement with the driver model, row by row.
    */
  private def checkParity(model: Model, xs: Array[Array[Double]]): Unit = {
    import spark.implicits._
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("id", "v")
    val x = col("v").cast("array<double>")
    val pc = FusedScore.predict(model, x)
      .getOrElse(fail("no fused predict kernel"))
    val qc = FusedScore.proba(model, x)
      .getOrElse(fail("no fused proba kernel"))
    val got = df.select(col("id"), pc.as("p"), qc.as("q")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Double](2))))
      .toMap
    xs.zipWithIndex.foreach { case (v, i) =>
      val (gp, gq) = got(i.toLong)
      assert(gp == model.predict(v), s"predict row $i")
      assert(gq.toArray.sameElements(model.predictProba(v)),
        s"proba row $i: got ${gq.mkString(",")} want " +
          s"${model.predictProba(v).mkString(",")}")
    }
  }

  test("CART classifier tree: fused predict/proba bit-match the model") {
    val (x, y) = randomData(300, 6, 3, seed = 1)
    val t = CART.Classifier.fit(x, y, Map("max_depth" -> 5.0), 7)
      .asInstanceOf[CART.TreeModel]
    checkParity(t, x)
  }

  test("CART regressor tree: fused predict bit-matches the model") {
    val (x, y) = randomData(300, 6, 0, seed = 2)
    val t = CART.Regressor.fit(x, y, Map("max_depth" -> 5.0), 7)
      .asInstanceOf[CART.TreeModel]
    checkParity(t, x)
  }

  test("forest: fused mean-of-leaf-vectors bit-matches ForestModel") {
    val (x, y) = randomData(250, 5, 3, seed = 3)
    val trees = Array.tabulate(7)(i =>
      CART.Classifier.fit(x, y,
        Map("max_depth" -> 4.0, "max_features" -> 0.7, "random_splits" -> 1.0),
        seed = 100 + i).asInstanceOf[CART.TreeModel])
    checkParity(ForestModel(trees, 3), x)
    // regression forest too (mean prediction path)
    val (xr, yr) = randomData(250, 5, 0, seed = 4)
    val rtrees = Array.tabulate(5)(i =>
      CART.Regressor.fit(xr, yr, Map("max_depth" -> 4.0), seed = 200 + i)
        .asInstanceOf[CART.TreeModel])
    checkParity(ForestModel(rtrees, 0), xr)
  }

  test("GBT k=0/2/3: fused raw scores and predict/proba bit-match GBTModel") {
    val params = Map("n_estimators" -> 6.0, "max_depth" -> 3.0,
      "learning_rate" -> 0.3)
    for (k <- Seq(0, 2, 3)) {
      val (x, y) = randomData(260, 5, k, seed = 10 + k)
      val m = (if (k == 0) GBT.Regressor.fit(x, y, params, 5)
               else GBT.Classifier.fit(x, y, params, 5))
        .asInstanceOf[GBT.GBTModel]
      checkParity(m, x)
      // rawScores directly (the per-stage DP-GBT residual input)
      import spark.implicits._
      val df = x.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toSeq.toDF("id", "v")
      val raw = df.select(col("id"),
        TreeEnsembleScore.gbtRaw(col("v").cast("array<double>"), m).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      x.zipWithIndex.foreach { case (v, i) =>
        assert(raw(i.toLong).toArray.sameElements(m.rawScores(v)),
          s"rawScores k=$k row $i")
      }
    }
  }

  test("leafId mode matches TreeModel.leafIndex") {
    import spark.implicits._
    val (x, y) = randomData(200, 4, 2, seed = 20)
    val t = CART.Classifier.fit(x, y, Map("max_depth" -> 4.0), 3)
      .asInstanceOf[CART.TreeModel]
    val df = x.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("id", "v")
    val got = df.select(col("id"),
      element_at(TreeEnsembleScore.leafId(col("v").cast("array<double>"), t), 1)
        .cast("int").as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    x.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == t.leafIndex(v), s"row $i")
    }
  }

  test("constant and masked models dispatch through FusedScore") {
    val c = ConstantModel(2.0, 4)
    val xs = Array.fill(20)(Array.fill(3)(1.0))
    checkParity(c, xs)
    // masked: model over 2 of 5 features
    val (x5, y) = randomData(200, 5, 2, seed = 30)
    val keep = Array(1, 3)
    val inner = CART.Classifier.fit(x5.map(r => keep.map(r)), y,
      Map("max_depth" -> 3.0), 9).asInstanceOf[CART.TreeModel]
    checkParity(MaskedModel(inner, keep), x5)
  }

  test("null rows are null; short rows route NaN-right deterministically") {
    import spark.implicits._
    val (x, y) = randomData(100, 4, 2, seed = 40)
    val t = CART.Classifier.fit(x, y, Map("max_depth" -> 4.0), 3)
      .asInstanceOf[CART.TreeModel]
    val df = Seq(
      (1L, Some(Seq(0.1, 0.2, 0.3, 0.4))),
      (2L, None), // null row
      (3L, Some(Seq(0.1)))  // short row: missing features read NaN -> right
    ).toDF("id", "v")
    val out = df.select(col("id"),
      FusedScore.predict(t, col("v").cast("array<double>")).get.as("p"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(t.predict(Array(0.1, 0.2, 0.3, 0.4))))
    assert(out(2L).isEmpty, "null row -> null prediction")
    // NaN routes right at every missing comparison: same leaf as padding
    // the row with NaNs driver-side
    assert(out(3L).contains(
      t.predict(Array(0.1, Double.NaN, Double.NaN, Double.NaN))))
  }

  test("predictions and probabilities of one LogRegModel share one " +
       "LinearScoreMatrix per row, bit-identical to each alone") {
    val rng = new scala.util.Random(51)
    val m = graft.exec.LogRegModel(Array.fill(3)(Array.fill(5)(rng.nextGaussian())), 3)
    // a range, not a local relation: the optimizer would fold a projection
    // over local rows before codegen
    val df = spark.range(0, 64).select(col("id"),
      array((1 to 4).map(j => sin(col("id") * j)): _*).as("v"))
    val P = graft.predict.Predict
    val both = P.withPredictions(spark, P.withProbabilities(spark, df, m, "v"), m, "v")
    // subexpression elimination generates the shared score once: one
    // reference to the weight matrix in the stage's code
    val code = org.apache.spark.sql.execution.debug
      .codegenString(both.queryExecution.executedPlan)
    val refs = """references\[(\d+)\] /\* weights \*/""".r.findAllMatchIn(code)
      .map(_.group(1)).toSet
    assert(refs.size == 1, code)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val got = both.select("id", "scores", "preds").collect()
      .map(r => r.getLong(0) -> (bits(r.getSeq[Double](1)), r.get(2))).toMap
    val alone = P.withProbabilities(spark, df, m, "v").select("id", "scores").collect()
      .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap
    val preds = P.withPredictions(spark, df, m, "v").select("id", "preds").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(got.size == 64)
    got.foreach { case (id, (s, p)) =>
      assert(s == alone(id) && p == preds(id), s"row $id")
    }
  }

  test("withPredictions/withProbabilities route GBT through the fused kernel") {
    import spark.implicits._
    val (x, y) = randomData(220, 5, 3, seed = 50)
    val m = GBT.Classifier.fit(x, y,
      Map("n_estimators" -> 4.0, "max_depth" -> 3.0), 5)
    val df = x.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("id", "v")
    val out = graft.predict.Predict.withPredictions(spark,
      graft.predict.Predict.withProbabilities(spark, df, m, "v"),
      m, "v", labels = Some(Seq("a", "b", "c")))
    // no UDF anywhere in the plan: the fused route took over
    assert(!PlanNodes.hasUdf(out), "expected a UDF-free fused plan")
    val got = out.collect().map(r =>
      r.getLong(0) -> ((r.getString(3), r.getSeq[Double](2)))).toMap
    x.zipWithIndex.foreach { case (v, i) =>
      val (lab, prob) = got(i.toLong)
      assert(lab == Seq("a", "b", "c")(m.predict(v).toInt), s"label row $i")
      assert(prob.toArray.sameElements(m.predictProba(v)), s"proba row $i")
    }
  }

  test("fused multilabel votes bit-match MultilabelOvRModel.predictLabels") {
    import spark.implicits._
    val rng = new scala.util.Random(60)
    val d = 6
    // linear per-class models with a deliberate TIE row (margin == 0):
    // predictLabels votes on STRICT s1 > s0, so a zero margin must NOT vote
    val mk = (seed: Int) => {
      val r = new scala.util.Random(seed)
      val w0 = Array.fill(d + 1)(r.nextGaussian())
      val w1 = Array.fill(d + 1)(r.nextGaussian())
      graft.exec.LogRegModel(Array(w0, w1), 2): Model
    }
    val model = graft.search.MultilabelOvRModel(
      Array("p", "q", "r", "s"),
      Array(mk(1), mk(2), ConstantModel(1.0, 2), ConstantModel(0.0, 2)),
      norm = None)
    val xs = Array.fill(150)(Array.fill(d)(rng.nextGaussian())) :+
      Array.fill(d)(0.0) // bias-only row
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("id", "v")
    val out = graft.predict.Predict.withMultilabelPredictions(
      spark, df, model, "v")
    assert(!PlanNodes.hasUdf(out), "expected the fused stacked-row vote plan")
    val got = out.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    xs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == model.predictLabels(v).toSeq, s"row $i")
    }
    // null row -> null (the UDF contract)
    val nullOut = graft.predict.Predict.withMultilabelPredictions(spark,
      Seq((1L, None: Option[Seq[Double]])).toDF("id", "v"), model, "v")
      .collect()
    assert(nullOut.head.isNullAt(2), "null features -> null label set")
    // a tree in the mix -> UDF fallback, same answers
    val (tx, ty) = randomData(80, d, 2, seed = 61)
    val tree = CART.Classifier.fit(tx, ty, Map("max_depth" -> 3.0), 3)
    val mixed = graft.search.MultilabelOvRModel(Array("p", "q"),
      Array(mk(1), tree), norm = None)
    val got2 = graft.predict.Predict.withMultilabelPredictions(
        spark, df, mixed, "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    xs.zipWithIndex.foreach { case (v, i) =>
      assert(got2(i.toLong) == mixed.predictLabels(v).toSeq, s"fallback row $i")
    }
  }

  /** Production-depth JIT budget: 300 random trees of depth 10 (~600k
    * flattened nodes). The generated projection must still COMPILE and
    * run under CODEGEN_ONLY — the kernel's code size is constant in
    * ensemble size (data lives in referenced arrays, not source text).
    */
  test("JIT budget: 300-tree depth-10 ensemble runs under CODEGEN_ONLY") {
    val rng = new scala.util.Random(99)
    val d = 16
    val k = 5
    def randTree(depth: Int): CART.Node =
      if (depth == 0) {
        val v = Array.fill(k)(rng.nextDouble())
        val s = v.sum
        new CART.Node(-1, 0.0, null, null, v.map(_ / s), rng.nextInt(1 << 10))
      } else new CART.Node(rng.nextInt(d), rng.nextGaussian(),
        randTree(depth - 1), randTree(depth - 1), null, -1)
    val trees = Array.fill(300)(
      CART.TreeModel(randTree(10), k, 1 << 10))
    val forest = ForestModel(trees, k)
    val xs = Array.fill(50)(Array.fill(d)(rng.nextGaussian()))
    checkParity(forest, xs)
  }
}
