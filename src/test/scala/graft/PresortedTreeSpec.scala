package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.exec.{CART, GBT}
import graft.exec.CART.{Node, TreeModel}
import graft.exec.ModelParallel.TrainMatrix
import graft.search.{DistExtraTreesClassifier, DistExtraTreesRegressor,
  DistRandomForestClassifier, DistRandomTreesEmbedding}

/** Node-for-node comparison of two trees: split feature, threshold bits,
  * leaf ids and (optionally) leaf value bits.
  */
object TreeDiff {
  private def bits(v: Double): Long = java.lang.Double.doubleToRawLongBits(v)

  def apply(got: TreeModel, want: TreeModel, values: Boolean = true): Option[String] =
    if (got.nLeaves != want.nLeaves || got.nClasses != want.nClasses)
      Some(s"shape: ${got.nLeaves} leaves / ${got.nClasses} classes vs " +
        s"${want.nLeaves} / ${want.nClasses}")
    else nodes(got.root, want.root, "root", values)

  private def nodes(a: Node, b: Node, path: String, values: Boolean): Option[String] =
    if (a.isLeaf != b.isLeaf) Some(s"$path: leaf ${a.isLeaf} vs ${b.isLeaf}")
    else if (a.isLeaf) {
      if (a.leafId != b.leafId) Some(s"$path: leaf id ${a.leafId} vs ${b.leafId}")
      else if (values && !a.value.map(bits).sameElements(b.value.map(bits)))
        Some(s"$path: leaf value ${a.value.toSeq} vs ${b.value.toSeq}")
      else None
    } else if (a.feature != b.feature || bits(a.threshold) != bits(b.threshold))
      Some(s"$path: split x${a.feature} <= ${a.threshold} vs x${b.feature} <= ${b.threshold}")
    else nodes(a.left, b.left, path + ".L", values)
      .orElse(nodes(a.right, b.right, path + ".R", values))
}

/** Presorted growth (`CART.grow` over a `CART.TreeView`) against the
  * per-node sorting learner it replaced: same trees, bit for bit, on
  * tie-heavy inputs with signed zeros, non-finite values, zero weights
  * and every tree knob.
  */
object TreeGrowthProperties extends Properties("tree growth") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(400)

  private val valueGen: Gen[Double] = Gen.frequency(
    6 -> Gen.oneOf(-1.0, -0.0, 0.0, 0.5, 1.0, 2.0),
    3 -> Gen.choose(-3.0, 3.0),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  final case class Case(x: Array[Array[Double]], y: Array[Double], w: Array[Double],
                        params: Map[String, Double], seed: Long, nClasses: Int) {
    override def toString: String =
      s"Case(x=${x.map(_.mkString("[", ",", "]")).mkString(" ")}, y=${y.mkString(",")}, " +
        s"w=${Option(w).map(_.mkString(",")).orNull}, $params, seed=$seed, k=$nClasses)"
  }

  private def labels(n: Int, nClasses: Int): Gen[Array[Double]] =
    if (nClasses > 0) Gen.listOfN(n, Gen.choose(0, nClasses - 1).map(_.toDouble)).map(_.toArray)
    else Gen.listOfN(n, Gen.frequency(
      3 -> Gen.oneOf(0.0, 1.0, -2.5), 2 -> Gen.choose(-5.0, 5.0))).map(_.toArray)

  private def weights(n: Int): Gen[Array[Double]] = Gen.oneOf(
    Gen.const[Array[Double]](null),
    // bootstrap counts: zero for every row left out of the bag
    Gen.listOfN(n, Gen.choose(0, 3).map(_.toDouble)).map(_.toArray),
    // caller sample weights, zeros included
    Gen.listOfN(n, Gen.oneOf(0.0, 0.25, 1.0, 2.5)).map(_.toArray))

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(1, 60)
    d <- Gen.choose(0, 5)
    x <- Gen.listOfN(n, Gen.listOfN(d, valueGen).map(_.toArray)).map(_.toArray)
    k <- Gen.oneOf(0, 2, 3, 4)
    y <- labels(n, k)
    w <- weights(n)
    maxDepth <- Gen.oneOf(0.0, 1.0, 2.0, 4.0)
    minSplit <- Gen.oneOf(2.0, 3.0, 6.0)
    maxFeatures <- Gen.oneOf(0.0, 0.2, 0.5, 0.8, 1.0)
    random <- Gen.frequency(3 -> 0.0, 1 -> 1.0)
    seed <- Gen.choose(0L, 1000L)
  } yield Case(x, y, w, Map("max_depth" -> maxDepth, "min_samples_split" -> minSplit,
    "max_features" -> maxFeatures, "random_splits" -> random), seed, k)

  property("view order = stable sort by java.lang.Double.compare") =
    forAll(caseGen) { c =>
      val view = CART.TreeView(c.x)
      Prop.all(c.x(0).indices.map { f =>
        val want = c.x.indices.sortBy(i => c.x(i)(f))(Ordering.Double.TotalOrdering)
        Prop(view.order(f).toSeq == want &&
          want.indices.forall(p => view.rank(f)(want(p)) == p)) :| s"feature $f"
      }: _*)
    }

  property("presorted grow = per-node sorted grow, node for node") =
    forAll(caseGen) { c =>
      // one view, two trees: the view and its scratch are shared state
      val view = CART.TreeView(c.x)
      Prop.all(Seq(c.seed, c.seed + 1).map { seed =>
        val got = CART.grow(view, c.y, c.w, c.params, seed, c.nClasses)
        val want = SortedCARTOracle.grow(c.x, c.y, c.w, c.params, seed, c.nClasses)
        val d = TreeDiff(got, want)
        Prop(d.isEmpty) :| s"seed $seed: ${d.orNull}"
      }: _*)
    }
}

/** Fixed-data equality of every tree surface against the per-node sorted
  * oracle: forests (fit + warm-start `extend`, caller weights), extra
  * trees, the tree embedding and GBT's stage trees.
  */
class PresortedTreeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Three tie-heavy blobs: every value rounded to a tenth. */
  private def blobs(n: Int, d: Int, seed: Int): (Array[Array[Double]], Array[Double]) = {
    val rng = new Random(seed)
    val y = Array.fill(n)(rng.nextInt(3).toDouble)
    val x = y.map(c => Array.fill(d)(math.rint((c + rng.nextGaussian()) * 10) / 10))
    (x, y)
  }

  private def matrix(x: Array[Array[Double]], y: Array[Double]) =
    TrainMatrix(x, y, Array.fill(x.length)(0))

  private def assertSame(got: Seq[TreeModel], want: Seq[TreeModel],
                         values: Boolean = true): Unit = {
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), t) =>
      val d = TreeDiff(g, w, values)
      assert(d.isEmpty, s"tree $t: ${d.orNull}")
    }
  }

  /** `DistForest.growTrees`' per-tree inputs, grown by the oracle. */
  private def oracleForest(m: TrainMatrix, trees: Range, params: Map[String, Double],
                           nClasses: Int, bootstrap: Boolean, seed: Long,
                           sw: Array[Double] = null): Seq[TreeModel] = {
    val n = m.nRows
    trees.map { t =>
      val w =
        if (!bootstrap) sw
        else {
          val rng = new Random(seed + t)
          val counts = new Array[Double](n)
          (0 until n).foreach(_ => counts(rng.nextInt(n)) += 1.0)
          if (sw != null) (0 until n).foreach(i => counts(i) *= sw(i))
          counts
        }
      SortedCARTOracle.grow(m.x, m.y, w, params, seed + t, nClasses)
    }
  }

  test("random forest fit + extend with caller weights = oracle trees") {
    val (x, y) = blobs(300, 6, seed = 1)
    val m = matrix(x, y)
    val sw = Array.tabulate(x.length)(i => Seq(1.0, 0.0, 2.5)(i % 3))
    val f = DistRandomForestClassifier(4, seed = 5)
    val fit = f.fitMatrix(spark, m, Some(sw))
    val extended = f.extend(spark, fit, m, 3, Some(sw))
    val p = Map("max_features" -> math.sqrt(6.0) / 6)
    assertSame(extended.trees, oracleForest(m, 0 until 7, p, 3, bootstrap = true, 5, sw))
  }

  test("extra-trees classifier and regressor = oracle trees") {
    val (x, y) = blobs(300, 5, seed = 2)
    val m = matrix(x, y)
    val cls = DistExtraTreesClassifier(5, maxDepth = 6, seed = 9).fitMatrix(spark, m)
    assertSame(cls.trees, oracleForest(m, 0 until 5, Map("max_depth" -> 6.0,
      "random_splits" -> 1.0, "max_features" -> math.sqrt(5.0) / 5), 3,
      bootstrap = false, 9))
    val yr = x.map(r => r(0) * 2 - r(3) + (if (r(1) > 0) 1.0 else 0.0))
    val mr = matrix(x, yr)
    val reg = DistExtraTreesRegressor(5, maxDepth = 5, seed = 4).fitMatrix(spark, mr)
    assertSame(reg.trees, oracleForest(mr, 0 until 5,
      Map("max_depth" -> 5.0, "random_splits" -> 1.0), 0, bootstrap = false, 4))
  }

  test("random trees embedding = oracle trees") {
    val (x, y) = blobs(240, 4, seed = 3)
    val m = matrix(x, y)
    val emb = new DistRandomTreesEmbedding(5, maxDepth = 4, seed = 3).fitMatrix(spark, m)
    val rng = new Random(3)
    val randomY = Array.fill(x.length)(rng.nextDouble())
    assertSame(emb.trees, oracleForest(matrix(x, randomY), 0 until 5,
      Map("max_depth" -> 4.0, "random_splits" -> 1.0), 0, bootstrap = false, 3))
  }

  /** Replays `GBT.boost`'s stage inputs (residuals, subsample weights,
    * seeds) from the fitted model and grows each stage tree with the
    * oracle. Classifier leaves are Newton refits of the grown tree, so
    * they compare on structure; regression leaves compare on value too.
    */
  private def assertGbtStages(x: Array[Array[Double]], y: Array[Double],
                              params: Map[String, Double], seed: Long, k: Int,
                              model: GBT.GBTModel): Unit = {
    val n = x.length
    val treeParams = params + ("max_depth" -> params.getOrElse("max_depth", 3.0))
    val F = Array.fill(n)(model.prior.clone())
    model.trees.zipWithIndex.foreach { case (stage, m) =>
      val w = GBT.subsampleWeights(n, params.getOrElse("subsample", 1.0),
        GBT.weightSeed(seed, m))
      val residuals: Seq[Array[Double]] =
        if (k == 0) Seq(Array.tabulate(n)(i => y(i) - F(i)(0)))
        else if (k == 2) {
          val p = Array.tabulate(n)(i => 1.0 / (1.0 + math.exp(-F(i)(0))))
          Seq(Array.tabulate(n)(i => y(i) - p(i)))
        } else {
          val p = F.map { s =>
            val mx = s.max
            val e = s.map(v => math.exp(v - mx))
            var tot = 0.0
            e.foreach(tot += _)
            e.map(_ / tot)
          }
          (0 until k).map(c => Array.tabulate(n)(i =>
            (if (y(i).toInt == c) 1.0 else 0.0) - p(i)(c)))
        }
      assertSame(stage.toSeq, residuals.zipWithIndex.map { case (r, c) =>
        SortedCARTOracle.grow(x, r, w, treeParams, GBT.mixSeed(seed, m, c), 0)
      }, values = k == 0)
      for (i <- 0 until n; c <- stage.indices)
        F(i)(c) += model.lr * stage(c).predict(x(i))
    }
  }

  test("GBT regressor and classifiers: every stage tree = oracle tree") {
    val (x, y3) = blobs(200, 5, seed = 4)
    val params = Map("n_estimators" -> 6.0, "learning_rate" -> 0.3,
      "subsample" -> 0.7, "max_features" -> 0.6)
    val yr = x.map(r => r(0) - 0.5 * r(2) + r(4) * r(1))
    val y2 = y3.map(c => if (c == 2.0) 1.0 else 0.0)
    for ((yy, k) <- Seq((yr, 0), (y2, 2), (y3, 3))) {
      val learner = if (k == 0) GBT.Regressor else GBT.Classifier
      val model = learner.fit(x, yy, params, 13).asInstanceOf[GBT.GBTModel]
      assert(model.nStages == 6)
      assertGbtStages(x, yy, params, 13, k, model)
    }
  }
}
