package graft.exec

import scala.util.Random

/** Stage-wise gradient-boosted trees on the CART kernel — the learner
  * family the reference's `fit_params` integration actually early-stops
  * (its xgboost eval-set test, `tests/test_spark.py:165-187`, passes
  * `eval_set`/`early_stopping_rounds` through `DistGridSearchCV` into
  * every candidate x fold fit). The engine analog: `GBTClassifier` /
  * `GBTRegressor` honor `FitSideData` per STAGE — after each boosting
  * round the held-out loss is evaluated, patience counts
  * non-improvements, and the returned model is TRUNCATED at the best
  * stage (xgboost's `best_iteration` rewind, which tree ensembles get
  * for free: dropping trailing stages is exact, no weight snapshot).
  *
  * Friedman's gradient boosting (Annals of Statistics 2001), the
  * standard losses:
  *  - regression: squared loss; residual r = y - F; leaf value = mean
  *    residual (the regression tree's own leaf), F0 = mean(y).
  *  - binary classification: logistic loss on a SINGLE tree per stage;
  *    r = y - p, Newton leaf value = sum(r) / sum(p(1-p)),
  *    F0 = prior log-odds.
  *  - K>2 classes: one tree per class per stage on the softmax
  *    gradient r_c = 1{y=c} - p_c with the (K-1)/K Newton leaf step
  *    (Friedman Algorithm 6 / sklearn's multinomial deviance).
  *
  * Params: `n_estimators` (stages, default 50), `learning_rate` (0.1),
  * `max_depth` (3 — boosting wants weak learners; contrast CART's
  * unlimited default), `min_samples_split`, `max_features`,
  * `subsample` (<1 → stochastic GBT: each stage fits a seeded
  * without-replacement row subset; leaf Newton refits use the SAME
  * subset so value and structure see one sample).
  *
  * Determinism: per-(stage, class) seeds derive from the fit seed by
  * splitmix-style mixing; same (data, params, seed) → same model.
  */
object GBT {

  /** Additive model: `scores = prior + lr * sum_m trees(m)`. For
    * `nClasses == 0` (regression) and binary, `trees(m)` has ONE tree;
    * for K>2 one tree per class. `truncate` drops trailing stages — the
    * early-stopping rewind.
    */
  final case class GBTModel(prior: Array[Double],
                            trees: Array[Array[CART.TreeModel]],
                            lr: Double, nClasses: Int) extends Model {

    private[graft] def rawScores(x: Array[Double]): Array[Double] = {
      val out = prior.clone()
      var m = 0
      while (m < trees.length) {
        val stage = trees(m)
        var c = 0
        while (c < stage.length) {
          out(c) += lr * stage(c).predict(x)
          c += 1
        }
        m += 1
      }
      out
    }

    def predict(x: Array[Double]): Double = {
      val s = rawScores(x)
      if (nClasses == 0) s(0)
      else if (nClasses == 2) if (s(0) > 0) 1.0 else 0.0
      else { // argmax, first max wins
        var b = 0; var c = 1
        while (c < s.length) { if (s(c) > s(b)) b = c; c += 1 }
        b.toDouble
      }
    }

    def predictProba(x: Array[Double]): Array[Double] = {
      val s = rawScores(x)
      if (nClasses == 0) Array(s(0))
      else if (nClasses == 2) {
        val p1 = 1.0 / (1.0 + math.exp(-s(0)))
        Array(1.0 - p1, p1)
      } else {
        var mx = s(0); var c = 1
        while (c < s.length) { if (s(c) > mx) mx = s(c); c += 1 }
        var tot = 0.0
        val p = new Array[Double](s.length)
        c = 0
        while (c < s.length) { p(c) = math.exp(s(c) - mx); tot += p(c); c += 1 }
        c = 0
        while (c < s.length) { p(c) /= tot; c += 1 }
        p
      }
    }

    def nStages: Int = trees.length

    /** First `m` stages only — the best-iteration rewind. */
    def truncate(m: Int): GBTModel =
      if (m >= trees.length) this else copy(trees = trees.take(m))
  }

  private[graft] def mixSeed(seed: Long, stage: Int, cls: Int): Long = {
    var z = seed ^ ((stage.toLong * 131 + cls + 1) * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Replace a fitted regression tree's leaf means with the Newton step
    * `num/den` accumulated from the rows that reached each leaf:
    * `num(i) = r(i)`, `den(i)` the loss's second-order weight. Rows with
    * `w(i) == 0` (subsample holdouts) don't contribute. Mutates the
    * tree's leaf arrays in place (pre-broadcast, driver/task-local).
    */
  private def newtonRefit(tree: CART.TreeModel, X: Array[Array[Double]],
                          w: Array[Double],
                          num: Int => Double, den: Int => Double,
                          scale: Double): Unit = {
    val ns = new Array[Double](tree.nLeaves)
    val ds = new Array[Double](tree.nLeaves)
    var i = 0
    while (i < X.length) {
      if (w == null || w(i) > 0) {
        val l = tree.leafIndex(X(i))
        ns(l) += num(i); ds(l) += den(i)
      }
      i += 1
    }
    // collect leaves and assign; a leaf no sampled row reached keeps 0
    def walk(n: CART.Node): Unit =
      if (n.isLeaf)
        n.value(0) =
          if (ds(n.leafId) > 1e-150) scale * ns(n.leafId) / ds(n.leafId)
          else 0.0
      else { walk(n.left); walk(n.right) }
    walk(tree.root)
  }

  private[graft] def subsampleWeights(n: Int, frac: Double, seed: Long): Array[Double] =
    if (frac >= 1.0) null
    else {
      val rng = new Random(seed)
      val w = new Array[Double](n)
      var any = false
      var i = 0
      while (i < n) {
        if (rng.nextDouble() < frac) { w(i) = 1.0; any = true }
        i += 1
      }
      // never an empty stage (floorMod: .abs % n goes negative at
      // Int.MinValue)
      if (!any) { w(java.lang.Math.floorMod(seed.toInt, n)) = 1.0 }
      w
    }

  /** Seed stream for the per-stage subsample weights — mixed off a
    * DISTINCT base so it can never collide with any class tree's
    * `mixSeed(seed, m, c)` stream (an affine cls offset like 17 collides
    * with class 17). Shared verbatim by the data-parallel regime.
    */
  private[graft] def weightSeed(seed: Long, stage: Int): Long =
    mixSeed(seed ^ 0x5DEECE66DL, stage, 0)

  /** Driver-side early-stopping monitor SHARED by the broadcast and
    * data-parallel boosting loops: incremental held-out scores (eval rows
    * carry their own running F — no O(stages² x |eval|) rewalk), loss per
    * round, patience, and the best-stage bookmark for the exact rewind.
    * The eval slice lives in driver arrays (`FitSideData`) in BOTH
    * regimes, so early-stopping decisions are regime-identical up to the
    * regimes' floating-point summation order.
    */
  private[graft] final class EvalMonitor(side: FitSideData,
                                         prior: Array[Double],
                                         k: Int, lr: Double) {
    val active: Boolean = side != null && side.hasEarlyStopping
    private val evalF: Array[Array[Double]] =
      if (active) Array.fill(side.evalX.length)(prior.clone()) else null
    // the 0-stage prior IS a genuine candidate (unlike the linear
    // solvers' zero init): xgboost semantics, best_iteration may be 0
    private var bestLoss: Double = if (active) loss() else 0.0
    private var rounds = 0
    var bestStages: Int = 0

    private def loss(): Double = {
      var s = 0.0; var i = 0
      while (i < evalF.length) {
        val f = evalF(i)
        if (k == 0) { val e = f(0) - side.evalY(i); s += e * e }
        else if (k == 2) {
          val p1 = 1.0 / (1.0 + math.exp(-f(0)))
          val p = if (side.evalY(i) == 1.0) p1 else 1.0 - p1
          s -= math.log(math.max(1e-15, p))
        } else {
          var mx = f(0); var c = 1
          while (c < k) { if (f(c) > mx) mx = f(c); c += 1 }
          var tot = 0.0
          c = 0
          while (c < k) { tot += math.exp(f(c) - mx); c += 1 }
          val yi = side.evalY(i).toInt
          val p = if (yi >= 0 && yi < k) math.exp(f(yi) - mx) / tot else 1e-15
          s -= math.log(math.max(1e-15, p))
        }
        i += 1
      }
      s / math.max(1, evalF.length)
    }

    /** Update after the `nStagesSoFar`-th stage (1-based); true →
      * patience exhausted, stop boosting.
      */
    def afterStage(stage: Array[CART.TreeModel], nStagesSoFar: Int): Boolean = {
      if (!active) return false
      var j = 0
      while (j < evalF.length) {
        var c = 0
        while (c < stage.length) {
          evalF(j)(c) += lr * stage(c).predict(side.evalX(j)); c += 1
        }
        j += 1
      }
      val el = loss()
      if (side.history != null) side.history += el
      if (el < bestLoss - side.minDelta) {
        bestLoss = el; bestStages = nStagesSoFar; rounds = 0; false
      } else {
        rounds += 1
        rounds >= side.earlyStoppingRounds
      }
    }
  }

  /** Shared boosting loop. `k == 0` → regression. */
  private[exec] def boost(X: Array[Array[Double]], y: Array[Double],
                          params: Map[String, Double], seed: Long,
                          k: Int, side: FitSideData): GBTModel = {
    val n = X.length
    require(n > 0, "empty training set")
    val nStages = math.max(1, params.getOrElse("n_estimators", 50.0).toInt)
    val lr = params.getOrElse("learning_rate", 0.1)
    require(lr > 0, s"learning_rate must be > 0, got $lr")
    val subsample = params.getOrElse("subsample", 1.0)
    val treeParams = params + ("max_depth" ->
      params.getOrElse("max_depth", 3.0))

    val nScores = if (k <= 2) 1 else k
    // prior: mean (regression), log-odds (binary), log class prior (K>2)
    val prior = new Array[Double](nScores)
    if (k == 0) {
      prior(0) = y.sum / n
    } else if (k == 2) {
      val p = math.min(1 - 1e-12, math.max(1e-12, y.sum / n))
      prior(0) = math.log(p / (1 - p))
    } else {
      val counts = new Array[Double](k)
      y.foreach(v => counts(v.toInt) += 1)
      var c = 0
      while (c < k) {
        prior(c) = math.log(math.max(1e-12, counts(c) / n)); c += 1
      }
    }

    // one presorted view for every stage and class tree of this fit
    val view = CART.TreeView(X)
    val F = Array.fill(n)(prior.clone())
    val stages = scala.collection.mutable.ArrayBuffer.empty[Array[CART.TreeModel]]

    def snapshot(): GBTModel = GBTModel(prior, stages.toArray, lr, k)

    val monitor = new EvalMonitor(side, prior, k, lr)
    var m = 0
    var stop = false
    while (m < nStages && !stop) {
      val w = subsampleWeights(n, subsample, weightSeed(seed, m))
      val stage = new Array[CART.TreeModel](nScores)
      if (k == 0) {
        val r = Array.tabulate(n)(i => y(i) - F(i)(0))
        // squared loss: the regression tree's weighted-mean leaf IS the
        // optimal step, no Newton refit needed
        stage(0) = CART.grow(view, r, w, treeParams, mixSeed(seed, m, 0), 0)
      } else if (k == 2) {
        val p = Array.tabulate(n)(i => 1.0 / (1.0 + math.exp(-F(i)(0))))
        val r = Array.tabulate(n)(i => y(i) - p(i))
        val t = CART.grow(view, r, w, treeParams, mixSeed(seed, m, 0), 0)
        newtonRefit(t, X, w, r, i => math.max(1e-12, p(i) * (1 - p(i))),
          scale = 1.0)
        stage(0) = t
      } else {
        // softmax probabilities once per stage, shared by the K trees
        val p = Array.tabulate(n) { i =>
          val s = F(i)
          var mx = s(0); var c = 1
          while (c < k) { if (s(c) > mx) mx = s(c); c += 1 }
          var tot = 0.0
          val e = new Array[Double](k)
          c = 0
          while (c < k) { e(c) = math.exp(s(c) - mx); tot += e(c); c += 1 }
          c = 0
          while (c < k) { e(c) /= tot; c += 1 }
          e
        }
        var c = 0
        while (c < k) {
          val r = Array.tabulate(n)(i =>
            (if (y(i).toInt == c) 1.0 else 0.0) - p(i)(c))
          val t = CART.grow(view, r, w, treeParams, mixSeed(seed, m, c), 0)
          newtonRefit(t, X, w, r,
            i => math.max(1e-12, math.abs(r(i)) * (1 - math.abs(r(i)))),
            scale = (k - 1).toDouble / k)
          stage(c) = t
          c += 1
        }
      }
      // update F for ALL rows (holdout rows too — later stages see them)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < nScores) { F(i)(c) += lr * stage(c).predict(X(i)); c += 1 }
        i += 1
      }
      stages += stage
      m += 1
      stop = monitor.afterStage(stage, stages.length) // patience out
    }
    val full = snapshot()
    if (monitor.active) full.truncate(monitor.bestStages) else full
  }

  object Classifier extends Learner {
    def fit(X: Array[Array[Double]], y: Array[Double],
            params: Map[String, Double], seed: Long): Model =
      fit(X, y, params, seed, FitSideData.empty)
    override def fit(X: Array[Array[Double]], y: Array[Double],
                     params: Map[String, Double], seed: Long,
                     side: FitSideData): Model = {
      val k = math.max(2, y.max.toInt + 1)
      boost(X, y, params, seed, k, side)
    }
  }

  object Regressor extends Learner {
    def fit(X: Array[Array[Double]], y: Array[Double],
            params: Map[String, Double], seed: Long): Model =
      fit(X, y, params, seed, FitSideData.empty)
    override def fit(X: Array[Array[Double]], y: Array[Double],
                     params: Map[String, Double], seed: Long,
                     side: FitSideData): Model =
      boost(X, y, params, seed, 0, side)
  }
}
