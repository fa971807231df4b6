package graft.exec

import scala.util.Random

/** Small CART decision-tree learner (gini classification / variance
  * regression) for the task-parallel ensembles — each Spark task fits one
  * whole tree against the broadcast matrix, the reference's accuracy edge
  * over data-parallel forests (`ensemble.py`, `examples/search/spark_ml.py:
  * 20-24`).
  *
  * Params: `max_depth` (<=0 → unlimited), `min_samples_split`,
  * `max_features` (0<f<=1 fraction of features per split; 0/absent → all),
  * `random_splits` (!=0 → extra-trees style random thresholds). Seeded and
  * deterministic per (params, seed).
  *
  * All node-level randomness (feature subsets, extra-trees thresholds)
  * derives from the node's stable uid (root 1, children 2*uid / 2*uid+1)
  * rather than one sequential RNG threaded through the recursion: the
  * data-parallel inducer grows the SAME node set breadth-first, so
  * uid-keyed draws are the only scheme both regimes can reproduce — with
  * it, broadcast and histogram extra-trees draw identical thresholds.
  */
object CART {

  /** Golden-ratio and stream-key constants of every cross-regime
    * deterministic draw. ONE copy on purpose: broadcast and
    * data-parallel training must produce bit-identical draws, and two
    * hand-copied constant sets could silently desynchronize.
    */
  private[graft] val Gold = 0x9E3779B97F4A7C15L
  private[graft] val StreamKey = 0xC2B2AE3D27D4EB4FL

  /** splitmix64 step: advance by [[Gold]] and finalize. */
  @inline private[graft] def mix64(z0: Long): Long = {
    var z = z0 + Gold
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Mixed bits → uniform double in [0, 1). */
  @inline private[graft] def toUnit(bits: Long): Double =
    (bits >>> 11).toDouble * 1.1102230246251565e-16

  /** Per-node RNG shared by both training regimes (feature subsets). */
  def nodeRng(seed: Long, uid: Long): Random =
    new Random(seed ^ (uid * Gold))

  /** Deterministic uniform in [0,1) for (node, feature): splitmix64 mix.
    * Keyed by feature (not draw order), so the value is independent of
    * feature iteration order — the property that lets the level-parallel
    * inducer match the recursive one draw-for-draw.
    */
  def nodeUniform(seed: Long, uid: Long, f: Int): Double =
    toUnit(mix64(seed ^ (uid * Gold) ^ ((f + 1).toLong * StreamKey)))

  final class Node(val feature: Int, val threshold: Double,
                   val left: Node, val right: Node,
                   val value: Array[Double], val leafId: Int) extends Serializable {
    def isLeaf: Boolean = left == null
  }

  final case class TreeModel(root: Node, nClasses: Int, nLeaves: Int) extends Model {
    private def leaf(x: Array[Double]): Node = {
      var n = root
      while (!n.isLeaf) n = if (x(n.feature) <= n.threshold) n.left else n.right
      n
    }
    def predict(x: Array[Double]): Double = {
      val v = leaf(x).value
      if (nClasses == 0) v(0)
      else { // argmax, first max wins
        var b = 0; var i = 1
        while (i < v.length) { if (v(i) > v(b)) b = i; i += 1 }
        b.toDouble
      }
    }
    def predictProba(x: Array[Double]): Array[Double] = leaf(x).value
    /** Leaf index for the embedding transform (reference
      * `RandomTreesEmbedding.apply`). */
    def leafIndex(x: Array[Double]): Int = leaf(x).leafId
    def featureImportances(d: Int): Array[Double] = {
      val imp = new Array[Double](d)
      def walk(n: Node, weight: Double): Unit = if (!n.isLeaf) {
        imp(n.feature) += weight
        walk(n.left, weight / 2); walk(n.right, weight / 2)
      }
      walk(root, 1.0)
      imp
    }
  }

  /** Presorted per-matrix view for the exhaustive split search (the
    * presorted induction of SLIQ, Mehta et al. EDBT 1996, and SPRINT,
    * Shafer et al. VLDB 1996): `cols(f)` holds feature f column-major,
    * `order(f)` the row ids sorted by `(java.lang.Double.compare(value),
    * row id)` and `rank(f)` its inverse. A node sorts its rows' ranks
    * with the primitive `java.util.Arrays.sort` instead of sorting
    * boxed rows by value: node row lists are ascending, so rank order is
    * exactly the stable value sort. 16 bytes per cell beyond the
    * row-major matrix; build once per matrix and share it across trees.
    */
  final class TreeView private (val nRows: Int,
                                val cols: Array[Array[Double]],
                                val order: Array[Array[Int]],
                                val rank: Array[Array[Int]]) {
    def nFeatures: Int = cols.length
  }

  object TreeView {
    def apply(x: Array[Array[Double]]): TreeView = {
      val n = x.length
      require(n > 0, "empty training set")
      val d = x(0).length
      val keys = new Array[Long](n)
      val sorted = new Array[Long](n)
      val placed = new Array[Int](n) // rows already placed per tie group
      val cols = new Array[Array[Double]](d)
      val order = new Array[Array[Int]](d)
      val rank = new Array[Array[Int]](d)
      var f = 0
      while (f < d) {
        val c = new Array[Double](n)
        var i = 0
        while (i < n) {
          c(i) = x(i)(f)
          // signed-long image of java.lang.Double.compare's total order
          // (-0.0 below 0.0, NaN above +Inf)
          val b = java.lang.Double.doubleToLongBits(c(i))
          keys(i) = b ^ ((b >> 63) & Long.MaxValue)
          i += 1
        }
        System.arraycopy(keys, 0, sorted, 0, n)
        java.util.Arrays.sort(sorted)
        java.util.Arrays.fill(placed, 0)
        val o = new Array[Int](n)
        val r = new Array[Int](n)
        i = 0
        while (i < n) { // ascending rows fill each tie group in row order
          val g = firstAtLeast(sorted, keys(i))
          val pos = g + placed(g)
          placed(g) += 1
          r(i) = pos; o(pos) = i
          i += 1
        }
        cols(f) = c; order(f) = o; rank(f) = r
        f += 1
      }
      new TreeView(n, cols, order, rank)
    }

    private def firstAtLeast(a: Array[Long], key: Long): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (a(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  class Classifier(val nClassesHint: Int = 0) extends Learner {
    def fit(X: Array[Array[Double]], y: Array[Double],
            params: Map[String, Double], seed: Long): Model = {
      val k = math.max(nClassesHint, y.max.toInt + 1)
      grow(X, y, null, params, seed, k)
    }
  }
  object Classifier extends Classifier(0)

  object Regressor extends Learner {
    def fit(X: Array[Array[Double]], y: Array[Double],
            params: Map[String, Double], seed: Long): Model =
      grow(X, y, null, params, seed, 0)
  }

  /** [[grow]] over a one-off view of `X`; callers growing several trees
    * on one matrix build the view once and call the view overload.
    */
  def grow(X: Array[Array[Double]], y: Array[Double], w: Array[Double],
           params: Map[String, Double], seed: Long, nClasses: Int): TreeModel =
    grow(TreeView(X), y, w, params, seed, nClasses)

  /** Grow a tree. `w` = optional sample weights (bootstrap multinomial
    * counts, reference `_build_trees` `ensemble.py:88-106`); null → 1.0.
    * `nClasses` == 0 → regression.
    */
  def grow(view: TreeView, y: Array[Double], w: Array[Double],
           params: Map[String, Double], seed: Long, nClasses: Int): TreeModel = {
    val n = view.nRows
    require(n > 0, "empty training set")
    val d = view.nFeatures
    val cols = view.cols
    val maxDepth = params.getOrElse("max_depth", 0.0).toInt
    val minSplit = math.max(2, params.getOrElse("min_samples_split", 2.0).toInt)
    val maxFeatures = params.getOrElse("max_features", 0.0)
    val randomSplits = params.getOrElse("random_splits", 0.0) != 0.0
    val nFeat =
      if (maxFeatures <= 0 || maxFeatures > 1) d
      else math.max(1, math.round(maxFeatures * d).toInt)
    var leafCount = 0
    // split-search scratch, reused by every node: a node finishes its
    // search before it recurses
    val ranks = new Array[Int](n)
    val sortedIdx = new Array[Int](n)

    def leafValue(idx: Array[Int]): Array[Double] =
      if (nClasses > 0) {
        val counts = new Array[Double](nClasses)
        var tot = 0.0
        idx.foreach { i =>
          val wi = if (w == null) 1.0 else w(i)
          counts(y(i).toInt) += wi; tot += wi
        }
        if (tot > 0) { var c = 0; while (c < nClasses) { counts(c) /= tot; c += 1 } }
        counts
      } else {
        var s = 0.0; var tot = 0.0
        idx.foreach { i =>
          val wi = if (w == null) 1.0 else w(i)
          s += wi * y(i); tot += wi
        }
        Array(if (tot > 0) s / tot else 0.0)
      }

    /** Weighted impurity of a count/(sum,sumsq) accumulator. */
    def giniOf(counts: Array[Double], tot: Double): Double = {
      if (tot <= 0) return 0.0
      var g = 1.0; var c = 0
      while (c < counts.length) { val p = counts(c) / tot; g -= p * p; c += 1 }
      g
    }

    def mkLeaf(idx: Array[Int]): Node = {
      leafCount += 1
      new Node(-1, 0.0, null, null, leafValue(idx), leafCount - 1)
    }

    /** `sortedIdx(0 until idx.length)` = the node's rows in feature f's
      * rank order.
      */
    def sortByRank(idx: Array[Int], f: Int): Unit = {
      val m = idx.length
      val rf = view.rank(f); val of = view.order(f)
      var j = 0
      while (j < m) { ranks(j) = rf(idx(j)); j += 1 }
      java.util.Arrays.sort(ranks, 0, m)
      j = 0
      while (j < m) { sortedIdx(j) = of(ranks(j)); j += 1 }
    }

    def build(idx: Array[Int], depth: Int, uid: Long): Node = {
      val totW = if (w == null) idx.length.toDouble else idx.map(w).sum
      val pure = {
        var p = true; var i = 1
        while (p && i < idx.length) { p = y(idx(i)) == y(idx(0)); i += 1 }
        p
      }
      if (idx.length < minSplit || pure || (maxDepth > 0 && depth >= maxDepth) || totW <= 0)
        return mkLeaf(idx)

      val feats =
        if (nFeat >= d) (0 until d).toArray
        else nodeRng(seed, uid).shuffle((0 until d).toVector)
          .take(nFeat).sorted.toArray

      var bestFeat = -1; var bestThr = 0.0; var bestScore = Double.MaxValue
      val m = idx.length
      feats.foreach { f =>
        val xf = cols(f)
        if (randomSplits) {
          // extra-trees: one uniform-random threshold in [min, max)
          var lo = Double.MaxValue; var hi = Double.MinValue
          idx.foreach { i => val v = xf(i); if (v < lo) lo = v; if (v > hi) hi = v }
          if (hi > lo) {
            val thr = lo + nodeUniform(seed, uid, f) * (hi - lo)
            val score = splitScore(idx, xf, thr)
            if (score < bestScore) { bestScore = score; bestFeat = f; bestThr = thr }
          }
        } else {
          // exhaustive: midpoints between consecutive distinct sorted values
          sortByRank(idx, f)
          if (nClasses > 0) {
            val lc = new Array[Double](nClasses); var lw = 0.0
            val rc = new Array[Double](nClasses); var rw = 0.0
            var i = 0
            while (i < m) {
              val ii = sortedIdx(i)
              val wi = if (w == null) 1.0 else w(ii)
              rc(y(ii).toInt) += wi; rw += wi
              i += 1
            }
            i = 0
            while (i < m - 1) {
              val ii = sortedIdx(i)
              val wi = if (w == null) 1.0 else w(ii)
              lc(y(ii).toInt) += wi; lw += wi
              rc(y(ii).toInt) -= wi; rw -= wi
              val v0 = xf(ii); val v1 = xf(sortedIdx(i + 1))
              if (v1 > v0) {
                val score = (lw * giniOf(lc, lw) + rw * giniOf(rc, rw)) / totW
                if (score < bestScore) {
                  bestScore = score; bestFeat = f; bestThr = (v0 + v1) / 2
                }
              }
              i += 1
            }
          } else {
            var ls = 0.0; var ls2 = 0.0; var lw = 0.0
            var rs = 0.0; var rs2 = 0.0; var rw = 0.0
            var i = 0
            while (i < m) {
              val ii = sortedIdx(i)
              val wi = if (w == null) 1.0 else w(ii)
              rs += wi * y(ii); rs2 += wi * y(ii) * y(ii); rw += wi
              i += 1
            }
            i = 0
            while (i < m - 1) {
              val ii = sortedIdx(i)
              val wi = if (w == null) 1.0 else w(ii)
              ls += wi * y(ii); ls2 += wi * y(ii) * y(ii); lw += wi
              rs -= wi * y(ii); rs2 -= wi * y(ii) * y(ii); rw -= wi
              val v0 = xf(ii); val v1 = xf(sortedIdx(i + 1))
              if (v1 > v0) {
                val lVar = if (lw > 0) ls2 - ls * ls / lw else 0.0
                val rVar = if (rw > 0) rs2 - rs * rs / rw else 0.0
                val score = (lVar + rVar) / totW
                if (score < bestScore) {
                  bestScore = score; bestFeat = f; bestThr = (v0 + v1) / 2
                }
              }
              i += 1
            }
          }
        }
      }

      if (bestFeat < 0) return mkLeaf(idx)
      val xb = cols(bestFeat)
      val (l, r) = idx.partition(i => xb(i) <= bestThr)
      if (l.isEmpty || r.isEmpty) return mkLeaf(idx)
      val left = build(l, depth + 1, uid * 2)
      val right = build(r, depth + 1, uid * 2 + 1)
      new Node(bestFeat, bestThr, left, right, null, -1)
    }

    def splitScore(idx: Array[Int], xf: Array[Double], thr: Double): Double = {
      if (nClasses > 0) {
        val lc = new Array[Double](nClasses); var lw = 0.0
        val rc = new Array[Double](nClasses); var rw = 0.0
        idx.foreach { i =>
          val wi = if (w == null) 1.0 else w(i)
          if (xf(i) <= thr) { lc(y(i).toInt) += wi; lw += wi }
          else { rc(y(i).toInt) += wi; rw += wi }
        }
        val tot = lw + rw
        if (tot <= 0) Double.MaxValue
        else (lw * giniOf(lc, lw) + rw * giniOf(rc, rw)) / tot
      } else {
        var ls = 0.0; var ls2 = 0.0; var lw = 0.0
        var rs = 0.0; var rs2 = 0.0; var rw = 0.0
        idx.foreach { i =>
          val wi = if (w == null) 1.0 else w(i)
          if (xf(i) <= thr) { ls += wi * y(i); ls2 += wi * y(i) * y(i); lw += wi }
          else { rs += wi * y(i); rs2 += wi * y(i) * y(i); rw += wi }
        }
        val lVar = if (lw > 0) ls2 - ls * ls / lw else 0.0
        val rVar = if (rw > 0) rs2 - rs * rs / rw else 0.0
        if (lw + rw <= 0) Double.MaxValue else (lVar + rVar) / (lw + rw)
      }
    }

    val rootIdx = (0 until n).filter(i => w == null || w(i) > 0).toArray
    val root = build(if (rootIdx.isEmpty) (0 until n).toArray else rootIdx, 0, 1L)
    TreeModel(root, nClasses, leafCount)
  }
}
