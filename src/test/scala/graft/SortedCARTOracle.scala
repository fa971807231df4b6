package graft

import graft.exec.CART.{Node, TreeModel, nodeRng, nodeUniform}

/** The CART learner's split search as it stood before presorted growth:
  * every node re-sorts its rows for every candidate feature with a stable
  * boxed `sortBy` on the value. Kept verbatim, test-side only, as the
  * oracle that `CART.grow` must reproduce node for node.
  */
object SortedCARTOracle {

  /** Grow a tree. `w` = optional sample weights (bootstrap multinomial
    * counts, reference `_build_trees` `ensemble.py:88-106`); null → 1.0.
    * `nClasses` == 0 → regression.
    */
  def grow(X: Array[Array[Double]], y: Array[Double], w: Array[Double],
           params: Map[String, Double], seed: Long, nClasses: Int): TreeModel = {
    val n = X.length
    require(n > 0, "empty training set")
    val d = X(0).length
    val maxDepth = params.getOrElse("max_depth", 0.0).toInt
    val minSplit = math.max(2, params.getOrElse("min_samples_split", 2.0).toInt)
    val maxFeatures = params.getOrElse("max_features", 0.0)
    val randomSplits = params.getOrElse("random_splits", 0.0) != 0.0
    val nFeat =
      if (maxFeatures <= 0 || maxFeatures > 1) d
      else math.max(1, math.round(maxFeatures * d).toInt)
    var leafCount = 0

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
      feats.foreach { f =>
        if (randomSplits) {
          // extra-trees: one uniform-random threshold in [min, max)
          var lo = Double.MaxValue; var hi = Double.MinValue
          idx.foreach { i => val v = X(i)(f); if (v < lo) lo = v; if (v > hi) hi = v }
          if (hi > lo) {
            val thr = lo + nodeUniform(seed, uid, f) * (hi - lo)
            val score = splitScore(idx, f, thr)
            if (score < bestScore) { bestScore = score; bestFeat = f; bestThr = thr }
          }
        } else {
          // exhaustive: midpoints between consecutive distinct sorted values
          val sortedIdx = idx.sortBy(i => X(i)(f))
          if (nClasses > 0) {
            val lc = new Array[Double](nClasses); var lw = 0.0
            val rc = new Array[Double](nClasses); var rw = 0.0
            sortedIdx.foreach { i =>
              val wi = if (w == null) 1.0 else w(i)
              rc(y(i).toInt) += wi; rw += wi
            }
            var i = 0
            while (i < sortedIdx.length - 1) {
              val ii = sortedIdx(i)
              val wi = if (w == null) 1.0 else w(ii)
              lc(y(ii).toInt) += wi; lw += wi
              rc(y(ii).toInt) -= wi; rw -= wi
              val v0 = X(ii)(f); val v1 = X(sortedIdx(i + 1))(f)
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
            sortedIdx.foreach { i =>
              val wi = if (w == null) 1.0 else w(i)
              rs += wi * y(i); rs2 += wi * y(i) * y(i); rw += wi
            }
            var i = 0
            while (i < sortedIdx.length - 1) {
              val ii = sortedIdx(i)
              val wi = if (w == null) 1.0 else w(ii)
              ls += wi * y(ii); ls2 += wi * y(ii) * y(ii); lw += wi
              rs -= wi * y(ii); rs2 -= wi * y(ii) * y(ii); rw -= wi
              val v0 = X(ii)(f); val v1 = X(sortedIdx(i + 1))(f)
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
      val (l, r) = idx.partition(i => X(i)(bestFeat) <= bestThr)
      if (l.isEmpty || r.isEmpty) return mkLeaf(idx)
      val left = build(l, depth + 1, uid * 2)
      val right = build(r, depth + 1, uid * 2 + 1)
      new Node(bestFeat, bestThr, left, right, null, -1)
    }

    def splitScore(idx: Array[Int], f: Int, thr: Double): Double = {
      if (nClasses > 0) {
        val lc = new Array[Double](nClasses); var lw = 0.0
        val rc = new Array[Double](nClasses); var rw = 0.0
        idx.foreach { i =>
          val wi = if (w == null) 1.0 else w(i)
          if (X(i)(f) <= thr) { lc(y(i).toInt) += wi; lw += wi }
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
          if (X(i)(f) <= thr) { ls += wi * y(i); ls2 += wi * y(i) * y(i); lw += wi }
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
