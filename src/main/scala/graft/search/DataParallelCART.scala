package graft.search

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.CART
import graft.ops.Par

/** Data-parallel CART — histogram tree induction over a distributed
  * DataFrame (the PLANET regime: Panda et al., VLDB'09), closing the
  * auto-route gap for tree learners: when the training matrix exceeds the
  * broadcast budget, `DistGridSearchCV.fit` and `DistForest.fit` route
  * tree candidates here instead of throwing (reference trains trees only
  * against broadcast/collected data, `ensemble.py:88-106` — this is the
  * 100 TB-safe generalization SURVEY §7.4 calls for).
  *
  * Returns the SAME `CART.TreeModel` type as the broadcast learner, so
  * callers (forests, search, prediction UDFs, persistence) never see which
  * regime fit the tree.
  *
  * Design:
  *  - One pass computes per-feature split candidates: exact midpoints for
  *    low-cardinality features, equi-depth `percentile_approx` quantiles
  *    for continuous ones (`splitCandidates`).
  *  - Breadth-first growth: per level, rows route through the broadcast
  *    partial trees to a frontier node, and ONE ordered aggregation
  *    (`orderedAggregate`) builds all (tree, node, feature, bin)
  *    sufficient statistics — class-weight
  *    vectors for gini, (w, wy, wy2) for variance. Split scoring on the
  *    driver is a prefix scan over bins using the broadcast learner's
  *    exact scoring formula; only statistics ever reach the driver, never
  *    rows.
  *  - Forests grow ALL trees together: the frontier spans every tree, so
  *    wall-clock scales with tree DEPTH, not tree count, and each level is
  *    one pass over the data regardless of ensemble size. Bootstrap is a
  *    deterministic per-(row, tree) Poisson(1) weight — the distributed
  *    limit of multinomial resampling (row-count draws with replacement →
  *    Poisson as n grows; same device Spark ML uses) — so no data is ever
  *    copied per tree.
  *  - Frontier batching: a level whose statistics tensor would exceed
  *    `maxStatsDoubles` is aggregated in batches, bounding executor and
  *    driver memory at any tree width (PLANET's node-queue memory budget).
  *
  * Params (matching `CART.grow`): `max_depth` (<=0 unlimited),
  * `min_samples_split`, `max_features`, `random_splits`. ALL node-level
  * randomness is uid-keyed through `CART.nodeRng`/`CART.nodeUniform` —
  * the same derivation the broadcast learner uses — so the two regimes
  * pick identical feature subsets and identical extra-trees thresholds
  * for the same node.
  *
  * Extra-trees (`random_splits`): the level pass additionally accumulates
  * per-(node, feature, bin) value min/max — PLANET's bounded extra
  * statistics (2 doubles per histogram cell). The node's exact value
  * range is the min/max over its non-empty bins, the driver draws the
  * seeded uniform threshold from it, and the threshold is scored from the
  * same histogram by prefix-summing the bins wholly at or below it
  * (exact whenever bins are per-distinct-value, i.e. on low-cardinality
  * features; boundary-approximate on the quantile path, where a bin
  * straddling the threshold scores on its right side — the standard
  * histogram approximation, which affects split CHOICE only: routing and
  * leaf statistics always recompute from true row values).
  */
object DataParallelCART {

  /** Serializable snapshot of one partial tree used to route rows.
    * `PLeaf(i)` with i >= 0 is frontier slot i (still growing); -1 is a
    * finalized leaf (row contributes no statistics this level).
    */
  private[graft] sealed trait PNode extends Serializable
  private[graft] final case class PSplit(f: Int, thr: Double, l: PNode, r: PNode) extends PNode
  private[graft] final case class PLeaf(frontierIdx: Int) extends PNode

  /** Mutable driver-side node under construction. `uid` is the stable
    * per-tree identity (root 1, children 2*uid / 2*uid+1) used for
    * per-node feature-subset seeds; `tree` the ensemble slot.
    */
  private final class BNode(val tree: Int, val depth: Int, val uid: Long) {
    var feature: Int = -1
    var thr: Double = 0.0
    var left: BNode = _
    var right: BNode = _
    var value: Array[Double] = _ // non-null once finalized as a leaf
    var frontierIdx: Int = -1
  }

  /** `nClasses`: the resolved class count — no label scan here; callers
    * resolve it once per frame (`DataParallelFit.fit`).
    */
  def fitClassifier(df: DataFrame, featuresCol: String, labelCol: String,
                    params: Map[String, Double], seed: Long,
                    nClasses: Int, bins: Int = 32,
                    weightCol: Option[String] = None): CART.TreeModel = {
    require(nClasses > 0, s"no labels in $labelCol and no positive nClasses hint")
    growForest(df, featuresCol, labelCol, params, seed, nClasses, bins, weightCol,
      nTrees = 1, bootstrap = false).head
  }

  /** `candidates`: precomputed [[splitCandidates]] to reuse across fits
    * over the SAME feature column — boosting refits once per stage on
    * identical features (only the residual label changes), and without
    * reuse each stage would pay the three full-data candidate jobs for
    * byte-identical arrays.
    */
  def fitRegressor(df: DataFrame, featuresCol: String, labelCol: String,
                   params: Map[String, Double], seed: Long,
                   bins: Int = 32,
                   weightCol: Option[String] = None,
                   candidates: Option[Array[Array[Double]]] = None): CART.TreeModel =
    growForest(df, featuresCol, labelCol, params, seed, 0, bins, weightCol,
      nTrees = 1, bootstrap = false, precomputedCandidates = candidates).head

  /** Data-parallel forest: `nTrees` histogram trees grown together in
    * shared per-level passes (Poisson(1) bootstrap when `bootstrap`).
    * Returns the engine's `ForestModel` — the same type `DistForest`'s
    * broadcast regime produces.
    */
  def fitForest(df: DataFrame, featuresCol: String, labelCol: String,
                params: Map[String, Double], seed: Long,
                nTrees: Int, classification: Boolean,
                bootstrap: Boolean = true, bins: Int = 32,
                weightCol: Option[String] = None): ForestModel = {
    require(nTrees >= 1, s"nTrees must be >= 1, got $nTrees")
    val k = if (classification) scanClasses(df, labelCol) else 0
    require(!classification || k > 0, s"no labels in $labelCol")
    ForestModel(
      growForest(df, featuresCol, labelCol, params, seed, k, bins, weightCol,
        nTrees, bootstrap),
      k)
  }

  /** Observed class count: max label + 1, 0 with no labels — one narrow
    * agg over the label column. A class hint widens it, never narrows it
    * (`DataParallelFit.fit`, the broadcast learner's max(hint, y.max + 1)):
    * trusting a positive hint outright made the auto-route's two regimes
    * disagree — a 2-class hint over 5-class data FIT under the broadcast
    * budget and THREW past it.
    */
  private[search] def scanClasses(df: DataFrame, labelCol: String): Int = {
    val r = df.agg(max(col(labelCol).cast("double"))).head()
    if (r.isNullAt(0)) 0 else r.getDouble(0).toInt + 1
  }

  /** Per-feature split candidates. Low-cardinality features (distinct
    * count <= `bins`, per a first approx-distinct pass) get EXACT
    * candidates — midpoints between every pair of consecutive distinct
    * values, the broadcast learner's own set, so the two regimes grow the
    * same tree on such data. High-cardinality (continuous) features get
    * midpoints between consecutive distinct equi-depth quantiles: bounded
    * state per feature no matter how many distinct values exist at 100 TB.
    * Exposed for the oracled histogram query.
    */
  def splitCandidates(df: DataFrame, featuresCol: String,
                      bins: Int): Array[Array[Double]] = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // pinned: three jobs consume this frame (cardinality, exact-distinct,
    // quantiles) and each would otherwise re-read and re-explode every
    // row × feature — the dominant non-level cost of an over-budget fit,
    // and per boosting STAGE before the GBT candidate-reuse overload.
    // The key carries a per-call nonce: concurrent data-parallel fits
    // (OvR per-class fits via Par.concurrently) under ONE shared key
    // would evict each other's logically-distinct cache entries mid-job
    // and force the three candidate jobs to recompute; the pin is
    // released eagerly below (try/finally), so unique keys never
    // accumulate registry entries
    val pinKey = s"dpcart.exploded.${java.util.UUID.randomUUID()}"
    val exploded = Par.pinLatest(pinKey, df
      .select(posexplode(col(featuresCol).cast("array<double>")).as(Seq("_f", "_v"))))
    try {
    // Pass 1: which features are low-cardinality? (rsd 0.02 over-counts by
    // at most ~2% — the 5% slack below absorbs it either way; a feature
    // misrouted to the quantile path still gets valid, just inexact, cuts.)
    val cardRows = exploded.groupBy("_f")
      .agg(approx_count_distinct(col("_v"), 0.02).as("_c")).collect()
    val d = if (cardRows.isEmpty) 0 else cardRows.map(_.getInt(0)).max + 1
    val lowCard = cardRows.filter(_.getLong(1) <= math.max(2L, (bins * 1.05).toLong))
      .map(_.getInt(0)).toSet
    val out = Array.fill(d)(Array.emptyDoubleArray)
    def midpoints(vals: Seq[Double]): Array[Double] =
      vals.distinct.sorted.iterator.sliding(2).withPartial(false)
        .map { case Seq(a, b) => (a + b) / 2 }.toArray
    // Pass 2a: exact distinct sets for the low-card features (bounded by
    // construction — collect_set holds <= ~bins values per feature).
    if (lowCard.nonEmpty) {
      exploded.filter(col("_f").isInCollection(lowCard))
        .groupBy("_f").agg(collect_set(col("_v")).as("_vals"))
        .collect()
        .foreach(r => out(r.getInt(0)) = midpoints(r.getSeq[Double](1)))
    }
    // Pass 2b: equi-depth quantiles for the continuous features.
    if (lowCard.size < d) {
      val pcts = array((0 to bins).map(i => lit(i.toDouble / bins)): _*)
      exploded.filter(!col("_f").isInCollection(lowCard))
        .groupBy("_f")
        .agg(percentile_approx(col("_v"), pcts, lit(10000)).as("_qs"))
        .collect()
        .foreach(r => out(r.getInt(0)) = midpoints(r.getSeq[Double](1)))
    }
    out
    } finally {
      // every consumer has collected (or the fit is failing) — release
      // the cache eagerly so per-call nonce keys never leak pins
      Par.unpin(pinKey, exploded)
    }
  }

  /** The level-aggregation kernel exposed as a relational surface: per
    * (feature, bin, class) row counts over caller-FIXED thresholds, via
    * the exact aggregation path tree induction uses — the oracled query
    * (q69) pins this kernel against DuckDB CASE/GROUP BY truth.
    */
  def histogram(df: DataFrame, featuresCol: String, labelCol: String,
                thresholds: Array[Array[Double]], nClasses: Int): DataFrame = {
    // this is the CLASSIFICATION kernel (q69): nClasses = 0 would route
    // the accumulator into its 4-slot regression layout against a 1-slot
    // cell stride — neighboring cells silently corrupted (or AIOOBE on
    // the last cell). Unsorted thresholds would make binarySearch return
    // garbage bins: plausible-looking, wrong counts, no error.
    require(nClasses >= 1,
      s"histogram is the classification kernel — nClasses must be >= 1")
    require(thresholds.nonEmpty, "no features (empty thresholds)")
    thresholds.zipWithIndex.foreach { case (ts, f) =>
      require((1 until ts.length).forall(i => ts(i - 1) <= ts(i)),
        s"thresholds for feature $f must be sorted ascending")
    }
    val spark = df.sparkSession
    val data = df
      .select(col(featuresCol).cast("array<double>"), col(labelCol).cast("double"), lit(1.0))
      .rdd
      .zipWithIndex()
      .map { case (r, i) => (r.getSeq[Double](0).toArray, r.getDouble(1), r.getDouble(2), i) }
    val d = thresholds.length
    val cands = spark.sparkContext.broadcast(thresholds)
    val stride = thresholds.map(_.length).max + 1
    val s = nClasses + 1
    val route = spark.sparkContext.broadcast[Array[PNode]](Array(PLeaf(0)))
    val allFeats = spark.sparkContext.broadcast(
      Array(Array.tabulate(d)(identity)))
    val stats = aggregateStats(data, route, 0, 1, cands, allFeats, d, stride,
      s, nClasses, bootstrap = false, seed = 0L)
    val rows = for {
      f <- 0 until d
      b <- 0 to thresholds(f).length
      c <- 0 until nClasses
      n = stats((f * stride + b) * s + c) if n > 0
    } yield (f, b, c, n.toLong)
    import spark.implicits._
    rows.toDF("feature", "bin", "label", "n_rows")
  }

  /** Deterministic Poisson(1) draw for (row, tree) — splitmix64-driven
    * Knuth sampler. The distributed bootstrap: multinomial resampling of n
    * rows converges to iid Poisson(1) per-row counts as n grows.
    */
  private def poisson1(rowId: Long, tree: Int, seed: Long): Double = {
    // CART.mix64/toUnit: the ONE copy of the splitmix64 constants shared
    // with nodeUniform/nodeRng — bit-compatibility across regimes
    var h = seed ^ (rowId * CART.Gold) ^ ((tree + 1).toLong * CART.StreamKey)
    @inline def next(): Double = {
      val v = CART.toUnit(CART.mix64(h))
      h += CART.Gold
      v
    }
    val limit = 0.36787944117144233 // e^-1
    var k = 0
    var p = 1.0
    while ({ p *= next(); p > limit }) k += 1
    k.toDouble
  }

  /** (tree, node, feature, bin) sufficient statistics for ONE frontier
    * window [lo, hi). Flat tensor layout:
    * ((slot * nFeat + fPos) * stride + bin) * cs + stat where slot =
    * frontierIdx - lo, fPos = the feature's POSITION in that slot's
    * `slotFeats` subset (under max_features only the node's uid-keyed
    * subset can ever be scored — aggregating all d features wasted
    * ~(d/nFeat)× of the per-row work AND shrank the per-pass slot budget
    * by the same factor), s = nClasses + 1 class weights + raw count
    * (classification) or 4 = (w, wy, wy2, count) (regression), and
    * cs = s, or s + 2 under `trackRanges` — those cells append the bin's
    * value (min, max) over positive-weight rows (zero-weight rows never
    * influence splits in the broadcast learner either: its root index
    * drops them). Map-side combine happens inside each partition's
    * accumulator; only the window tensor shuffles, never rows.
    */
  private[graft] def aggregateStats(
      data: RDD[(Array[Double], Double, Double, Long)],
      routes: Broadcast[Array[PNode]], lo: Int, hi: Int,
      cands: Broadcast[Array[Array[Double]]],
      slotFeats: Broadcast[Array[Array[Int]]],
      nFeat: Int, stride: Int, s: Int, nClasses: Int,
      bootstrap: Boolean, seed: Long,
      trackRanges: Boolean = false): Array[Double] = {
    val nSlots = hi - lo
    val cs = s + (if (trackRanges) 2 else 0)
    val cntOff = s - 1 // positive-weight row count, both regimes
    orderedAggregate(data, () => new Array[Double](nSlots * nFeat * stride * cs))(
      seqOp = (acc, row) => {
        val (x, y, w0, rowId) = row
        // loud, once per row: an out-of-range label (e.g. SVM-style -1/+1)
        // would otherwise write into a NEIGHBORING bin's slot and build
        // the whole tree from silently corrupted sufficient statistics
        if (nClasses > 0 && (y < 0 || y >= nClasses))
          throw new IllegalArgumentException(
            s"label $y outside [0, $nClasses) — classification labels " +
              "must be consecutive 0-based class indices")
        val nTrees = routes.value.length
        var t = 0
        while (t < nTrees) {
          var node: PNode = routes.value(t)
          while (node.isInstanceOf[PSplit]) {
            val sp = node.asInstanceOf[PSplit]
            node = if (x(sp.f) <= sp.thr) sp.l else sp.r
          }
          val fi = node.asInstanceOf[PLeaf].frontierIdx
          if (fi >= lo && fi < hi) {
            val w = if (bootstrap) w0 * poisson1(rowId, t, seed) else w0
            if (w > 0 || !bootstrap) {
              val feats = slotFeats.value(fi - lo)
              val base0 = (fi - lo) * nFeat
              var fp = 0
              while (fp < feats.length) {
                val f = feats(fp)
                val ts = cands.value(f)
                // bin = first candidate with x <= t (left side of that split)
                var b = java.util.Arrays.binarySearch(ts, x(f))
                if (b < 0) b = -b - 1
                val base = ((base0 + fp) * stride + b) * cs
                if (trackRanges && w > 0) {
                  val v = x(f)
                  if (acc(base + cntOff) == 0) { // first row in this cell
                    acc(base + s) = v; acc(base + s + 1) = v
                  } else {
                    if (v < acc(base + s)) acc(base + s) = v
                    if (v > acc(base + s + 1)) acc(base + s + 1) = v
                  }
                }
                if (nClasses == 0) { // regression: w, wy, wy2, count
                  acc(base) += w
                  acc(base + 1) += w * y
                  acc(base + 2) += w * y * y
                  if (w > 0) acc(base + 3) += 1
                } else { // classification: class weights + raw count
                  acc(base + y.toInt) += w
                  if (w > 0) acc(base + s - 1) += 1
                }
                fp += 1
              }
            }
          }
          t += 1
        }
        acc
      },
      combOp = (a, b) => {
        if (!trackRanges) {
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
        } else {
          // cell-aware merge: stats add; ranges combine only where BOTH
          // sides saw rows (an untouched cell's 0-valued range slots must
          // not clamp a real minimum)
          var cell = 0
          while (cell < a.length) {
            val aCnt = a(cell + cntOff); val bCnt = b(cell + cntOff)
            var j = 0
            while (j < s) { a(cell + j) += b(cell + j); j += 1 }
            if (aCnt == 0) { a(cell + s) = b(cell + s); a(cell + s + 1) = b(cell + s + 1) }
            else if (bCnt > 0) {
              if (b(cell + s) < a(cell + s)) a(cell + s) = b(cell + s)
              if (b(cell + s + 1) > a(cell + s + 1)) a(cell + s + 1) = b(cell + s + 1)
            }
            cell += cs
          }
        }
        a
      })
  }

  /** `treeAggregate`'s two-level shape with a FIXED merge order: each
    * partition folds its rows into one partial, groups of ~sqrt(n)
    * consecutive partials merge in partition-index order on the
    * executors, and the driver merges the group results in group order.
    * `treeAggregate` merges in task-completion order, and floating-point
    * sums differ bit-wise with their order — two runs of one fit could
    * grow different trees. Here a fit's statistics are the same bits on
    * every run.
    */
  private[search] def orderedAggregate[T](data: RDD[T], zero: () => Array[Double])(
      seqOp: (Array[Double], T) => Array[Double],
      combOp: (Array[Double], Array[Double]) => Array[Double]): Array[Double] = {
    val partials = data.mapPartitions(rows => Iterator.single(rows.foldLeft(zero())(seqOp)))
    val n = partials.getNumPartitions
    val fanIn = math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)
    val groups = (n + fanIn - 1) / fanIn
    val merged =
      if (n <= fanIn + groups) partials // few partials: the driver merges them
      else partials
        .mapPartitionsWithIndex((i, it) => it.map(i -> _))
        .repartitionAndSortWithinPartitions(new IndexGroups(groups, fanIn))
        .mapPartitions(it =>
          if (it.hasNext) Iterator.single(it.map(_._2).reduceLeft(combOp))
          else Iterator.empty)
    val parts = merged.collect() // partition order
    if (parts.isEmpty) zero() else parts.reduceLeft(combOp)
  }

  /** Partition index → its group of `fanIn` consecutive partitions. */
  private final class IndexGroups(groups: Int, fanIn: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = groups
    def getPartition(key: Any): Int = key.asInstanceOf[Int] / fanIn
  }

  private def growForest(df: DataFrame, featuresCol: String, labelCol: String,
                         params: Map[String, Double], seed: Long,
                         nClasses: Int, bins: Int,
                         weightCol: Option[String],
                         nTrees: Int, bootstrap: Boolean,
                         precomputedCandidates: Option[Array[Array[Double]]] = None)
      : Array[CART.TreeModel] = {
    val randomSplits = params.getOrElse("random_splits", 0.0) != 0.0
    val maxDepth = params.getOrElse("max_depth", 0.0).toInt
    val minSplit = math.max(2, params.getOrElse("min_samples_split", 2.0).toInt)
    val maxFeatures = params.getOrElse("max_features", 0.0)

    val spark = df.sparkSession
    val wCol = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val data: RDD[(Array[Double], Double, Double, Long)] = df
      .select(col(featuresCol).cast("array<double>"), col(labelCol).cast("double"), wCol)
      .rdd
      .zipWithIndex() // stable per-fit row ids seed the bootstrap draws
      .map { case (r, i) => (r.getSeq[Double](0).toArray, r.getDouble(1), r.getDouble(2), i) }
      // MEMORY_AND_DISK, NOT the MEMORY_ONLY default: this regime exists
      // for data too big to broadcast — exactly when MEMORY_ONLY evicts.
      // An evicted partition recomputes through upstream lineage whose
      // intra-partition row order is not guaranteed stable (shuffles
      // upstream of df), so zipWithIndex could re-assign row ids MID-FIT
      // and the rowId-keyed Poisson bootstrap would draw a different
      // in-bag set at different tree levels — silently corrupted trees.
      // Spilling to local disk keeps the ids frozen (Spark ML's tree
      // trainers persist at the same level for the same reason).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = data.take(1)
    require(first.nonEmpty, "empty training set")
    val d = first(0)._1.length
    require(d > 0, s"$featuresCol is empty on every row — no features to split on")

    val candArr = precomputedCandidates.getOrElse(
      splitCandidates(df, featuresCol, bins))
    require(candArr.length == d, s"candidate pass saw ${candArr.length} features, expected $d")
    val cands = spark.sparkContext.broadcast(candArr)
    val stride = math.max(1, candArr.map(_.length).max + 1)
    val s = if (nClasses > 0) nClasses + 1 else 4
    // per-bin value (min, max) is tracked for BOTH split kinds now:
    // extra-trees draw thresholds from the node range, and regular CART
    // converts its winning global candidate to the NODE-LOCAL midpoint
    // (the broadcast learner's threshold) in decide() — without the
    // ranges the regimes' trees route training rows identically but
    // disagree on unseen values between a node's value gaps.
    val cs = s + 2
    val nFeat =
      if (maxFeatures <= 0 || maxFeatures > 1) d
      else math.max(1, math.round(maxFeatures * d).toInt)
    val allFeats = Array.tabulate(d)(identity)
    // the node's uid-keyed feature subset — the SAME draw decide() and
    // the broadcast learner make, computed driver-side so the statistics
    // tensor only carries the nFeat features a node can actually score
    def featsOf(n: BNode): Array[Int] =
      if (nFeat >= d) allFeats
      else CART.nodeRng(seed + n.tree, n.uid)
        .shuffle((0 until d).toVector).take(nFeat).sorted.toArray

    // PLANET memory budget: cap the per-pass statistics tensor; wider
    // levels aggregate in batches (extra passes, bounded memory).
    val maxStatsDoubles = 64L << 20
    val slotsPerPass =
      math.max(1, (maxStatsDoubles / (nFeat.toLong * stride * cs)).toInt)

    val roots = Array.tabulate(nTrees)(t => new BNode(t, 0, 1L))
    var frontier: Vector[BNode] = roots.toVector
    var guard = 0
    while (frontier.nonEmpty) {
      guard += 1
      require(guard <= 512,
        s"tree induction exceeded 512 levels — runaway growth (n too " +
          "large for unlimited max_depth?); set max_depth")
      frontier.zipWithIndex.foreach { case (n, i) => n.frontierIdx = i }

      def snapshot(n: BNode): PNode =
        if (n.feature >= 0) PSplit(n.feature, n.thr, snapshot(n.left), snapshot(n.right))
        else if (n.value != null) PLeaf(-1)
        else PLeaf(n.frontierIdx)
      val routes = spark.sparkContext.broadcast(roots.map(snapshot))

      val next = Vector.newBuilder[BNode]
      var lo = 0
      while (lo < frontier.size) {
        val hi = math.min(frontier.size, lo + slotsPerPass)
        val windowFeats = Array.tabulate(hi - lo)(i => featsOf(frontier(lo + i)))
        val featsBc = spark.sparkContext.broadcast(windowFeats)
        val stats = aggregateStats(data, routes, lo, hi, cands, featsBc,
          nFeat, stride, s, nClasses, bootstrap, seed, trackRanges = true)
        var ni = lo
        while (ni < hi) {
          val node = frontier(ni)
          val base0 = (ni - lo) * nFeat
          decide(node, stats, base0, windowFeats(ni - lo), stride, s, cs,
            nClasses, candArr, maxDepth, minSplit, seed, randomSplits, next)
          ni += 1
        }
        featsBc.unpersist(blocking = false)
        lo = hi
      }
      routes.unpersist(blocking = false)
      frontier = next.result()
    }
    cands.unpersist(blocking = false)
    data.unpersist(blocking = false)

    // Convert to CART.Node with depth-first left-first leaf numbering —
    // the broadcast learner's build order, so leafIndex embeddings agree.
    roots.map { root =>
      var leafCount = 0
      def convert(n: BNode): CART.Node =
        if (n.value != null) {
          leafCount += 1
          new CART.Node(-1, 0.0, null, null, n.value, leafCount - 1)
        } else new CART.Node(n.feature, n.thr, convert(n.left), convert(n.right), null, -1)
      val cRoot = convert(root)
      CART.TreeModel(cRoot, nClasses, leafCount)
    }
  }

  /** Score one frontier node's statistics slice and either split it
    * (pushing children onto the next frontier) or finalize it as a leaf.
    * Scoring math is the broadcast learner's exactly: weighted gini /
    * variance, normalized by node weight, first-wins strict-< tie-break
    * over (feature asc, threshold asc). Under `randomSplits` the one
    * threshold per feature is the SAME uid-keyed uniform draw the
    * broadcast learner makes, scored by prefix-summing whole bins.
    */
  private def decide(node: BNode, stats: Array[Double], base0: Int,
                     feats: Array[Int], stride: Int, s: Int, cs: Int,
                     nClasses: Int,
                     candArr: Array[Array[Double]],
                     maxDepth: Int, minSplit: Int, seed: Long,
                     randomSplits: Boolean,
                     next: scala.collection.mutable.Builder[BNode, Vector[BNode]]): Unit = {
    // Node totals from the subset's FIRST feature's bins (every feature's
    // bins partition the same node rows, so any one sums to the totals).
    val tot = new Array[Double](s)
    var b = 0
    while (b < stride) {
      val base = (base0 * stride + b) * cs
      var j = 0
      while (j < s) { tot(j) += stats(base + j); j += 1 }
      b += 1
    }
    val rowCount = tot(s - 1).toLong
    val totW = if (nClasses > 0) {
      var w = 0.0; var c = 0
      while (c < nClasses) { w += tot(c); c += 1 }
      w
    } else tot(0)

    def mkLeaf(): Unit = {
      node.value =
        if (nClasses > 0) {
          val v = new Array[Double](nClasses)
          if (totW > 0) { var c = 0; while (c < nClasses) { v(c) = tot(c) / totW; c += 1 } }
          v
        } else Array(if (totW > 0) tot(1) / totW else 0.0)
    }

    val pure =
      if (nClasses > 0) {
        var nz = 0; var c = 0
        while (c < nClasses) { if (tot(c) > 0) nz += 1; c += 1 }
        nz <= 1
      } else {
        // zero weighted variance == all identical labels (fp-tolerant)
        val v = if (totW > 0) tot(2) - tot(1) * tot(1) / totW else 0.0
        v <= 1e-9 * math.max(1.0, tot(2))
      }
    if (rowCount < minSplit || pure ||
        (maxDepth > 0 && node.depth >= maxDepth) || totW <= 0) {
      mkLeaf(); return
    }

    // treeSeed matches the broadcast forest's per-tree fan-out
    // (baseSeed + treeIdx), so uid-keyed draws agree across regimes.
    // `feats` is the node's uid-keyed subset, computed by growForest's
    // featsOf — the statistics tensor only carries these features.
    val treeSeed = seed + node.tree

    def giniOf(counts: Array[Double], from: Int, tw: Double): Double = {
      if (tw <= 0) return 0.0
      var g = 1.0; var c = 0
      while (c < nClasses) { val p = counts(from + c) / tw; g -= p * p; c += 1 }
      g
    }

    var bestFeat = -1; var bestThr = 0.0; var bestScore = Double.MaxValue
    val left = new Array[Double](s)

    // weighted-impurity score of the (left, tot - left) partition — the
    // broadcast learner's formula exactly, shared by both split kinds
    def scoreLeft(): Double =
      if (nClasses > 0) {
        var lw = 0.0; var c = 0
        while (c < nClasses) { lw += left(c); c += 1 }
        val rw = totW - lw
        val rG = {
          if (rw <= 0) 0.0
          else {
            var g = 1.0; var cc = 0
            while (cc < nClasses) {
              val p = (tot(cc) - left(cc)) / rw; g -= p * p; cc += 1
            }
            g
          }
        }
        (lw * giniOf(left, 0, lw) + rw * rG) / totW
      } else {
        val lw = left(0); val rw = tot(0) - lw
        val lVar = if (lw > 0) left(2) - left(1) * left(1) / lw else 0.0
        val rs = tot(1) - left(1); val rs2 = tot(2) - left(2)
        val rVar = if (rw > 0) rs2 - rs * rs / rw else 0.0
        (lVar + rVar) / totW
      }

    var fp = 0
    while (fp < feats.length) {
      val f = feats(fp)
      val ts = candArr(f)
      if (randomSplits) {
        // extra-trees: node value range = min/max over non-empty bins
        // (exact — ranges track actual routed row values)
        var lo = Double.MaxValue; var hi = Double.MinValue
        var bi = 0
        while (bi < stride) {
          val base = ((base0 + fp) * stride + bi) * cs
          if (stats(base + s - 1) > 0) { // count slot: s-1 in both regimes
            if (stats(base + s) < lo) lo = stats(base + s)
            if (stats(base + s + 1) > hi) hi = stats(base + s + 1)
          }
          bi += 1
        }
        if (hi > lo) {
          val thr = lo + CART.nodeUniform(treeSeed, node.uid, f) * (hi - lo)
          // left = the bins wholly at or below thr; bin value ranges are
          // ordered, so membership (binMax <= thr) is a prefix over the
          // non-empty bins — empty bins contribute nothing either way
          java.util.Arrays.fill(left, 0.0)
          var b2 = 0
          while (b2 < stride) {
            val base = ((base0 + fp) * stride + b2) * cs
            if (stats(base + s - 1) > 0 && stats(base + s + 1) <= thr) {
              var j = 0
              while (j < s) { left(j) += stats(base + j); j += 1 }
            }
            b2 += 1
          }
          val lCount = left(s - 1); val rCount = tot(s - 1) - lCount
          if (lCount > 0 && rCount > 0) {
            val score = scoreLeft()
            if (score < bestScore) { bestScore = score; bestFeat = f; bestThr = thr }
          }
        }
      } else {
        // node-local neighbor values for midpoint conversion: sufMin(b) =
        // smallest routed value in any non-empty bin >= b. The winning
        // candidate is converted to (leftNeighborMax + rightNeighborMin)/2
        // — the broadcast learner's threshold. Global candidates only
        // guarantee SOME cut between the node's adjacent values; without
        // the conversion both regimes route training rows identically but
        // disagree on unseen values inside the node's value gaps.
        val sufMin = new Array[Double](stride + 1)
        sufMin(stride) = Double.MaxValue
        var sb = stride - 1
        while (sb >= 0) {
          val base = ((base0 + fp) * stride + sb) * cs
          sufMin(sb) =
            if (stats(base + s - 1) > 0) math.min(stats(base + s), sufMin(sb + 1))
            else sufMin(sb + 1)
          sb -= 1
        }
        java.util.Arrays.fill(left, 0.0)
        var leftMax = Double.MinValue // max routed value in bins <= bi
        var bi = 0
        while (bi < ts.length) { // split after bin bi at threshold ts(bi)
          val base = ((base0 + fp) * stride + bi) * cs
          if (stats(base + s - 1) > 0 && stats(base + s + 1) > leftMax)
            leftMax = stats(base + s + 1)
          var j = 0
          while (j < s) { left(j) += stats(base + j); j += 1 }
          val lCount = left(s - 1); val rCount = tot(s - 1) - lCount
          if (lCount > 0 && rCount > 0) {
            val score = scoreLeft()
            if (score < bestScore) {
              bestScore = score; bestFeat = f
              bestThr = (leftMax + sufMin(bi + 1)) / 2
            }
          }
          bi += 1
        }
      }
      fp += 1
    }

    if (bestFeat < 0) { mkLeaf(); return }
    node.feature = bestFeat
    node.thr = bestThr
    node.left = new BNode(node.tree, node.depth + 1, node.uid * 2)
    node.right = new BNode(node.tree, node.depth + 1, node.uid * 2 + 1)
    next += node.left
    next += node.right
  }
}
