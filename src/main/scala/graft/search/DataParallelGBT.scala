package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.{CART, FitSideData, GBT}

/** `GBT.boost` re-expressed for the broadcast-overflow regime: boosted
  * trees OVER data that doesn't fit a broadcast — the missing scale path
  * behind the reference's fit_params flagship (xgboost eval-set early
  * stopping through the search stack). Stages stay sequential (boosting
  * is additive by construction), but within a stage everything is
  * data-parallel:
  *
  *  - each stage's regression tree is a `DataParallelCART` histogram fit
  *    on the residual column (same induction the forest/search DP routes
  *    use, so the regime-parity guarantees carry over: identical splits
  *    on low-cardinality data);
  *  - Newton leaf steps are per-leaf (sum num, sum den) AGGREGATES — leaf
  *    routing happens executor-side against the broadcast stage tree,
  *    only <= nLeaves sums reach the driver;
  *  - the K>2 softmax trees of one stage are independent given the
  *    stage-start scores and fit as concurrent Spark jobs.
  *
  * Running scores are NEVER materialized as a column: stage m recomputes
  * F(x) executor-side from the broadcast model-so-far (`rawScores`,
  * O(m x depth) comparisons per row — trivial next to the histogram
  * passes, and it avoids rewriting a 100 TB score column once per stage,
  * which is what a `withColumn`/checkpoint design would do). The total
  * recompute over an M-stage fit is O(M² x depth) per row — at the
  * default depth-3 weak learners and M=50 that is ~10k comparisons per
  * row spread over the whole fit; the histogram aggregation dominates
  * by orders of magnitude.
  *
  * Same losses, priors, Newton formulas, per-(stage, class) seed mixing,
  * and `FitSideData` early-stopping semantics as the broadcast loop (the
  * eval slice is driver-resident in both regimes and `GBT.EvalMonitor`
  * is literally shared) — predictions agree with the broadcast fit up to
  * floating-point summation order on low-cardinality data (spec-pinned).
  * `subsample` draws a seeded per-row Bernoulli off a frozen row id —
  * distribution-equivalent to the broadcast loop's sequential draws, not
  * draw-for-draw (same documented trade as the forest route's Poisson
  * bootstrap).
  */
object DataParallelGBT {

  /** `nClasses`: 0 = regression, else >= 2. */
  def fit(df: DataFrame, featuresCol: String, labelCol: String,
          params: Map[String, Double], seed: Long, nClasses: Int,
          side: FitSideData = FitSideData.empty): GBT.GBTModel = {
    val spark = df.sparkSession
    val k = nClasses
    require(k == 0 || k >= 2, s"nClasses must be 0 (regression) or >= 2, got $k")
    val nStages = math.max(1, params.getOrElse("n_estimators", 50.0).toInt)
    val lr = params.getOrElse("learning_rate", 0.1)
    require(lr > 0, s"learning_rate must be > 0, got $lr")
    val subsample = params.getOrElse("subsample", 1.0)
    val treeParams = params + ("max_depth" ->
      params.getOrElse("max_depth", 3.0))

    val base0 = df.select(col(featuresCol).cast("array<double>").as("_x"),
      col(labelCol).cast("double").as("_y"))
    // cache BEFORE any stage touches it: the subsample hash keys off
    // monotonically_increasing_id, which is stable only while the
    // partitioning is — freezing the frame freezes the ids across all
    // stages (same discipline as Forest.oofProbaDF)
    val base = (if (subsample < 1.0)
      base0.withColumn("_rid", monotonically_increasing_id()) else base0)
      .cache()
    val n = base.count()
    require(n > 0, "empty training set")
    val nScores = if (k <= 2) 1 else k

    // prior: same formulas as GBT.boost, from aggregates; the label sum
    // merges in partition order like every other statistic of the fit
    def sumY: Double = DataParallelCART.orderedAggregate(
      base.select("_y").rdd.map(_.getDouble(0)), () => new Array[Double](1))(
      (a, y) => { a(0) += y; a }, (a, b) => { a(0) += b(0); a })(0)
    val prior = new Array[Double](nScores)
    if (k == 0) {
      prior(0) = sumY / n
    } else if (k == 2) {
      val p = math.min(1 - 1e-12, math.max(1e-12, sumY / n))
      prior(0) = math.log(p / (1 - p))
    } else {
      // integer counts: no merge order can change them
      val counts = base.groupBy("_y").count().collect()
        .map(r => r.getDouble(0).toInt -> r.getLong(1)).toMap
      var c = 0
      while (c < k) {
        prior(c) = math.log(math.max(1e-12, counts.getOrElse(c, 0L).toDouble / n))
        c += 1
      }
    }

    val stages = scala.collection.mutable.ArrayBuffer.empty[Array[CART.TreeModel]]
    def snapshot() = GBT.GBTModel(prior, stages.toArray, lr, k)
    val monitor = new GBT.EvalMonitor(side, prior, k, lr)

    // split candidates depend ONLY on the feature column, which never
    // changes across boosting stages (each stage refits on a new residual
    // LABEL) — compute once and reuse: every per-stage fitRegressor would
    // otherwise pay the three full-data candidate jobs (cardinality,
    // exact-distinct, quantiles) for byte-identical arrays, ~3 × nStages
    // redundant full scans per fit
    val stageCandidates = Some(
      DataParallelCART.splitCandidates(base, "_x", bins = 32))
    var m = 0
    var stop = false
    while (m < nStages && !stop) {
      // stage-start raw scores F(x) as ONE fused codegen'd expression
      // over the model-so-far's flattened node arrays (TreeEnsembleScore
      // reproduces GBTModel.rawScores' float order bit-for-bit) — the
      // arrays ride the stage's broadcast task binary, and the per-row
      // boxed-UDF serde the earlier broadcast-model route paid over the
      // full distributed frame per stage is gone
      val soFarRaw = graft.functions.TreeEnsembleScore.gbtRaw(
        col("_x"), snapshot())
      val wCol: Option[String] = stageWeightCol(base, subsample, n, seed, m)
      def withW(f: DataFrame): DataFrame = wCol match {
        case None => f
        case Some(w) => f.withColumn(w, weightExpr(subsample, seed, m))
      }
      val stage = new Array[CART.TreeModel](nScores)
      if (k == 0) {
        val fr = withW(base.withColumn("_r",
          col("_y") - element_at(soFarRaw, 1)))
        // squared loss: the regression tree's weighted-mean leaf IS the
        // optimal step, no Newton refit needed (mirrors GBT.boost)
        stage(0) = DataParallelCART.fitRegressor(fr, "_x", "_r", treeParams,
          GBT.mixSeed(seed, m, 0), weightCol = wCol,
          candidates = stageCandidates)
      } else if (k == 2) {
        // same double ops as the broadcast loop's sigmoid
        val fr = withW(base
          .withColumn("_p",
            lit(1.0) / (lit(1.0) + exp(-element_at(soFarRaw, 1))))
          .withColumn("_r", col("_y") - col("_p"))
          .withColumn("_den",
            greatest(col("_p") * (lit(1.0) - col("_p")), lit(1e-12))))
        val t = DataParallelCART.fitRegressor(fr, "_x", "_r", treeParams,
          GBT.mixSeed(seed, m, 0), weightCol = wCol,
          candidates = stageCandidates)
        newtonRefit(t, fr, wCol, scale = 1.0)
        stage(0) = t
      } else {
        // softmax probabilities from the STAGE-START scores, shared by
        // the K trees (mirrors GBT.boost: p computed once per stage);
        // Softmax is the same max-shifted loop the UDF ran, codegen'd
        val withP = base.withColumn("_ps",
          graft.functions.Softmax(soFarRaw))
        // the K class trees of one stage are independent given the
        // stage-start scores — concurrent job submission (JobParallel)
        val fitted = graft.ops.Par.concurrently(0 until k, JobParallel.DefaultWidth) { c =>
          val pc = element_at(col("_ps"), c + 1)
          val fr = withW(withP
            .withColumn("_r",
              when(col("_y") === lit(c.toDouble), 1.0).otherwise(0.0) - pc)
            .withColumn("_den",
              greatest(abs(col("_r")) * (lit(1.0) - abs(col("_r"))), lit(1e-12))))
          val t = DataParallelCART.fitRegressor(fr, "_x", "_r", treeParams,
            GBT.mixSeed(seed, m, c), weightCol = wCol,
            candidates = stageCandidates)
          newtonRefit(t, fr, wCol, scale = (k - 1).toDouble / k)
          t
        }
        fitted.zipWithIndex.foreach { case (t, c) => stage(c) = t }
      }
      stages += stage
      m += 1
      stop = monitor.afterStage(stage, stages.length)
    }
    base.unpersist(blocking = false)
    val full = snapshot()
    if (monitor.active) full.truncate(monitor.bestStages) else full
  }

  /** Seeded per-row Bernoulli(subsample) as a 0/1 weight expression —
    * deterministic off the frozen `_rid` across the fit/refit passes of
    * one stage, freshly seeded per stage (`GBT.weightSeed`, the
    * broadcast loop's own stage-weight stream).
    */
  private def weightExpr(subsample: Double, seed: Long, m: Int) =
    when(pmod(xxhash64(col("_rid"), lit(GBT.weightSeed(seed, m))),
        lit(1000000L)) < lit((subsample * 1000000L).toLong), 1.0)
      .otherwise(0.0)

  /** The broadcast loop guards "never an empty stage"; at data-parallel
    * row counts an empty Bernoulli draw is only plausible when
    * `subsample * n` is tiny, so only then is a count job spent — an
    * empty draw falls back to the full frame for that stage.
    */
  private def stageWeightCol(base: DataFrame, subsample: Double, n: Long,
                             seed: Long, m: Int): Option[String] =
    if (subsample >= 1.0) None
    else if (subsample * n >= 64) Some("_w")
    else {
      val sampled = base.filter(weightExpr(subsample, seed, m) > 0).count()
      if (sampled > 0) Some("_w") else None
    }

  /** Per-leaf Newton step via aggregation: leaf routing happens
    * executor-side against the broadcast tree; only the nLeaves
    * (num, den) sums reach the driver, merged in partition order
    * (`DataParallelCART.orderedAggregate`). Mutates leaf values in place —
    * the data-parallel twin of `GBT.newtonRefit` (same `num/den` step,
    * same 1e-150 guard, leaves no sampled row reached keep 0).
    */
  private def newtonRefit(tree: CART.TreeModel, frame: DataFrame,
                          wCol: Option[String], scale: Double): Unit = {
    // leaf routing as a fused expression over the flattened stage tree
    // (leaf ids are small ints, exact in double); flattening happens
    // BEFORE the in-place leaf mutation below, which only touches
    // values, never ids
    val leafCol = element_at(
      graft.functions.TreeEnsembleScore.leafId(col("_x"), tree), 1)
      .cast("int")
    val contributing = wCol match {
      case Some(w) => frame.filter(col(w) > 0)
      case None => frame
    }
    // (num, den) of leaf l at slots 2l, 2l + 1
    val sums = DataParallelCART.orderedAggregate(
      contributing.select(leafCol, col("_r"), col("_den")).rdd,
      () => new Array[Double](2 * tree.nLeaves))(
      (a, r) => {
        val l = 2 * r.getInt(0)
        a(l) += r.getDouble(1); a(l + 1) += r.getDouble(2); a
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    def walk(nd: CART.Node): Unit =
      if (nd.isLeaf) {
        val (num, den) = (sums(2 * nd.leafId), sums(2 * nd.leafId + 1))
        nd.value(0) = if (den > 1e-150) scale * num / den else 0.0
      } else { walk(nd.left); walk(nd.right) }
    walk(tree.root)
  }
}
