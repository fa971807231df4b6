package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag
import scala.util.Random

/** Model-parallel executor: the engine's core inversion (SURVEY.md §1.1) —
  * the TRAINING DATA is broadcast once per node, the TASK axis (candidates
  * × folds × classes × seeds × subsets) is what Spark parallelizes.
  *
  * Scale story: this is the reference's regime (X fits in executor memory;
  * tasks are heavy and few), and it is exactly where task-parallelism beats
  * data-parallel fits by 10-100× (BASELINE.md). When X outgrows broadcast
  * (~the 100 TB data plane), the meta-estimators' relational skeletons
  * (fold columns, CvResults, rank/best) keep working over data-parallel
  * per-task fits — the planners and aggregations in graft.plan/graft.agg
  * are already pure DataFrame ops.
  */
object ModelParallel {

  /** Driver-side training matrix + fold assignment. With
    * `precomputedKernel` (the reference's `utils.py:171-209` square-matrix
    * `_safe_split` corner) `x` is an n x n kernel/gram matrix and fold
    * slicing selects COLUMNS as well as rows — fit sees K[train, train],
    * scoring sees K[test, train] — so kernel-feature estimators (kernel
    * logistic, kernel SVM surrogates) CV correctly: a row-only slice
    * would leak test columns into the fit and misalign test features
    * against the fitted coefficients. Empty or ragged matrices fail here,
    * not as an `empty.max` deep inside some surface's fit.
    */
  final case class TrainMatrix(x: Array[Array[Double]], y: Array[Double],
                               folds: Array[Int],
                               precomputedKernel: Boolean = false) {
    require(x.nonEmpty, "empty training set")
    require(y.length == x.length && folds.length == x.length,
      s"ragged training matrix: ${x.length} rows, ${y.length} labels, " +
        s"${folds.length} fold ids")
    if (precomputedKernel)
      require(x.forall(_.length == x.length),
        s"precomputed kernel must be square (n x n), got rows of widths " +
          s"${x.map(_.length).distinct.take(3).mkString(",")} for n=${x.length}")
    def nRows: Int = x.length
    /** The tree learners' presorted view of `x` ([[CART.TreeView]]).
      * Transient: broadcasts ship `x` alone and each executor builds the
      * view from its copy the first time a tree task asks, so every tree
      * on that executor shares it (in local mode that copy IS this
      * driver object, and the view lives as long as it does).
      */
    @transient lazy val treeView: CART.TreeView = CART.TreeView(x)
    private def slice(rows: Seq[Int], trainIdx: Seq[Int]): Array[Array[Double]] =
      if (!precomputedKernel) rows.map(x).toArray
      else rows.map(i => trainIdx.map(j => x(i)(j)).toArray).toArray
    def trainOf(fold: Int): (Array[Array[Double]], Array[Double]) = {
      val idx = (0 until nRows).filter(folds(_) != fold)
      (slice(idx, idx), idx.map(y).toArray)
    }
    def testOf(fold: Int): (Array[Array[Double]], Array[Double]) = {
      val te = (0 until nRows).filter(folds(_) == fold)
      val tr = (0 until nRows).filter(folds(_) != fold)
      (slice(te, tr), te.map(y).toArray)
    }
  }

  /** Collect (featuresCol: array<numeric>, labelCol) to a driver matrix.
    * Explicit cast to array<double>/double so float parquet vectors and
    * int labels marshal uniformly.
    */
  def collectMatrix(df: DataFrame, featuresCol: String, labelCol: String,
                    cv: Int, seed: Long, stratified: Boolean = true): TrainMatrix = {
    val rows = df.select(col(featuresCol).cast("array<double>"),
      col(labelCol).cast("double")).collect()
    val x = rows.map(_.getSeq[Double](0).toArray)
    val y = labels(rows, labelCol)
    TrainMatrix(x, y, if (stratified) stratifiedFolds(y, cv, seed) else shuffledFolds(y.length, cv, seed))
  }

  /** The collected rows' labels (field 1); a null label fails loudly,
    * naming the column, before any fit.
    */
  private def labels(rows: Array[Row], labelCol: String): Array[Double] =
    rows.map { r =>
      if (r.isNullAt(1)) throw new IllegalArgumentException(
        s"label column '$labelCol' has null labels; drop or fill them before fitting")
      r.getDouble(1)
    }

  /** Estimated driver/broadcast footprint of collecting the matrix:
    * rows x (d doubles + row overhead). One cheap agg — the guard the
    * auto-routing fit surfaces use to decide broadcast vs data-parallel
    * BEFORE collecting anything.
    */
  def estimateMatrixBytes(df: DataFrame, featuresCol: String): Long = {
    val r = df.agg(count(lit(1)).as("n"),
      first(size(col(featuresCol)), ignoreNulls = true).as("d")).head()
    val n = r.getLong(0)
    val d = if (r.isNullAt(1)) 0L else r.getInt(1).toLong
    n * (d + 4L) * 8L
  }

  /** Group-aware matrix collection: folds from sklearn-GroupKFold
    * semantics over `groupCol` — every row of a group in ONE fold.
    */
  def collectMatrixGrouped(df: DataFrame, featuresCol: String,
                           labelCol: String, groupCol: String,
                           cv: Int): TrainMatrix = {
    val rows = df.select(col(featuresCol).cast("array<double>"),
      col(labelCol).cast("double"), col(groupCol).cast("string")).collect()
    val x = rows.map(_.getSeq[Double](0).toArray)
    val y = labels(rows, labelCol)
    val groups = rows.map(_.getString(2))
    TrainMatrix(x, y, groupKFolds(groups, cv))
  }

  /** sklearn GroupKFold: deterministic greedy balancing — groups sorted
    * by sample count (largest first, key as tie-break) each go to the
    * currently-lightest fold. No group straddles folds.
    */
  def groupKFolds(groups: Array[String], k: Int): Array[Int] = {
    require(k > 1, "need k > 1 folds")
    val counts = groups.groupBy(identity).map { case (g, m) => (g, m.length) }
    require(counts.size >= k,
      s"need at least $k distinct groups for $k folds, got ${counts.size}")
    val loads = new Array[Long](k)
    val assign = scala.collection.mutable.Map.empty[String, Int]
    counts.toSeq.sortBy { case (g, n) => (-n, g) }.foreach { case (g, n) =>
      val f = loads.indices.minBy(loads(_))
      assign(g) = f
      loads(f) += n
    }
    groups.map(assign)
  }

  /** Seeded shuffled round-robin folds (sklearn KFold(shuffle=True)). */
  def shuffledFolds(n: Int, k: Int, seed: Long): Array[Int] = {
    val order = new Random(seed).shuffle((0 until n).toVector)
    val folds = new Array[Int](n)
    order.zipWithIndex.foreach { case (row, pos) => folds(row) = pos % k }
    folds
  }

  /** Stratified folds: round-robin within each class after a seeded
    * shuffle, so every fold sees the class distribution (sklearn
    * StratifiedKFold semantics, not bit-identical splits).
    */
  def stratifiedFolds(y: Array[Double], k: Int, seed: Long): Array[Int] = {
    val rng = new Random(seed)
    val folds = new Array[Int](y.length)
    y.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, members) =>
      val order = rng.shuffle(members.map(_._2).toVector)
      order.zipWithIndex.foreach { case (row, pos) => folds(row) = pos % k }
    }
    folds
  }

  /** The one broadcast fan-out of every broadcast-regime fit surface (the
    * reference's `skdist/distribute/base.py`): `data` is broadcast once,
    * each item becomes its own task — one per partition, the reference's
    * 'auto' heuristic (`base.py:53-64`: fit tasks are heavy and few, so
    * the scheduling unit IS the task) — and `body` runs against the
    * executor's copy. Results are collected eagerly, so nothing lazy
    * outlives the call and the broadcast is destroyed on every path,
    * a throwing task included. Task seeds stay with the callers: each
    * surface's seed formula is part of the models it returns.
    */
  private[graft] def fanOut[D: ClassTag, T: ClassTag, R: ClassTag](
      spark: SparkSession, data: D, items: Seq[T])(body: (D, T) => R): Array[R] = {
    val bc = spark.sparkContext.broadcast(data)
    try spark.sparkContext.parallelize(items, math.max(1, items.size))
      .map(t => body(bc.value, t)).collect()
    finally bc.destroy()
  }
}
