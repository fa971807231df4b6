package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.{ConstantModel, Learner, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix

/** One-vs-rest / one-vs-one meta-estimators (reference `multiclass.py`).
  *
  * The task axis is the class (or class pair); the matrix is broadcast
  * once. Class fan-out is keyed, not positional — models come back as
  * (classLabel, model) pairs and are reassembled by sorting the key
  * (replacing `multiclass.py:332-334`'s argsort reorder).
  */
object Multiclass {
  /** predict_proba row normalization (`multiclass.py:337-362`). */
  private[search] def normalize(raw: Array[Double],
                                norm: Option[String]): Array[Double] =
    norm match {
      case Some("l1") =>
        val s = raw.map(math.abs).sum
        if (s == 0) raw else raw.map(_ / s)
      case Some("l2") =>
        val s = math.sqrt(raw.map(v => v * v).sum)
        if (s == 0) raw else raw.map(_ / s)
      case Some("max") =>
        val s = raw.map(math.abs).max
        if (s == 0) raw else raw.map(_ / s)
      case _ => raw
    }

  /** Rows of one binary problem (reference `_negatives_mask`,
    * `multiclass.py:76-106`): every positive, plus the negatives an
    * optional cap keeps — `v` x the negatives ("ratio") or x the
    * positives ("multiplier"), drawn by a seeded shuffle, in row order.
    */
  private[search] def negativesMask(n: Int, isPos: Int => Boolean,
                                    maxNeg: Option[Double], method: String,
                                    seed: Long): Array[Int] = {
    val posIdx = (0 until n).filter(isPos)
    val negIdxAll = (0 until n).filter(!isPos(_))
    val negIdx = maxNeg match {
      case Some(v) =>
        val cap = method match {
          case "multiplier" => math.min(negIdxAll.size, (v * posIdx.size).toInt)
          case _            => math.min(negIdxAll.size, (v * negIdxAll.size).toInt)
        }
        if (cap >= negIdxAll.size) negIdxAll
        else new scala.util.Random(seed).shuffle(negIdxAll.toVector).take(cap).sorted
      case None => negIdxAll
    }
    (posIdx ++ negIdx).toArray
  }

  /** Per-class positive probability from a fitted binary model. */
  private[search] def positiveProba(m: Model, x: Array[Double]): Double = {
    val p = m.predictProba(x)
    if (p.length > 1) p(1) else p(0)
  }
}

final case class OvRModel(classes: Array[Double], models: Array[Model],
                          norm: Option[String]) extends Model {

  /** Stacked per-class positive probabilities, optionally row-normalized
    * (`multiclass.py:337-362`).
    */
  def predictProba(x: Array[Double]): Array[Double] =
    Multiclass.normalize(models.map(Multiclass.positiveProba(_, x)), norm)

  def predict(x: Array[Double]): Double = {
    val p = predictProba(x)
    var b = 0; var i = 1
    while (i < p.length) { if (p(i) > p(b)) b = i; i += 1 }
    classes(b)
  }
}

class DistOneVsRest(learner: Learner,
                    norm: Option[String] = None,
                    maxNegatives: Option[Double] = None,
                    negMethod: String = "ratio",
                    seed: Long = 42)
    extends Serializable with BroadcastBudgeted with FitSideConfigured
    with JobParallel {

  // validated at construction: the broadcast route's method match had a
  // catch-all that silently treated a typo'd method as "ratio" while
  // the data-parallel route's negativesMask throws for the same value —
  // same constructor args, route-dependent semantics
  require(negMethod == "ratio" || negMethod == "multiplier",
    s"unknown negMethod '$negMethod' (expected 'ratio' or 'multiplier')")

  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): OvRModel = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, 1, seed,
        stratified = false)
      fitMatrix(spark, matrix)
    } else fitDataParallel(spark, df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route: one DISTRIBUTED `DataParallelFit` per
    * class (each fit already uses the whole cluster; classes are
    * submitted `jobParallelism` at a time). Negatives are capped by the
    * same `_negatives_mask` plan as the broadcast path, so the returned
    * OvRModel is indistinguishable from the broadcast route's.
    */
  private def fitDataParallel(spark: SparkSession, df: DataFrame,
                              featuresCol: String, labelCol: String): OvRModel = {
    DataParallelFit.requireSupported(learner)
    import org.apache.spark.sql.functions.{col, lit, when, min, max}
    // cached, like the sibling OvO/multilabel routes: every per-class
    // job (inventory, negativesMask counts, degenerate agg, the fit's
    // own passes) would otherwise re-execute the full upstream lineage —
    // and the seeded negative SAMPLE would be recomputed independently
    // by the degenerate check and the fit, which under upstream
    // nondeterminism could hand them different samples
    val labeled = df.select(col(featuresCol), col(labelCol).cast("double").as("_y"))
      .cache()
    try {
      // class inventory and row count in one pass
      val counts = labeled.groupBy("_y").count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val classes = counts.keys.toArray.sorted
      // per-class fits are independent distributed jobs — submit them
      // concurrently (see `JobParallel`); order-preserving, so the
      // class->model alignment is identical to the sequential loop
      val models: Array[Model] =
        graft.ops.Par.concurrently(classes.toSeq, jobParallelism) { c =>
        val capped = maxNegatives match {
          case Some(v) => graft.plan.Expansions
            .negativesMask(labeled, "_y", c, v, negMethod, seed + c.toLong)
          case None => labeled
        }
        val bin = capped.withColumn("_y",
          when(col("_y") === lit(c), 1.0).otherwise(0.0))
        // With >= 2 observed classes, both binary labels are guaranteed
        // present UNLESS the negative cap sampled zero negatives — so the
        // degenerate-binary check only runs under a cap (and as a min/max
        // agg, not a full distinct-shuffle per class over the data).
        val degenerate = classes.length < 2 || (maxNegatives.isDefined && {
          val r = bin.agg(min("_y"), max("_y")).head()
          r.getDouble(0) == r.getDouble(1)
        })
        if (degenerate) ConstantModel(1.0, 2) // single-class: constant positive
        // Map.empty: DataParallelFit supplies the engine default c=1
        // (regParam = 1/n), matching the broadcast route's lrn.fit defaults.
        // Labels {0, 1}: two classes, no label scan; uncapped, every row.
        else DataParallelFit.fit(learner, bin, featuresCol, "_y",
          Map.empty, seed + c.toLong,
          nRows = if (maxNegatives.isEmpty) counts.values.sum else -1L,
          nClasses = Some(2))
      }.toArray
      OvRModel(classes, models, norm)
    } finally labeled.unpersist(blocking = false)
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): OvRModel = {
    val classes = matrix.y.distinct.sorted
    val lrn = learner
    val maxNeg = maxNegatives
    val method = negMethod
    val baseSeed = seed
    val side = fitSide
    val models = ModelParallel.fanOut(spark, matrix, classes.toSeq) { (m, c) =>
      // Binary problem: positives = class c; optional negative cap.
      val idx = Multiclass.negativesMask(m.nRows, m.y(_) == c, maxNeg, method,
        baseSeed + c.toLong)
      val x = idx.map(m.x)
      val yBin = idx.map(i => if (m.y(i) == c) 1.0 else 0.0)
      if (yBin.distinct.length < 2) ConstantModel(yBin.headOption.getOrElse(0.0), 2)
      else {
        // the eval slice's labels live in the ORIGINAL class space —
        // remap into this class's binary problem before monitoring
        val sideC =
          if (!side.hasEarlyStopping) side
          else side.copy(evalY = side.evalY.map(v =>
            if (v == c) 1.0 else 0.0))
        lrn.fit(x, yBin, Map.empty, baseSeed + c.toLong, sideC)
      }
    }
    OvRModel(classes, models, norm)
  }
}

/** Multilabel OvR model (the reference's headline OvR use case): one
  * fitted binary model per class over a label-SET target. `predictLabels`
  * mirrors sklearn's multilabel `OneVsRestClassifier.predict` — each
  * binary estimator votes independently (its own argmax, i.e. positive
  * proba > 0.5) and the predicted set is the classes voting positive;
  * normalization applies only to the stacked `predictProba` surface,
  * never to set membership (`multiclass.py:337-362` normalizes proba
  * output only).
  */
final case class MultilabelOvRModel(classes: Array[String],
                                    models: Array[Model],
                                    norm: Option[String]) extends Serializable {

  def predictProba(x: Array[Double]): Array[Double] =
    Multiclass.normalize(models.map(Multiclass.positiveProba(_, x)), norm)

  def predictLabels(x: Array[Double]): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < models.length) {
      if (models(i).predict(x) == 1.0) out += classes(i)
      i += 1
    }
    out.result()
  }
}

/** Multilabel one-vs-rest (`multiclass.py:195-335` with the
  * `MultiLabelBinarizer` path of `fit`, `multiclass.py:267-274`): `y` is
  * an `array<string>` label-set column; classes are the sorted distinct
  * labels (MultiLabelBinarizer.classes_); each class becomes one binary
  * problem (row positive iff its set contains the class) fanned out
  * task-parallel against the broadcast matrix, with the same optional
  * negative cap as the single-label path (`_negatives_mask`).
  *
  * The reference's `mlb_override` ctor flag (y already binarized,
  * `multiclass.py:228-230, 269`) is `fitBinarized`.
  */
class DistMultilabelOvR(learner: Learner,
                        norm: Option[String] = None,
                        maxNegatives: Option[Double] = None,
                        negMethod: String = "ratio",
                        seed: Long = 42)
    extends Serializable with BroadcastBudgeted with JobParallel {

  require(negMethod == "ratio" || negMethod == "multiplier", // see DistOneVsRest
    s"unknown negMethod '$negMethod' (expected 'ratio' or 'multiplier')")

  /** Auto-routed fit: task-parallel per-class fits against broadcast
    * (x, label-sets) under the budget; one data-parallel binary fit per
    * class over the DataFrame past it — the label test becomes an
    * `array_contains` column, so rows never reach the driver.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): MultilabelOvRModel = {
    import org.apache.spark.sql.functions.col
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) > broadcastBudgetBytes)
      return fitDataParallel(spark, df, featuresCol, labelCol)
    val rows = df.select(col(featuresCol).cast("array<double>"),
      col(labelCol).cast("array<string>")).collect()
    val x = rows.map(_.getSeq[Double](0).toArray)
    val y = rows.map(r =>
      if (r.isNullAt(1)) Set.empty[String]
      else r.getSeq[String](1).filter(_ != null).toSet)
    fitSets(spark, x, y)
  }

  private def fitDataParallel(spark: SparkSession, df: DataFrame,
                              featuresCol: String,
                              labelCol: String): MultilabelOvRModel = {
    import org.apache.spark.sql.functions._
    DataParallelFit.requireSupported(learner)
    val labeled = df.select(
      col(featuresCol).cast("array<double>").as("_x"),
      col(labelCol).cast("array<string>").as("_ls")).cache()
    try {
      val n = labeled.count()
      // class inventory + positive ROW counts per class in ONE exploded
      // pass (the class list is small — it's the label vocabulary, not
      // the data). array_distinct first: a duplicate label INSIDE one
      // row's set would otherwise count twice and a class could reach
      // posCounts == n with true negatives still present — falsely
      // degenerate, replacing a real fit with ConstantModel(1.0).
      val posCounts = labeled
        .select(explode(array_distinct(col("_ls"))).as("_c"))
        .filter(col("_c").isNotNull)
        .groupBy("_c").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val classes = posCounts.keys.toArray.sorted // MultiLabelBinarizer order
      // independent per-class fits -> concurrent job submission (JobParallel)
      val models: Array[Model] =
        graft.ops.Par.concurrently(classes.toSeq, jobParallelism) { c =>
        val bin = labeled.withColumn("_y",
          when(array_contains(col("_ls"), c), 1.0).otherwise(0.0))
        val capped = maxNegatives match {
          case Some(v) => graft.plan.Expansions
            .negativesMask(bin, "_y", 1.0, v, negMethod, seed + c.hashCode)
          case None => bin
        }
        // degenerate binary: the class labels EVERY row (multilabel sets
        // don't partition rows, so all-positive is legal), or the negative
        // cap sampled zero negatives — same constant-model containment as
        // the broadcast path
        val degenerate = posCounts(c) == n || (maxNegatives.isDefined && {
          val r = capped.agg(min("_y"), max("_y")).head()
          r.getDouble(0) == r.getDouble(1)
        })
        if (degenerate) ConstantModel(1.0, 2)
        // Map.empty: DataParallelFit supplies the engine default c=1
        // (regParam = 1/n), matching the broadcast route's lrn.fit
        // defaults — same convention as the OvR/OvO routes.
        else DataParallelFit.fit(learner, capped, "_x", "_y",
          Map.empty, seed + c.hashCode,
          nRows = if (maxNegatives.isEmpty) n else -1L, nClasses = Some(2))
      }.toArray
      MultilabelOvRModel(classes, models, norm)
    } finally labeled.unpersist(blocking = false)
  }

  /** `mlb_override`: y already one-hot, one column per entry of `classes`
    * (`multiclass.py:228-230, 269` — the caller PINS the class axis).
    * The caller's classes are used verbatim, in the caller's order: an
    * all-zero indicator column still gets its (constant-negative)
    * estimator slot, and `predictProba`'s width equals the indicator
    * width — re-deriving classes from the observed sets would silently
    * drop such columns and misalign every consumer of the proba stack.
    */
  def fitBinarized(spark: SparkSession, x: Array[Array[Double]],
                   yIndicator: Array[Array[Double]],
                   classes: Array[String]): MultilabelOvRModel = {
    require(yIndicator.forall(_.length == classes.length),
      "indicator width must equal the class count")
    require(classes.distinct.length == classes.length,
      "duplicate class names in the pinned class axis")
    val sets = yIndicator.map(row =>
      classes.indices.collect { case i if row(i) == 1.0 => classes(i) }.toSet)
    fitSetsWithClasses(spark, x, sets, classes)
  }

  def fitSets(spark: SparkSession, x: Array[Array[Double]],
              y: Array[Set[String]]): MultilabelOvRModel =
    fitSetsWithClasses(spark, x, y,
      y.flatMap(_.iterator).distinct.sorted) // MultiLabelBinarizer order

  private def fitSetsWithClasses(spark: SparkSession, x: Array[Array[Double]],
                                 y: Array[Set[String]],
                                 classes: Array[String]): MultilabelOvRModel = {
    require(x.length == y.length, "x and y row counts differ")
    require(x.nonEmpty, "empty training set")
    val lrn = learner
    val maxNeg = maxNegatives
    val method = negMethod
    val baseSeed = seed
    // models come back aligned to the PINNED class axis (caller order for
    // fitBinarized, sorted for fitSets)
    val models = ModelParallel.fanOut(spark, (x, y), classes.toSeq) {
      case ((xs, sets), c) =>
        val idx = Multiclass.negativesMask(sets.length, sets(_).contains(c),
          maxNeg, method, baseSeed + c.hashCode)
        val xb = idx.map(xs)
        val yBin = idx.map(i => if (sets(i).contains(c)) 1.0 else 0.0)
        if (yBin.distinct.length < 2) ConstantModel(yBin.headOption.getOrElse(0.0), 2)
        else lrn.fit(xb, yBin, Map.empty, baseSeed + c.hashCode)
    }
    MultilabelOvRModel(classes, models, norm)
  }
}

/** OvO: majority vote over all n(n-1)/2 pairwise binary problems; vote
  * ties broken by accumulated pairwise confidence margins, then by the
  * smallest class — sklearn's `_ovr_decision_function` semantics, which
  * the reference inherits (`multiclass.py:365-475`): confidences are
  * squashed small enough that they can only reorder within a vote tie.
  */
final case class OvOModel(classes: Array[Double],
                          pairs: Array[(Double, Double)],
                          models: Array[Model]) extends Model {
  def predict(x: Array[Double]): Double = {
    val votes = scala.collection.mutable.Map.empty[Double, Int].withDefaultValue(0)
    val conf = scala.collection.mutable.Map.empty[Double, Double].withDefaultValue(0.0)
    var i = 0
    while (i < pairs.length) {
      val (a, b) = pairs(i)
      val p = models(i).predictProba(x)
      val margin = (if (p.length > 1) p(1) else p(0)) * 2 - 1 // >0 favors b
      if (margin <= 0) votes(a) += 1 else votes(b) += 1
      conf(a) -= margin
      conf(b) += margin
      i += 1
    }
    classes.minBy(c => (-votes(c), -conf(c), c))
  }
  // built once: a per-pair boxed indexOf over classes made every scored
  // row O(k³) at serving time (4,950 pairs × a 100-element linear scan)
  @transient private lazy val classIndex: Map[Double, Int] =
    classes.zipWithIndex.toMap

  def predictProba(x: Array[Double]): Array[Double] = {
    // Normalized vote shares (sklearn OvO has no predict_proba; the
    // reference inherits decision_function — vote share is our analog).
    val votes = new Array[Double](classes.length)
    var i = 0
    while (i < pairs.length) {
      val (a, b) = pairs(i)
      val winner = if (models(i).predict(x) == 0.0) a else b
      votes(classIndex(winner)) += 1
      i += 1
    }
    val s = votes.sum
    if (s == 0) votes else votes.map(_ / s)
  }
}

class DistOneVsOne(learner: Learner, seed: Long = 42)
    extends Serializable with BroadcastBudgeted with FitSideConfigured
    with JobParallel {

  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): OvOModel = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, 1, seed,
        stratified = false)
      fitMatrix(spark, matrix)
    } else fitDataParallel(spark, df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route: one DISTRIBUTED binary fit per class pair.
    * Each pair restricts the DataFrame to its two classes — a filter, so
    * rows never reach the driver — and remaps to {0, 1}: the same
    * `_fit_ovo_binary` plan as the broadcast path (`multiclass.py:155-172`)
    * with `DataParallelFit` as the executor. The pair axis submits up to
    * `jobParallelism` concurrent Spark jobs (`Par.concurrently`) —
    * at 100 classes the 4,950 pair fits would otherwise run strictly one
    * after another, forfeiting the pair-axis parallelism the broadcast
    * regime (and the reference, `multiclass.py:440-459`) has; pair fits
    * are independent, so concurrent submission changes nothing about the
    * models, only the wall clock. Both classes of a pair are present by
    * construction (they come from the observed-label inventory), so the
    * degenerate-binary containment of the broadcast path has nothing to
    * contain here.
    */
  private def fitDataParallel(spark: SparkSession, df: DataFrame,
                              featuresCol: String, labelCol: String): OvOModel = {
    import org.apache.spark.sql.functions.{col, lit, when}
    DataParallelFit.requireSupported(learner)
    val labeled = df.select(col(featuresCol).as("_x"),
      col(labelCol).cast("double").as("_y")).cache()
    try {
      val counts = labeled.groupBy("_y").count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val classes = counts.keys.toArray.sorted
      val pairs = for {
        i <- classes.indices
        j <- (i + 1) until classes.length
      } yield (classes(i), classes(j))
      val models: Seq[Model] =
        graft.ops.Par.concurrently(pairs, jobParallelism) { case (a, b) =>
          val bin = labeled
            .filter(col("_y") === lit(a) || col("_y") === lit(b))
            .withColumn("_y", when(col("_y") === lit(a), 0.0).otherwise(1.0))
          // Map.empty: DataParallelFit supplies the engine default c=1
          // (regParam = 1/n), matching the broadcast route's lrn.fit defaults.
          DataParallelFit.fit(learner, bin, "_x", "_y", Map.empty, seed,
            nRows = counts(a) + counts(b), nClasses = Some(2))
        }
      OvOModel(classes, pairs.toArray, models.toArray)
    } finally labeled.unpersist(blocking = false)
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): OvOModel = {
    val classes = matrix.y.distinct.sorted
    val pairs = for {
      i <- classes.indices
      j <- (i + 1) until classes.length
    } yield (classes(i), classes(j))
    val lrn = learner
    val baseSeed = seed
    val side = fitSide
    val models = ModelParallel.fanOut(spark, matrix, pairs) { case (m, (a, b)) =>
      // Restrict to the two classes, remap to {0, 1}
      // (`_fit_ovo_binary`, multiclass.py:155-172).
      val idx = m.y.indices.filter(i => m.y(i) == a || m.y(i) == b).toArray
      val x = idx.map(m.x)
      val yBin = idx.map(i => if (m.y(i) == a) 0.0 else 1.0)
      // eval slice restricted + remapped into the pair's {0, 1} space
      val sideP =
        if (!side.hasEarlyStopping) side
        else {
          val ei = side.evalY.indices
            .filter(i => side.evalY(i) == a || side.evalY(i) == b)
          side.copy(evalX = ei.map(side.evalX).toArray,
            evalY = ei.map(i => if (side.evalY(i) == a) 0.0 else 1.0).toArray)
        }
      if (yBin.distinct.length < 2) ConstantModel(yBin.headOption.getOrElse(0.0), 2)
      else lrn.fit(x, yBin, Map.empty, baseSeed, sideP)
    }
    OvOModel(classes, pairs.toArray, models)
  }
}
