package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{ConstantModel, FitSideData, Learner, Model, ModelParallel}
import graft.exec.ModelParallel.TrainMatrix

/** One-vs-rest / one-vs-one meta-estimators (reference `multiclass.py`).
  *
  * The task axis is the class (or class pair); every surface fits its
  * binary problems through the one [[Decomposition]] loop. Models come
  * back aligned to the task axis — sorted classes, the caller's pinned
  * classes, or sorted class pairs — replacing `multiclass.py:332-334`'s
  * argsort reorder.
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
    * `multiclass.py:76-106`): every positive of `rows`, plus the negatives
    * an optional cap keeps — `v` x the negatives ("ratio") or x the
    * positives ("multiplier"), drawn by a seeded shuffle, in row order.
    */
  private[search] def negativesMask(rows: IndexedSeq[Int], isPos: Int => Boolean,
                                    maxNeg: Option[Double], method: String,
                                    seed: Long): Array[Int] = {
    val posIdx = rows.filter(isPos)
    val negIdxAll = rows.filterNot(isPos)
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

  /** OvO's task axis in both regimes: every class pair (a, b), a < b. */
  private[search] def pairs(classes: Seq[Double]): IndexedSeq[(Double, Double)] =
    for {
      i <- classes.indices
      j <- (i + 1) until classes.length
    } yield (classes(i), classes(j))
}

/** The one decomposition loop of OvR, multilabel OvR and OvO — the
  * reference's binarize-then-fan-out `DistOneVsRestClassifier.fit`
  * (`multiclass.py:267-331`), as [[SearchLoop]] is the search's. A
  * surface keeps its task axis, each task's label rule and seed, and its
  * [[Decomposition.Rows]]; the loop owns the rest of both regimes.
  */
private[search] object Decomposition {
  /** How a binary problem takes its member rows: `NegativesMask` (OvR,
    * multilabel OvR; reference `_negatives_mask`) puts the positives
    * first, then the negatives an optional cap keeps; `InOrder` (OvO's
    * `_fit_ovo_binary`, `multiclass.py:155-172`) keeps row order, uncapped.
    */
  sealed trait Rows
  final case class NegativesMask(maxNegatives: Option[Double], method: String)
      extends Rows {
    // checked at construction: a typo'd method fails before any fit
    require(method == "ratio" || method == "multiplier",
      s"unknown negMethod '$method' (expected 'ratio' or 'multiplier')")
  }
  case object InOrder extends Rows

  /** A binary problem of the broadcast regime: rows whose label is a
    * `member` take part, the `positive` ones as class 1.0, the rest 0.0;
    * `seed` seeds its cap and its fit.
    */
  final case class Problem[L](member: L => Boolean, positive: L => Boolean,
                              seed: Long)

  /** The same over the data-parallel `_y` column (`member` None: every
    * row); `nPos`/`nNeg` count its rows before the cap, off the inventory.
    */
  final case class DpProblem(member: Option[Column], positive: Column,
                             nPos: Long, nNeg: Long, seed: Long)

  /** `n` rows and, per class, the rows it labels. */
  final case class Inventory[C](n: Long, counts: Map[C, Long])(
      implicit ord: Ordering[C]) {
    val classes: IndexedSeq[C] = counts.keys.toIndexedSeq.sorted
  }

  /** A data-parallel label column: its cast, and its class inventory off
    * the cached frame.
    */
  final case class Shape[C](cast: String,
                            inventory: (DataFrame, String) => Inventory[C])

  /** Single labels, one grouped pass; a null label fails loudly, naming
    * the column, before any fit.
    */
  val SingleLabel: Shape[Double] = Shape("double", (labeled, labelCol) => {
    val counts = labeled.groupBy("_y").count().collect()
    if (counts.exists(_.isNullAt(0))) throw new IllegalArgumentException(
      s"label column '$labelCol' has null labels; drop or fill them before fitting")
    val byClass = counts.map(r => r.getDouble(0) -> r.getLong(1)).toMap
    Inventory(byClass.values.sum, byClass)
  })

  /** Label sets; a null set has no labels. `array_distinct` first: a
    * label repeated in one set would count its row twice, and a class
    * could falsely label every row.
    */
  val LabelSets: Shape[String] = Shape("array<string>", (labeled, _) =>
    Inventory(labeled.count(), labeled.select(explode(array_distinct(col("_y"))).as("_c"))
      .filter(col("_c").isNotNull).groupBy("_c").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap))

  /** Broadcast regime over single labels: one `ModelParallel.fanOut` task
    * per problem; the eval slice of `side` goes through each problem's
    * rule into its {0, 1} space.
    */
  def broadcast(spark: SparkSession, m: TrainMatrix, learner: Learner,
                rows: Rows, side: FitSideData)(
      problems: Inventory[Double] => Seq[Problem[Double]])
      : (Inventory[Double], Array[Model]) = {
    val inv = Inventory(m.nRows.toLong,
      m.y.groupBy(identity).map { case (c, r) => c -> r.length.toLong })
    (inv, fanOut(spark, m.x, m.y, problems(inv), learner, rows) { p =>
      if (!side.hasEarlyStopping) side
      else {
        val ei = side.evalY.indices.filter(i => p.member(side.evalY(i)))
        side.copy(evalX = ei.map(side.evalX).toArray,
          evalY = ei.map(i => if (p.positive(side.evalY(i))) 1.0 else 0.0).toArray)
      }
    })
  }

  /** Broadcast regime over label sets: no side data (a label set has no
    * double label to remap, see `FitSideConfigured`).
    */
  def broadcastSets(spark: SparkSession, x: Array[Array[Double]],
                    y: Array[Set[String]], problems: Seq[Problem[Set[String]]],
                    learner: Learner, rows: Rows): Array[Model] =
    fanOut(spark, x, y, problems, learner, rows)(_ => FitSideData.empty)

  private def fanOut[L](spark: SparkSession, x: Array[Array[Double]], y: Array[L],
                        problems: Seq[Problem[L]], learner: Learner, rows: Rows)(
      sideOf: Problem[L] => FitSideData): Array[Model] =
    ModelParallel.fanOut(spark, (x, y), problems) { case ((xs, ys), p) =>
      val members = ys.indices.filter(i => p.member(ys(i)))
      val idx = rows match {
        case NegativesMask(maxNeg, method) =>
          Multiclass.negativesMask(members, i => p.positive(ys(i)), maxNeg,
            method, p.seed)
        case InOrder => members.toArray
      }
      val yBin = idx.map(i => if (p.positive(ys(i))) 1.0 else 0.0)
      if (yBin.distinct.length < 2) ConstantModel(yBin.headOption.getOrElse(0.0), 2)
      else learner.fit(idx.map(xs), yBin, Map.empty, p.seed, sideOf(p))
    }

  /** Data-parallel regime: one distributed `DataParallelFit` per problem
    * over the cached label frame, submitted `JobParallel.DefaultWidth` at
    * a time (order-preserving). A cap draws its negatives by
    * `Expansions.sampleNegatives` on the binarized frame at positive 1.0,
    * at the fraction the inventory's counts give.
    */
  def dataParallel[C](df: DataFrame, featuresCol: String, labelCol: String,
                      shape: Shape[C], learner: Learner, rows: Rows)(
      problems: Inventory[C] => Seq[DpProblem]): (Inventory[C], Seq[Model]) = {
    DataParallelFit.requireSupported(learner)
    // cached: every problem's jobs (the degenerate check, the fit's own
    // passes) would otherwise re-run the upstream
    // lineage, and under upstream nondeterminism the degenerate check
    // and the fit could see different seeded negative samples
    val labeled = df.select(col(featuresCol).cast("array<double>").as("_x"),
      col(labelCol).cast(shape.cast).as("_y")).cache()
    try {
      val inv = shape.inventory(labeled, labelCol)
      val models = graft.ops.Par.concurrently(problems(inv), JobParallel.DefaultWidth) { p =>
        val bin = p.member.fold(labeled)(m => labeled.filter(m))
          .withColumn("_y", when(p.positive, 1.0).otherwise(0.0))
        val capped = rows match {
          case NegativesMask(Some(v), method) =>
            // the inventory's counts: no count job per problem
            Some(graft.plan.Expansions.sampleNegatives(bin, "_y", 1.0,
              graft.plan.Expansions.negativesFraction(v, method, p.nPos, p.nNeg),
              p.seed))
          case _ => None
        }
        // degenerate: no negatives (one class, or a label set on every
        // row), or a cap that sampled none; classes are observed labels,
        // so positives always exist
        if (p.nNeg == 0 || capped.exists(_.agg(min("_y")).head().getDouble(0) == 1.0))
          ConstantModel(1.0, 2)
        // Map.empty: DataParallelFit supplies the engine default c=1
        // (regParam = 1/n), as the broadcast fits. Labels {0, 1}: no label
        // scan; uncapped, the inventory's row count.
        else DataParallelFit.fit(learner, capped.getOrElse(bin), "_x", "_y",
          Map.empty, p.seed, nRows = if (capped.isEmpty) p.nPos + p.nNeg else -1L,
          nClasses = Some(2))
      }
      (inv, models)
    } finally labeled.unpersist(blocking = false)
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
    extends Serializable with BroadcastBudgeted with FitSideConfigured {

  private val rows = Decomposition.NegativesMask(maxNegatives, negMethod)

  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): OvRModel = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, 1, seed,
        stratified = false)
      fitMatrix(spark, matrix)
    } else fitDataParallel(df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route: one distributed `DataParallelFit` per
    * class. The two regimes agree in distribution, not bit for bit: here
    * a negative cap keeps a Bernoulli `sample` of the negatives at a
    * fraction, where the broadcast regime takes exactly `cap` rows by a
    * seeded shuffle, and the logistic learner fits through Spark ML.
    */
  private def fitDataParallel(df: DataFrame, featuresCol: String,
                              labelCol: String): OvRModel = {
    val (inv, models) = Decomposition.dataParallel(df, featuresCol, labelCol,
        Decomposition.SingleLabel, learner, rows) { inv =>
      inv.classes.map(c => Decomposition.DpProblem(None, col("_y") === c,
        inv.counts(c), inv.n - inv.counts(c), seed + c.toLong))
    }
    OvRModel(inv.classes.toArray, models.toArray, norm)
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): OvRModel = {
    val (inv, models) = Decomposition.broadcast(spark, matrix, learner, rows,
        fitSide) { inv =>
      inv.classes.map(c =>
        Decomposition.Problem[Double](_ => true, _ == c, seed + c.toLong))
    }
    OvRModel(inv.classes.toArray, models, norm)
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
  * problem (row positive iff its set contains the class), with the same
  * optional negative cap as the single-label path (`_negatives_mask`).
  *
  * The reference's `mlb_override` ctor flag (y already binarized,
  * `multiclass.py:228-230, 269`) is `fitBinarized`.
  */
class DistMultilabelOvR(learner: Learner,
                        norm: Option[String] = None,
                        maxNegatives: Option[Double] = None,
                        negMethod: String = "ratio",
                        seed: Long = 42)
    extends Serializable with BroadcastBudgeted {

  private val rows = Decomposition.NegativesMask(maxNegatives, negMethod)

  /** Auto-routed fit: task-parallel per-class fits against broadcast
    * (x, label-sets) under the budget; one data-parallel binary fit per
    * class over the DataFrame past it — the label test becomes an
    * `array_contains` column, so rows never reach the driver.
    */
  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): MultilabelOvRModel = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) > broadcastBudgetBytes)
      return fitDataParallel(df, featuresCol, labelCol)
    val collected = df.select(col(featuresCol).cast("array<double>"),
      col(labelCol).cast("array<string>")).collect()
    val x = collected.map(_.getSeq[Double](0).toArray)
    val y = collected.map(r =>
      if (r.isNullAt(1)) Set.empty[String]
      else r.getSeq[String](1).filter(_ != null).toSet)
    fitSets(spark, x, y)
  }

  private def fitDataParallel(df: DataFrame, featuresCol: String,
                              labelCol: String): MultilabelOvRModel = {
    val (inv, models) = Decomposition.dataParallel(df, featuresCol, labelCol,
        Decomposition.LabelSets, learner, rows) { inv =>
      inv.classes.map(c => Decomposition.DpProblem(None,
        array_contains(col("_y"), c), inv.counts(c), inv.n - inv.counts(c),
        seed + c.hashCode))
    }
    MultilabelOvRModel(inv.classes.toArray, models.toArray, norm)
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
    // models come back aligned to the PINNED class axis (caller order for
    // fitBinarized, sorted for fitSets)
    val models = Decomposition.broadcastSets(spark, x, y,
      classes.toSeq.map(c => Decomposition.Problem[Set[String]](_ => true,
        _.contains(c), seed + c.hashCode)), learner, rows)
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
    extends Serializable with BroadcastBudgeted with FitSideConfigured {

  def fit(spark: SparkSession, df: DataFrame,
          featuresCol: String, labelCol: String): OvOModel = {
    if (ModelParallel.estimateMatrixBytes(df, featuresCol) <= broadcastBudgetBytes) {
      val matrix = ModelParallel.collectMatrix(df, featuresCol, labelCol, 1, seed,
        stratified = false)
      fitMatrix(spark, matrix)
    } else fitDataParallel(df, featuresCol, labelCol)
  }

  /** Broadcast-overflow route: one distributed binary fit per class pair
    * over the pair's rows — a filter, so rows never reach the driver —
    * remapped to {0, 1}, the broadcast path's `_fit_ovo_binary` plan
    * (`multiclass.py:155-172`). Both classes of a pair are observed
    * labels, so no pair is degenerate.
    */
  private def fitDataParallel(df: DataFrame, featuresCol: String,
                              labelCol: String): OvOModel = {
    val (inv, models) = Decomposition.dataParallel(df, featuresCol, labelCol,
        Decomposition.SingleLabel, learner, Decomposition.InOrder) { inv =>
      Multiclass.pairs(inv.classes).map { case (a, b) =>
        Decomposition.DpProblem(Some(col("_y") === a || col("_y") === b),
          col("_y") === b, inv.counts(b), inv.counts(a), seed)
      }
    }
    OvOModel(inv.classes.toArray, Multiclass.pairs(inv.classes).toArray,
      models.toArray)
  }

  def fitMatrix(spark: SparkSession, matrix: TrainMatrix): OvOModel = {
    val (inv, models) = Decomposition.broadcast(spark, matrix, learner,
        Decomposition.InOrder, fitSide) { inv =>
      Multiclass.pairs(inv.classes).map { case (a, b) =>
        Decomposition.Problem[Double](v => v == a || v == b, _ == b, seed)
      }
    }
    OvOModel(inv.classes.toArray, Multiclass.pairs(inv.classes).toArray, models)
  }
}
