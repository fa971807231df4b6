package graft.predict

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Model

/** Distributed batch prediction (reference `predict.py`
  * `get_prediction_udf`): a fitted model, broadcast once, applied to a
  * DataFrame's feature column.
  *
  * Return-type rules mirror `predict.py:160-176`: `predict` emits an
  * int (class index) or string (when labels are provided) scalar;
  * `predict_proba` emits `array<double>`. The reference needs Arrow +
  * pandas UDFs to make this fast from Python; in-JVM a plain Scala UDF
  * over the broadcast model is already batch-free of IPC — the natural
  * next step (a codegen'd Catalyst Expression) is noted in SURVEY §7.3
  * and only pays off once model inference itself is the bottleneck.
  */
object Predict {

  /** Integer class prediction column. Null feature rows predict null —
    * reference-typed UDF args are NOT null-skipped by Spark, so every
    * UDF here guards explicitly instead of NPE-ing the executor.
    */
  def predictUdf(spark: SparkSession, model: Model): Column => Column = {
    val bc = spark.sparkContext.broadcast(model)
    val f = udf((v: Seq[Double]) =>
      if (v == null) None else Some(bc.value.predict(v.toArray).toInt))
    (c: Column) => f(c.cast("array<double>"))
  }

  /** String-label prediction column (classes_ dtype = str branch). */
  def predictLabelUdf(spark: SparkSession, model: Model,
                      labels: Seq[String]): Column => Column = {
    val bc = spark.sparkContext.broadcast(model)
    val lab = labels.toIndexedSeq
    val f = udf((v: Seq[Double]) => {
      if (v == null) null
      else {
        val i = bc.value.predict(v.toArray).toInt
        if (i >= 0 && i < lab.size) lab(i) else null
      }
    })
    (c: Column) => f(c.cast("array<double>"))
  }

  /** Probability-vector column (`predict_proba` → ArrayType(Double)). */
  def predictProbaUdf(spark: SparkSession, model: Model): Column => Column = {
    val bc = spark.sparkContext.broadcast(model)
    val f = udf((v: Seq[Double]) =>
      if (v == null) null else bc.value.predictProba(v.toArray).toSeq)
    (c: Column) => f(c.cast("array<double>"))
  }

  /** Generic prediction surface: the fused codegen'd kernel when the
    * model family has one ([[FusedScore]] — linear, SVC, CART, forest,
    * GBT, constant, masked), else the broadcast-UDF fallback. Same
    * output contract either way: int class index (or label string, with
    * out-of-range indices mapping to null), null feature rows null.
    */
  def withPredictions(spark: SparkSession, df: DataFrame, model: Model,
                      featuresCol: String, outCol: String = "preds",
                      labels: Option[Seq[String]] = None): DataFrame = {
    val x = col(featuresCol).cast("array<double>")
    val predCol = FusedScore.predict(model, x) match {
      case Some(p) =>
        labels match {
          // get() is 0-based and null out-of-range (ANSI-safe) — the
          // UDF branch's `i in [0, labels.size) else null` clause
          case Some(l) => get(typedLit(l), p.cast("int"))
          case None    => p.cast("int")
        }
      case None =>
        val fn = labels match {
          case Some(l) => predictLabelUdf(spark, model, l)
          case None    => predictUdf(spark, model)
        }
        fn(col(featuresCol))
    }
    df.withColumn(outCol, predCol)
  }

  def withProbabilities(spark: SparkSession, df: DataFrame, model: Model,
                        featuresCol: String,
                        outCol: String = "scores"): DataFrame = {
    val x = col(featuresCol).cast("array<double>")
    val probaCol = FusedScore.proba(model, x)
      .getOrElse(predictProbaUdf(spark, model)(col(featuresCol)))
    df.withColumn(outCol, probaCol)
  }

  /** Text-input prediction (reference `predict.py:59-71`,
    * `feature_type='text'`): a RAW STRING column goes through a fitted
    * [[graft.encode.Encoderizer.TextHashStage]] into a linear model in
    * ONE call — the one-call surface the reference exposes for text
    * models, previously only reachable as Encoderizer.transform →
    * Predict. The hashed feature space is numFeatures × gram-sizes wide
    * and almost-all-zero per row, so the scorer walks the SPARSE
    * vector's active entries against the broadcast weight matrix
    * instead of densifying 2^18 doubles per row through the
    * `array<double>` UDF path. Hashing and scoring both ride the scan —
    * no shuffle, distributes with the input partitioning.
    */
  def withTextPredictions(df: DataFrame,
                          stage: graft.encode.Encoderizer.TextHashStage,
                          model: graft.exec.LogRegModel,
                          outCol: String = "preds",
                          labels: Option[Seq[String]] = None): DataFrame = {
    // a short label list is a CALLER CONFIGURATION ERROR — mapping
    // out-of-range class indices to null would disguise it as missing
    // data in the output (fail loudly up front instead)
    labels.foreach(l => require(l.size >= model.weights.length,
      s"${l.size} labels for a ${model.weights.length}-class model"))
    val (withVec, scores, vecCol) = textScores(df, stage, model)
    val idx = graft.agg.Voting.argmax(scores)
    val predCol = labels match {
      case Some(l) => element_at(typedLit(l), idx + 1)
      case None    => idx
    }
    withVec.withColumn(outCol, predCol).drop(vecCol)
  }

  /** Text-input `predict_proba` (reference `predict.py:67-68` text
    * branch composed with the `predict_proba` return type at 170-176):
    * raw string column → hashed sparse features → softmax'd class
    * probabilities (`array<double>`) in ONE call, bit-identical to
    * `Encoderizer.transform` → `LogRegModel.predictProba` on the same
    * rows. Like the argmax path, hashing and scoring both ride the
    * scan — no shuffle.
    */
  def withTextProbabilities(df: DataFrame,
                            stage: graft.encode.Encoderizer.TextHashStage,
                            model: graft.exec.LogRegModel,
                            outCol: String = "proba"): DataFrame = {
    val (withVec, scores, vecCol) = textScores(df, stage, model)
    withVec.withColumn(outCol, graft.functions.Softmax(scores)).drop(vecCol)
  }

  /** Text-input prediction through a One-vs-Rest model (the reference's
    * text branch is model-agnostic — `get_prediction_udf(model=ovr,
    * feature_type='text')` — so the fused path must cover the OvR
    * family too, not just the multinomial scorer). Emits
    * `classes(argmax)` as DOUBLE, reproducing `OvRModel.predict`'s
    * tie-break: the driver argmaxes NORMALIZED SIGMOID probabilities
    * first-max-wins, and sigmoid saturates to exactly 1.0 past margin
    * ~37 — so two well-separated classes (or a constant predictor's
    * ±1000 bias row vs a large real margin) TIE at proba 1.0 and the
    * driver keeps the first. Argmaxing raw margins would resolve those
    * ties differently; this path therefore applies the same sigmoid +
    * norm stack before the argmax. Margins come from one
    * [[graft.functions.SparseScoreMatrix]] over the margin-row matrix —
    * zero shuffle, no densify. Remaining caveat (shared with the proba
    * twin): the fused margin is the PRECOMBINED `(w1−w0)·x` dot product,
    * which can differ from the driver's `s1−s0` at the last ulp — ties
    * created or broken by that final rounding step are not reproduced.
    */
  def withTextPredictionsOvR(df: DataFrame,
                             stage: graft.encode.Encoderizer.TextHashStage,
                             model: graft.search.OvRModel,
                             outCol: String = "preds"): DataFrame = {
    val (withVec, margins, vecCol) = textScoresOvR(df, stage, model)
    // stage the margin vector: the sigmoid/norm/argmax chain references
    // its input several times, and a staged column guarantees one
    // SparseScoreMatrix evaluation regardless of subexpression
    // elimination coverage inside HOF lambdas
    val mCol = s"_ovr_margins_$outCol"
    val staged = withVec.withColumn(mCol, margins)
    val pos = transform(col(mCol), m => lit(1.0) / (lit(1.0) + exp(-m)))
    val normed = model.norm.map(graft.agg.Voting.normalize(pos, _))
      .getOrElse(pos)
    val idx = graft.agg.Voting.argmax(normed)
    staged.withColumn(outCol,
      element_at(typedLit(model.classes.toSeq), idx + 1))
      .drop(vecCol, mCol)
  }

  /** OvR text `predict_proba`: sigmoid per class margin, then the
    * model's norm — the `multiclass.py:337-362` stack, fused onto the
    * scan. Matches `OvRModel.predictProba` (constant per-class models
    * are encoded as ±1000 bias rows: sigmoid saturates to exactly
    * 0.0 / 1.0 in double, the `_ConstantPredictor` probabilities).
    */
  def withTextProbabilitiesOvR(df: DataFrame,
                               stage: graft.encode.Encoderizer.TextHashStage,
                               model: graft.search.OvRModel,
                               outCol: String = "proba"): DataFrame = {
    val (withVec, margins, vecCol) = textScoresOvR(df, stage, model)
    val mCol = s"_ovr_margins_$outCol"
    val staged = withVec.withColumn(mCol, margins) // one evaluation
    val pos = transform(col(mCol), m => lit(1.0) / (lit(1.0) + exp(-m)))
    val normed = model.norm.map(graft.agg.Voting.normalize(pos, _))
      .getOrElse(pos)
    staged.withColumn(outCol, normed).drop(vecCol, mCol)
  }

  private def textScoresOvR(df: DataFrame,
                            stage: graft.encode.Encoderizer.TextHashStage,
                            model: graft.search.OvRModel)
      : (DataFrame, Column, String) = {
    val d = stage.width
    val marginRows: Array[Array[Double]] = model.models.map {
      case m: graft.exec.LogRegModel =>
        require(m.nClasses == 2 && m.weights.forall(_.length == d + 1),
          s"OvR text path needs binary linear per-class models over $d " +
            s"features; got ${m.nClasses} classes × " +
            s"${m.weights.head.length - 1}")
        m.weights(1).zip(m.weights(0)).map { case (a, b) => a - b }
      case c: graft.exec.ConstantModel =>
        // positiveProba is exactly 1.0 or 0.0; sigmoid(±1000) saturates
        // to exactly those doubles (exp(-1000) == 0.0, exp(1000) == Inf)
        val bias = if (c.value.toInt.min(1).max(0) == 1) 1000.0 else -1000.0
        Array.fill(d)(0.0) :+ bias
      case other => throw new IllegalArgumentException(
        s"OvR text path needs linear or constant per-class models, got " +
          other.getClass.getSimpleName)
    }
    val vecCol = s"_txtfeat_${stage.name}"
    val withVec = stage.transform(df, vecCol)
    (withVec, graft.functions.SparseScoreMatrix(col(vecCol), marginRows),
      vecCol)
  }

  /** Shared text-path scorer: hashed features + ONE fused codegen'd
    * [[graft.functions.SparseScoreMatrix]] walking only the active
    * entries (never densifies the 2^18 hash space; the earlier per-row
    * Scala UDF boxed a SparseVector per row and broke the whole-stage
    * codegen span the rest of the projection runs in).
    */
  private def textScores(df: DataFrame,
                         stage: graft.encode.Encoderizer.TextHashStage,
                         model: graft.exec.LogRegModel)
      : (DataFrame, Column, String) = {
    val d = stage.width
    require(model.weights.forall(_.length == d + 1),
      s"model rows carry ${model.weights.head.length - 1}+bias weights; " +
        s"the text stage produces $d features")
    val vecCol = s"_txtfeat_${stage.name}"
    val withVec = stage.transform(df, vecCol)
    (withVec, graft.functions.SparseScoreMatrix(col(vecCol), model.weights),
      vecCol)
  }

  /** Multilabel prediction column: SORTED `array<string>` label set (the
    * MultiLabelBinarizer inverse_transform of the per-class votes).
    *
    * When every per-class model is a binary linear (or constant) model,
    * the votes fuse into ONE codegen'd [[graft.functions
    * .LinearScoreMatrix]] over the STACKED per-class weight rows —
    * 2k rows (w0_c, w1_c per class), NOT precombined margin rows, so
    * class c's vote `s1 > s0` compares the exact same two doubles
    * `LogRegModel.predict`'s argmax compares (a combined (w1−w0)·x dot
    * product rounds differently at the ulp and could flip a boundary
    * vote). Label membership and ordering then come from codegen'd
    * `filter`/`transform` built-ins. Non-linear per-class models keep
    * the broadcast-UDF fallback.
    */
  def withMultilabelPredictions(spark: SparkSession, df: DataFrame,
                                model: graft.search.MultilabelOvRModel,
                                featuresCol: String,
                                outCol: String = "pred_labels"): DataFrame = {
    val x = col(featuresCol).cast("array<double>")
    stackedVoteRows(model) match {
      case Some(stacked) =>
        val k = model.models.length
        // stage the 2k scores in a temp column so the per-class filter
        // lambda reads a materialized array instead of re-evaluating
        // the score matrix per element
        val scoreCol = s"_ml_scores_$outCol"
        val scored = df.withColumn(scoreCol,
          graft.functions.LinearScoreMatrix(x, stacked))
        val s = col(scoreCol)
        val voted = filter(sequence(lit(0), lit(k - 1)), c =>
          element_at(s, c * 2 + 2) > element_at(s, c * 2 + 1))
        // literal index list is never null on its own: re-impose the
        // null-row -> null contract of the UDF route explicitly
        scored.withColumn(outCol, when(x.isNotNull,
            transform(voted, c => get(typedLit(model.classes.toSeq), c))))
          .drop(scoreCol)
      case None =>
        val bc = spark.sparkContext.broadcast(model)
        val f = udf((v: Seq[Double]) =>
          if (v == null) null else bc.value.predictLabels(v.toArray).toSeq)
        df.withColumn(outCol, f(x))
    }
  }

  /** STACKED per-class weight rows (w0_c, w1_c per class) for the fused
    * multilabel vote; None when a per-class model has no linear
    * encoding. Constant per-class models encode as a zero row pair
    * whose s1 bias (±1) reproduces the constant vote.
    */
  private def stackedVoteRows(model: graft.search.MultilabelOvRModel)
      : Option[Array[Array[Double]]] = {
    val k = model.models.length
    if (k == 0) return None // degenerate: keep the UDF's exact behavior
    val widths = model.models.collect {
      case m: graft.exec.LogRegModel => m.weights.head.length
    }
    if (widths.distinct.length > 1) return None // mixed dims: let the UDF throw
    val d = widths.headOption.getOrElse(1)
    val stacked: Array[Array[Double]] = new Array(2 * k)
    var i = 0
    while (i < k) {
      model.models(i) match {
        case m: graft.exec.LogRegModel if m.nClasses == 2 =>
          stacked(2 * i) = m.weights(0)
          stacked(2 * i + 1) = m.weights(1)
        case c: graft.exec.ConstantModel =>
          stacked(2 * i) = new Array[Double](d)
          stacked(2 * i + 1) = {
            val row = new Array[Double](d)
            row(d - 1) = if (c.value == 1.0) 1.0 else -1.0
            row
          }
        case _ => return None
      }
      i += 1
    }
    Some(stacked)
  }
}
