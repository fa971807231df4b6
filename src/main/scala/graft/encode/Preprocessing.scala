package graft.encode

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pipeline-safe column transformers — the reference's
  * `preprocessing.py` inventory, each reduced to its Spark-native
  * primitive (SURVEY.md §2.3). Thin by design: in a declarative engine
  * these ARE single expressions; keeping them named preserves the
  * reference's API surface.
  */
object Preprocessing {

  /** `DenseTransformer` / `SparseTransformer` (`preprocessing.py:97-124`):
    * array → Spark Vector, which picks dense/sparse per value.
    */
  def toVector(c: Column): Column = array_to_vector(c)

  /** `MultihotEncoder` (`preprocessing.py:313-339`). */
  def multihot(df: DataFrame, arrayCol: String, outCol: String,
               maxVocab: Int = 1 << 16): DataFrame = {
    val stage = Encoderizer.fitStage(df,
      Encoderizer.ColumnSpec(arrayCol, "multihot"), "small", maxVocab).get
    stage.transform(df, outCol)
  }

  /** `SelectorMem` variance-threshold mode (`preprocessing.py:206-261`):
    * keep feature indices of an array column whose variance exceeds the
    * threshold. Returns kept indices (driver-side small) — compose with a
    * slice to apply.
    */
  def varianceKeepIndices(df: DataFrame, arrCol: String,
                          threshold: Double = 0.0): Seq[Int] = {
    // Width = the LONGEST row (deterministic), not an arbitrary first row:
    // a short probed row would silently hide trailing features.
    val widthRow = df.agg(max(size(col(arrCol)))).head()
    if (widthRow.isNullAt(0)) return Seq.empty
    val width = widthRow.getInt(0)
    if (width <= 0) return Seq.empty
    val agg = df.select(
      (0 until width).map(i =>
        // guard short rows: bare element_at past the end THROWS under
        // ANSI; the when-null contributes nothing to var_pop
        var_pop(when(size(col(arrCol)) >= i + 1,
          element_at(col(arrCol), i + 1))).as(s"v$i")): _*).head()
    // var_pop of an all-null slot is NULL — treat as no variance, drop.
    (0 until width).filter(i => !agg.isNullAt(i) && agg.getDouble(i) > threshold)
  }

  def sliceIndices(c: Column, keep: Seq[Int]): Column =
    array(keep.map(i =>
      when(size(c) >= i + 1, element_at(c, i + 1))): _*)

  /** `SelectorMem` univariate mode (f_classif): per-feature ANOVA F-score
    * against a class label, computed distributed — posexplode the feature
    * array, one groupBy (feature, label) for the sufficient statistics
    * (n, Σx, Σx²), then F = (SSB/(k-1)) / (SSW/(N-k)) per feature. One
    * shuffle keyed by (feature, label); scales to any row count.
    */
  def fScores(df: DataFrame, arrCol: String, labelCol: String): DataFrame = {
    val exploded = df.select(col(labelCol).as("_y"),
      posexplode(col(arrCol).cast("array<double>")).as(Seq("feature_idx", "_x")))
    val perGroup = exploded.groupBy("feature_idx", "_y")
      .agg(count(lit(1)).as("_n"), sum("_x").as("_s"), sum(col("_x") * col("_x")).as("_ss"))
    perGroup.groupBy("feature_idx")
      .agg(
        sum("_n").as("_nt"),
        sum("_s").as("_st"),
        count(lit(1)).as("_k"),
        // SSW = Σ_g (ss_g - s_g²/n_g)
        sum(col("_ss") - col("_s") * col("_s") / col("_n")).as("_ssw"),
        // Σ_g s_g²/n_g, for SSB = that - st²/nt
        sum(col("_s") * col("_s") / col("_n")).as("_sb"))
      .select(col("feature_idx"),
        when(col("_k") > 1 && col("_ssw") > 0,
          ((col("_sb") - col("_st") * col("_st") / col("_nt")) / (col("_k") - 1)) /
            (col("_ssw") / (col("_nt") - col("_k"))))
          // zero within-class variance with real between-class spread is
          // PERFECT separation: f_classif yields +inf — ranked first,
          // not discarded as 0
          .when(col("_k") > 1 &&
            (col("_sb") - col("_st") * col("_st") / col("_nt")) > 0,
            lit(Double.PositiveInfinity))
          .otherwise(0.0).as("f_score"),
        // degrees of freedom, for the p-value modes below
        (col("_k") - 1).cast("double").as("df_between"),
        (col("_nt") - col("_k")).cast("double").as("df_within"))
  }

  /** F-scores plus the `f_classif` p-values: upper tail of
    * F(k-1, N-k) at the observed score (graft.exec.Stats.fSf).
    */
  def fScoresP(df: DataFrame, arrCol: String, labelCol: String): DataFrame = {
    val pUdf = udf((f: Double, d1: Double, d2: Double) =>
      if (d1 <= 0 || d2 <= 0) 1.0
      else if (f.isPosInfinity) 0.0 // perfect separation
      else graft.exec.Stats.fSf(f, d1, d2))
    fScores(df, arrCol, labelCol)
      .withColumn("p_value", pUdf(col("f_score"), col("df_between"), col("df_within")))
  }

  /** `SelectorMem` p-value selection modes (`preprocessing.py:33-39`):
    *   fpr — keep p < alpha (per-comparison false positive rate);
    *   fwe — keep p < alpha / m (Bonferroni family-wise control);
    *   fdr — Benjamini–Hochberg: keep every feature with p <= the largest
    *         p_(i) satisfying p_(i) <= alpha * i / m.
    * Driver-side over the (tiny) per-feature frame, like the k-best mode.
    */
  def pValueKeepIndices(df: DataFrame, arrCol: String, labelCol: String,
                        mode: String, alpha: Double = 0.05): Seq[Int] = {
    val scored = fScoresP(df, arrCol, labelCol)
      .select("feature_idx", "p_value")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val m = scored.length
    val kept = mode match {
      case "fpr" => scored.filter(_._2 < alpha)
      case "fwe" => scored.filter(_._2 < alpha / m)
      case "fdr" =>
        val sorted = scored.sortBy(_._2)
        val cut = sorted.zipWithIndex
          .filter { case ((_, p), i) => p <= alpha * (i + 1) / m }
          .lastOption.map(_._1._2)
        cut match {
          case Some(t) => scored.filter(_._2 <= t)
          case None    => Array.empty[(Int, Double)]
        }
      case other => throw new IllegalArgumentException(
        s"unknown mode: $other (expected fpr, fdr, or fwe)")
    }
    kept.map(_._1).sorted.toSeq
  }

  /** Keep the k best features by F-score (ties → lowest index), the
    * `SelectKBest(f_classif)` analog; percentile mode = k derived from
    * the feature count.
    */
  def fTestKeepIndices(df: DataFrame, arrCol: String, labelCol: String,
                       k: Int): Seq[Int] =
    fScores(df, arrCol, labelCol)
      .orderBy(col("f_score").desc, col("feature_idx").asc)
      .limit(k)
      .collect().map(_.getInt(0)).toSeq.sorted
}
