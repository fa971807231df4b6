package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multiclass task expansions (reference `multiclass.py`).
  *
  * OvR: one binary problem per class (label == c vs rest).
  * OvO: one binary problem per unordered class pair (i < j), restricted to
  * rows of those two classes (`multiclass.py:410-415,155-172`).
  *
  * Both are expressed as DataFrames keyed by class (pair), not positional
  * arrays, so downstream fits/joins stay distributed and order-free.
  */
object Expansions {

  /** Per-class binarization stats: positives, negatives, prevalence.
    * The degenerate single-class case the reference short-circuits with a
    * `_ConstantPredictor` is visible here as prevalence == 1.0.
    */
  def ovrStats(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_pos"))
    val total = df.count()
    counts
      .withColumn("n_neg", lit(total) - col("n_pos"))
      .withColumn("prevalence", round(col("n_pos") / lit(total.toDouble), 6))
      .orderBy("label")
  }

  /** Multilabel binarization stats (`MultiLabelBinarizer.fit` over a
    * label-SET column, `multiclass.py:267-274`): classes_ = sorted
    * distinct labels; per class, positives = rows whose set contains it,
    * negatives = the rest, prevalence = positives / rows. One explode +
    * groupBy — the distributed equivalent of the binarizer's column sums.
    */
  def multilabelStats(df: DataFrame, labelCol: String): DataFrame = {
    val total = df.count()
    // array_distinct first: y is a SET — a duplicated label in one row
    // must not double-count that row as two positives
    df.select(explode_outer(array_distinct(col(labelCol).cast("array<string>")))
        .as("label"))
      .filter(col("label").isNotNull)
      .groupBy("label")
      .agg(count(lit(1)).as("n_pos"))
      .withColumn("n_neg", lit(total) - col("n_pos"))
      .withColumn("prevalence", round(col("n_pos") / lit(total.toDouble), 6))
      .orderBy("label")
  }

  /** OvO pair lattice: all (i, j), i < j, with the row count of the
    * restricted binary problem (n_i + n_j).
    */
  def ovoPairs(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    counts.as("a")
      .join(counts.as("b"), col("a.label") < col("b.label"))
      .select(
        col("a.label").as("label_i"),
        col("b.label").as("label_j"),
        (col("a.n") + col("b.n")).as("n_rows"))
      .orderBy("label_i", "label_j")
  }

  /** Negative-downsampling plan for one OvR binary problem (reference
    * `_negatives_mask`, `multiclass.py:76-106`): keep all positives, sample
    * negatives to `maxNegatives` interpreted as a fraction ("ratio") or a
    * multiple of the positive count ("multiplier"). The multiplier counts
    * both sides first, two jobs.
    */
  def negativesMask(df: DataFrame, labelCol: String, positive: Any,
                    maxNegatives: Double, method: String, seed: Long): DataFrame =
    sampleNegatives(df, labelCol, positive, negativesFraction(maxNegatives,
      method, df.filter(col(labelCol) === lit(positive)).count(),
      df.filter(col(labelCol) =!= lit(positive)).count()), seed)

  /** The share of negatives `negativesMask` keeps; the counts are read
    * only by the multiplier, so a caller that already holds them passes
    * them and runs no job. */
  private[graft] def negativesFraction(maxNegatives: Double, method: String,
                                       nPos: => Long, nNeg: => Long): Double =
    method match {
      case "ratio"      => maxNegatives
      case "multiplier" =>
        val (p, n) = (nPos.toDouble, nNeg.toDouble)
        if (n == 0) 1.0 else math.min(1.0, maxNegatives * p / n)
      case m => throw new IllegalArgumentException(s"unknown method: $m")
    }

  /** Every positive plus a seeded `frac` sample of the negatives. */
  private[graft] def sampleNegatives(df: DataFrame, labelCol: String,
                                     positive: Any, frac: Double,
                                     seed: Long): DataFrame =
    if (frac >= 1.0) df
    else df.filter(col(labelCol) === lit(positive)).union(
      df.filter(col(labelCol) =!= lit(positive))
        .sample(withReplacement = false, frac, seed))
}
