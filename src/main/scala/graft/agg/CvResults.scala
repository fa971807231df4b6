package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** CV-results aggregation — the relational heart of the reference's search
  * estimators (`search.py:461-541` `_store`, `search.py:157-168`
  * `_get_results`).
  *
  * Input: one row per (candidate, fold) with `score` and `n_test`
  * columns. Output: one row per candidate with
  * mean/std/rank, matching sklearn semantics exactly:
  *   - std is POPULATION std (numpy default ddof=0);
  *   - `iid=true` weights fold means by fold size (`search.py:509-519`);
  *   - rank is min-method rank on descending mean score
  *     (`rankdata(-mean, method="min")`, `search.py:482-484`) — SQL
  *     `RANK()`, not `ROW_NUMBER()`.
  *
  * All of it is groupBy + window — fully distributed, no collect. At scale
  * the candidate count is small, so the shuffle is trivial; the heavy part
  * (per-task scoring) happens upstream.
  */
object CvResults {

  /** Population (ddof=0) std of fold scores: sklearn/numpy semantics. */
  private def stdPop(c: Column): Column = stddev_pop(c)

  /** Weighted mean + weighted population std, as in `search.py:471-479,
    * 509-519`: mean = sum(s*w)/sum(w); var = sum(w*(s-mean)^2)/sum(w).
    */
  def aggregate(scores: DataFrame, candidateCols: Seq[String],
                scoreCol: String = "score", nTestCol: String = "n_test",
                iid: Boolean = false, roundTo: Int = 6): DataFrame = {
    val s = col(scoreCol)
    val keyCols = candidateCols.map(col)
    val grouped =
      if (!iid) {
        scores.groupBy(keyCols: _*).agg(
          round(avg(s), roundTo).as("mean_test_score"),
          round(stdPop(s), roundTo).as("std_test_score"),
          count(lit(1)).as("n_folds"))
      } else {
        val w = col(nTestCol)
        scores.groupBy(keyCols: _*)
          .agg(
            (sum(s * w) / sum(w)).as("_wmean"),
            (sum(w * s * s) / sum(w)).as("_wm2"),
            count(lit(1)).as("n_folds"))
          .withColumn("mean_test_score", round(col("_wmean"), roundTo))
          .withColumn("std_test_score",
            round(sqrt(greatest(col("_wm2") - col("_wmean") * col("_wmean"), lit(0.0))), roundTo))
          .drop("_wmean", "_wm2")
      }
    grouped.withColumn("rank_test_score",
      rank().over(Window.orderBy(col("mean_test_score").desc)).cast("int"))
  }

  /** Multi-metric aggregation (reference `_store` over a scorer dict):
    * input has a `scores` map column; every metric gets
    * mean_test_<m>/std_test_<m>; the FIRST metric also populates the
    * standard mean/std/rank columns (the reference's `refit` metric).
    * `iid=true` applies the same fold-size weighting as `aggregate` to
    * EVERY metric (the reference weights each scorer's fold scores
    * identically, `search.py:509-519` looped over the scorer dict).
    */
  def aggregateMulti(scores: DataFrame, candidateCols: Seq[String],
                     metrics: Seq[String], nTestCol: String = "n_test",
                     iid: Boolean = false, roundTo: Int = 6): DataFrame = {
    require(metrics.nonEmpty, "need at least one metric")
    val keyCols = candidateCols.map(col)
    val w = col(nTestCol)
    val aggs = metrics.flatMap { m =>
      val s = element_at(col("scores"), m)
      if (!iid)
        Seq(round(avg(s), roundTo).as(s"mean_test_$m"),
          round(stddev_pop(s), roundTo).as(s"std_test_$m"))
      else {
        // weighted mean/population-std, identical math to `aggregate`
        val wmean = sum(s * w) / sum(w)
        val wm2 = sum(w * s * s) / sum(w)
        Seq(round(wmean, roundTo).as(s"mean_test_$m"),
          round(sqrt(greatest(wm2 - wmean * wmean, lit(0.0))), roundTo)
            .as(s"std_test_$m"))
      }
    } :+ count(lit(1)).as("n_folds")
    val primary = metrics.head
    scores.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      .withColumn("mean_test_score", col(s"mean_test_$primary"))
      .withColumn("std_test_score", col(s"std_test_$primary"))
      .withColumn("rank_test_score",
        rank().over(Window.orderBy(col("mean_test_score").desc)).cast("int"))
  }

  /** Best candidate: rank 1, deterministic tie-break on the candidate key
    * ascending (the reference's argmin-of-rank keeps the first, i.e.
    * lowest candidate index, `search.py:538-541`).
    */
  def best(cvResults: DataFrame, candidateCols: Seq[String]): DataFrame =
    cvResults.filter(col("rank_test_score") === 1)
      .orderBy(candidateCols.map(col(_).asc): _*)
      .limit(1)
}
