package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Cross-validation fold planner.
  *
  * The reference materializes `(train_idx, test_idx)` row-index arrays per
  * fold (`search.py:379`, `utils.py:146-223`) — positional indexing that
  * cannot scale past one node. Our scalable analog is a `fold_id` COLUMN:
  * fold membership travels with the row, so "train of fold k" is
  * `fold_id =!= k` — a pushdown-able predicate, never an index shuffle.
  */
object Folds {

  /** Deterministic fold by a unique key column: `pmod(key, k)`.
    * Oracle-expressible (`key % k` in SQL) and stable across engines —
    * used wherever the driver's DuckDB compare needs to reproduce folds.
    */
  def byKey(key: Column, k: Int): Column = pmod(key, lit(k)).cast("int")

  def assignByKey(df: DataFrame, keyCol: String, k: Int,
                  foldCol: String = "fold_id"): DataFrame =
    df.withColumn(foldCol, byKey(col(keyCol), k))

  /** Seeded pseudo-random fold: `pmod(hash(key, seed), k)`. Deterministic
    * within Spark (xxhash64) but NOT oracle-portable — use for real CV
    * where folds should look random w.r.t. the key order.
    */
  def byHash(key: Column, k: Int, seed: Long): Column =
    pmod(xxhash64(key, lit(seed)), lit(k)).cast("int")

  /** Stratified folds: round-robin within each label so every fold gets
    * the same label distribution (reference uses sklearn StratifiedKFold
    * via `check_cv`). Deterministic given the ordering key; SQL-expressible
    * as `(row_number() OVER (PARTITION BY label ORDER BY key) - 1) % k`.
    */
  def stratified(df: DataFrame, labelCol: String, orderCol: String, k: Int,
                 foldCol: String = "fold_id"): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(col(orderCol))
    df.withColumn(foldCol,
      pmod(row_number().over(w) - 1, lit(k)).cast("int"))
  }

  /** Group K-fold as a COLUMN (the scalable analog of sklearn GroupKFold
    * via `check_cv(..., groups)`, reference `search.py:334,379`): the fold
    * is a pure function of the GROUP key, so every row of a group lands in
    * one fold by construction — leakage-free CV for grouped samples
    * (sessions, users) with no global coordination, at any scale.
    * Portable `pmod(group, k)` for oracle-checked plans; `byHash` over
    * the group key for real CV where folds should look random w.r.t. the
    * key order.
    */
  def byGroup(group: Column, k: Int): Column = byKey(group, k)

  def assignByGroup(df: DataFrame, groupCol: String, k: Int,
                    foldCol: String = "fold_id"): DataFrame =
    df.withColumn(foldCol, byGroup(col(groupCol), k))

  def train(df: DataFrame, fold: Int, foldCol: String = "fold_id"): DataFrame =
    df.filter(col(foldCol) =!= fold)

  def test(df: DataFrame, fold: Int, foldCol: String = "fold_id"): DataFrame =
    df.filter(col(foldCol) === fold)
}
