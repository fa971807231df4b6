package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Work under a different session setting without writing the caller's
  * conf. The setting goes on a private clone of the caller's session,
  * set before anything plans on it, so a thread planning on the caller
  * at the same time (a `Par.concurrently` fit, a serving request) never
  * sees it. The clone shares the caller's context and cache manager:
  * a frame persisted through it is a cache entry every session reads.
  *
  * One clone PER CALL, never cached: a clone copies the conf at clone
  * time, and a cached one would miss every setting the caller makes
  * later (`Tables.load` sets a parquet read flag on first read).
  */
object Scoped {
  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"

  /** A fresh clone of `spark` with `key` set to `value`. */
  def session(spark: SparkSession, key: String, value: String): SparkSession = {
    val clone = GraftSqlBridge.cloneSession(spark)
    clone.conf.set(key, value)
    clone
  }

  /** `f`'s frame, built on a clone of `spark` whose shuffle width is
    * `width`, handed back as a frame of `spark`. Whatever `f` planned on
    * the clone (a persisted cache, a finished stream's sink) keeps the
    * narrow width; what the caller builds on the result plans at its own.
    */
  def atWidth(spark: SparkSession, width: Int)(
      f: SparkSession => DataFrame): DataFrame =
    GraftSqlBridge.ofRows(spark,
      f(session(spark, ShufflePartitions, width.toString)))
}
