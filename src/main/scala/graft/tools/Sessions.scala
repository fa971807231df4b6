package graft.tools

import org.apache.spark.sql.SparkSession

/** One place to build correctly-configured sessions for the mains:
  * graft extensions (nanos-pushdown rule), AQE, UTC, right-sized shuffle
  * partitions (cores, never the 200 default), and two driver-side costs
  * cut at session start:
  *
  *  - `spark.sql.maxPlanStringLength` = [[MaxPlanString]]. Every Spark
  *    action builds plan text on the driver's critical path (AQE's
  *    `onUpdatePlan`, the SQL execution start event, a cached relation's
  *    name), and over pinned stages nested one inside the next that text
  *    grows about 2x per stage (6.1 MB formatted at the curation's `packed`
  *    stage). Unbounded, `explainString` was on 328 of 774 main-thread JFR
  *    samples of a `curate_ingest` run (4-core host, `local[3]`); bounded,
  *    175 of 639.
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` =
  *    [[graft.store.LocalFs]] and its FileContext twin. Without native
  *    Hadoop the stock local filesystem forks a `chmod` per created file
  *    or directory and a `readlink` per checkpoint rename: 711 forks per
  *    `curate_ingest` run, about 5 ms each; with this class, 17 are left
  *    (JVM start and Spark's `rm -rf` at session stop).
  *
  * To see a full plan, use `graft.tools.PlanDump` (its session unsets the
  * bound) or `spark.conf.unset("spark.sql.maxPlanStringLength")` on your
  * session. A session built elsewhere gets neither setting;
  * `SPARK_GRAFT_EXTRA_CONF` overrides each for A/B runs.
  */
object Sessions {
  /** Plan text bound, in characters: the measured 8 KiB. */
  val MaxPlanString = 8192

  def build(master: String, shufflePartitions: Int): SparkSession =
    builder(master, shufflePartitions).getOrCreate()

  /** The configured builder, for mains that need extra settings on top
    * (e.g. MultiJvmProbe's executor classpath for local-cluster mode).
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — experimentation hook for
    // isolated config A/Bs (e.g. spark.sql.adaptive.enabled=false to
    // measure AQE's per-query planning cost); unset in every production
    // and benchmark invocation, so defaults never shift.
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(';').toSeq.map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE on (the scale-correct choice: runtime coalescing, skew
      // splitting, plan re-optimization)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Cached plans take AQE-OPTIMIZED output partitioning (r15):
      // Spark's default (false) freezes `spark.sql.shuffle.partitions`
      // into every persisted intermediate — the pinned frames behind
      // the dedup/similarity operators (Par.pinLatest) then materialize
      // as `shuffle.partitions` near-empty partitions however small the
      // data, and EVERY downstream stage pays per-task fixed cost
      // (multi-MB task-binary deserialization for these nested cached
      // plans) times that count. Measured on q101 (RepeatStageProfile,
      // min-of-4, sf0.1): 32-partition pin → warm-run stages burn
      // 19 executor-CPU-s / 2.37 s wall; AQE-sized pin (1 partition)
      // → ~1 CPU-s / 1.36 s wall. Full-bench cpu map: q101 9.5 → 0.55,
      // q98 8.6 → 0.58 CPU-s. Scale-correct, not a local[32] trick:
      // at any size AQE gives the cache data-proportional partitions
      // (advisoryPartitionSizeInBytes), where the frozen default gives
      // it whatever constant the session happened to set. Opt out for
      // A/Bs with SPARK_GRAFT_EXTRA_CONF.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Streaming state: the in-memory HDFS-backed provider (the Spark
      // default, spelled out; the class is private[state]). At bench
      // cardinality it beats RocksDB; 100x-cardinality state runs on
      // RocksDB (Streams.withStateStore, or this key in
      // SPARK_GRAFT_EXTRA_CONF).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .config("spark.sql.maxPlanStringLength", MaxPlanString.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.store.LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.store.LocalFs.Fc].getName)
      // shuffle compression stays ON even in local mode: the CPU saving
      // measured at bench scale was noise, while a pair-heavy shuffle
      // (LSH candidate joins at probe scale) ran local disk out of space
      // uncompressed. Disk, not CPU, is the binding constraint.
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }
}
