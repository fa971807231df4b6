package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Parallelism plumbing for compute-heavy per-row derivations. */
object Par {

  /** Run `f` over `items` on a bounded driver-side thread pool,
    * preserving input order in the result. For CONCURRENT SPARK JOB
    * SUBMISSION: a sequence of independent distributed fits submitted
    * one-by-one leaves the cluster idle during each job's driver-side
    * phases (planning, stat collection, model assembly); submitting from
    * `parallelism` threads overlaps them (Spark's scheduler interleaves
    * concurrent jobs at stage granularity under FIFO, fully under FAIR).
    * Fails FAST: the first thrown exception rethrows here immediately;
    * queued tasks are cancelled (`shutdownNow`), but tasks already
    * mid-flight finish in the background — their Spark jobs were
    * submitted and Spark does not unwind a running job on driver-thread
    * interrupt. NOT for executor-side code — this is a driver
    * orchestration helper.
    */
  def concurrently[T, R](items: Seq[T], parallelism: Int)(f: T => R): Seq[R] = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    if (parallelism == 1 || items.length <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.length))
      var failed = false
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        try Await.result(Future.sequence(items.map(t => Future(f(t)))),
          Duration.Inf)
        catch { case e: Throwable => failed = true; throw e }
      } finally {
        if (failed) pool.shutdownNow() else pool.shutdown()
        ()
      }
    }
  }

  private[graft] val pinned = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** Persist `df` as the ONE live pinned intermediate for (session, key):
    * a new call under the same key unpersists the previous pin
    * (non-blocking). For the large per-call intermediates that back LAZY
    * operator results (shingle sets, exploded inverted indexes, vector
    * projections): each call must keep its intermediate persisted while
    * its result is alive, but a long-lived session — a bench loop, a
    * serving process — would otherwise accumulate one multi-GB pin PER
    * CALL with nothing ever unpersisting them (measured: a full-bench
    * session at 100× data OOM'd an 8 GB heap on exactly this). With the
    * registry a session holds at most one live intermediate per operator
    * family; an OLDER lazy result re-collected later just recomputes —
    * correct, slower (`Similarity.ivfTopK` keeps its one live result
    * here on the same terms). Entries of stopped sessions are swept
    * lazily.
    */
  def pinLatest(key: String, df: DataFrame): DataFrame = register(key, df.persist())

  /** Enter the persisted `p` as the live pin for (its session, key). */
  private def register(key: String, p: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    pinned.keySet.asScala.filter(_._1.sparkContext.isStopped)
      .foreach(pinned.remove)
    val prev = pinned.put((p.sparkSession, key), p)
    // The eviction guard must compare LOGICAL PLANS, not references:
    // `Dataset.persist`/`unpersist` both resolve against the shared cache
    // by plan `sameResult`, so re-pinning a logically-identical frame (a
    // repeat bench iteration, a repeated serving call) makes the new
    // persist a no-op against the SAME cache entry — a reference-equality
    // guard then lets `prev.unpersist` remove that shared entry, and the
    // expensive intermediate silently recomputes at every consumption
    // site while the registry believes it is pinned.
    if (prev != null && (prev ne p) &&
        !prev.queryExecution.analyzed.sameResult(p.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    p
  }

  /** Release a pin EAGERLY (for callers whose result no longer needs the
    * intermediate — e.g. semanticDedup once the pair graph is
    * materialized) and drop its registry entry, so a later `pinLatest`
    * under the same key does not find a stale entry whose logical plan
    * matches the fresh pin. Removes the entry only when `df` IS the live
    * pin — a concurrent re-pin under the same key keeps its own entry.
    */
  def unpin(key: String, df: DataFrame): Unit = {
    pinned.remove((df.sparkSession, key), df)
    df.unpersist(blocking = false)
    ()
  }

  private[graft] def plansExchange(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort | _: GlobalLimit |
           _: Distinct | _: Deduplicate | _: Except | _: Intersect |
           _: RepartitionOperation | _: RebalancePartitions | _: CoGroup |
           _: Offset | _: Tail => true
      case _: FlatMapGroupsWithState | _: MapGroups => true
      case _ => false
    }

  /** Minimum estimated input size before [[fanOut]] inserts its
    * repartition — the FALLBACK signal, used only when no row estimate
    * exists (see [[FanOutMinRows]]): below this, even a single core
    * finishes the scan-stage work in well under a second, and the
    * exchange round-trip costs more than the parallelism buys (measured
    * r12 at sf0.1: ~0.3 s per query of pure repartition latency over
    * 255 KB corpora, ~+6 s across the fanned query set — while at 55 MB
    * the same repartition turned a 73 s one-core scan stage into 4 s).
    * Plan stats are reliable here: fanOut only ever sees exchange-free
    * narrow plans, whose estimate comes straight from the file scan.
    *
    * 2 MB, not the original 8 MB (r14): the estimate is COMPRESSED file
    * bytes while the cost driver is per-row CPU — a 5.5 MB parquet of
    * 50k documents sat under the old floor and ran its whole
    * regex-heavy scan stage on ONE core (isolated-probed at sf1:
    * q32 10.8 s / q33 9.0 s on the r14 host, ~0.3 s of that being the
    * exchange the floor was protecting against; the r12 bench host hid
    * the same serialization at 0.8 s/query behind faster single-core
    * throughput). 255 KB-class corpora (sf0.1) stay below the new
    * floor, so the small-SF bench floor is unchanged.
    */
  private[graft] val FanOutMinBytes: Long = 2L << 20

  /** Minimum estimated ROW count before [[fanOut]]/spreadNarrow insert
    * their repartition — the PRIMARY routing signal since r15. The r14
    * floor lesson generalized: compressed scan bytes and per-row CPU
    * disagree by the compression ratio (5–10× on text), so a byte floor
    * calibrated on one corpus misroutes another, while the row count is
    * exact and compression-independent. Calibration: sf0.1 documents
    * (5k rows, ~0.3 s single-core scan stage) stay under the floor —
    * the exchange costs more than it buys there (r12 measurement);
    * sf1 documents (50k rows, the corpus the r14 fix targeted) fan out.
    *
    * The row estimate, in preference order: the optimizer's
    * `stats.rowCount` (local relations, range, ANALYZEd tables carry
    * it), else PARQUET FOOTER record counts summed over the plan's leaf
    * files (v1 parquet scans carry NO rowCount — probed r15; footers
    * are one cached-listing + one footer read per file, memoized per
    * (path, len, mtime), and only consulted on few-file layouts — the
    * only shape fanOut's partition probe can trigger on anyway), else
    * no estimate and the byte floor decides. Footer rows are pre-filter
    * upper bounds — errs toward fanning out, the cheap direction
    * (~0.3 s of wasted exchange vs a serialized scan stage).
    *
    * Deliberate consequence (verdict r14 item 6's Done shape): a
    * many-bytes/FEW-rows frame no longer fans out — its parallelism is
    * bounded by its row count, and on a real cluster files past
    * maxPartitionBytes get their splits from the scan, not from us.
    */
  private[graft] val FanOutMinRows: Long = 16384L

  /** Max leaf files before the footer probe declines: a many-file
    * layout already has its splits (fanOut's partition gate won't
    * trigger), and per-file footer reads would be RPC-heavy at scale.
    */
  private val FooterProbeMaxFiles = 64

  // (path, length, mtime) -> footer record count; the bench loop re-reads
  // the same memoized Tables handles, so this hits after the first query
  private val footerRows =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  /** Estimated row count of `df`'s source: optimizer rowCount stats when
    * present, else summed parquet footer record counts when every leaf
    * is a parquet file scan with a bounded file list, else None.
    */
  private[graft] def estimatedRows(df: DataFrame): Option[Long] = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.map(_.toLong).orElse {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val rels = plan.collectLeaves().map {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            Some(fs)
          case _ => None
        }
        case _ => None
      }
      if (rels.isEmpty || rels.exists(_.isEmpty)) None
      else {
        try {
          // the file index's listing is already cached from read time —
          // this is an in-memory walk, not a filesystem list
          val files = rels.flatten.flatMap(_.location.listFiles(Nil, Nil))
            .flatMap(_.files)
          if (files.isEmpty || files.length > FooterProbeMaxFiles) None
          else {
            if (footerRows.size > 4096) footerRows.clear() // bound the memo
            val conf = df.sparkSession.sparkContext.hadoopConfiguration
            var total = 0L
            files.foreach { f =>
              val key = (f.getPath.toString, f.getLen, f.getModificationTime)
              var n = footerRows.get(key)
              if (n == null) {
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile
                    .fromStatus(f.fileStatus, conf))
                n = try r.getRecordCount finally r.close()
                footerRows.put(key, n)
              }
              total += n.longValue()
            }
            Some(total)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Rows of operator input each task of a pair-exploding self-join pin
    * should own — the [[width]] grain of their pins. Calibrated r15 on the
    * q38 shape (PinCountProbe, sf0.1, 5k docs, min-of-3 warmed): p=32
    * (the old `defaultParallelism` constant) burns ~8 executor-CPU-s
    * where p∈{2,4} burns 3.5–5.5 for identical output — the delta is
    * pure per-task/per-shuffle-block fixed cost (JFR: LZ4 stream +
    * buffer churn per DiskBlockObjectWriter.open, one per (map task ×
    * reduce partition) block). 2048 input rows/task ⇒ sf0.1 corpora pin
    * 3 partitions, sf1 ~25, sf10+ the full cluster width.
    */
  private[graft] val PinRowsPerTask: Long = 2048L

  /** The shared size decision of [[fanOut]] and Similarity.spreadNarrow:
    * rows when estimable (primary), bytes otherwise (fallback) — see
    * [[FanOutMinRows]] for why rows lead.
    */
  private[graft] def bigEnoughToSpread(df: DataFrame,
                                       minBytes: Long = FanOutMinBytes,
                                       minRows: Long = FanOutMinRows): Boolean =
    estimatedRows(df) match {
      case Some(r) => r >= minRows
      case None =>
        df.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(minBytes)
    }

  /** Fan a narrow input out to all cores before an expensive per-row
    * derivation (shingling, hashing, signature building).
    *
    * Locally a small parquet table arrives as ONE split, so everything up
    * to the first shuffle — including the tokenize/shingle/explode work
    * that dominates dedup — serializes on one core. Repartitioning the raw
    * rows first costs one cheap shuffle of the underived input and unblocks
    * every core. Gated on the current partition count so it is a no-op on
    * a real cluster where the scan already has >= defaultParallelism
    * splits — there the extra shuffle would be pure waste.
    *
    * Plans whose lineage would PLAN AN EXCHANGE are not probed: the probe
    * reads the physical partition count via `df.rdd`, and under AQE that
    * call on a plan containing exchanges synchronously materializes every
    * upstream shuffle stage — work that then re-runs on the real action.
    * Such frames have also already been spread across cores by their
    * shuffle. Exchange-free derived plans (map/explode/union/local limit
    * over a scan) are still probed — they inherit the scan's partition
    * count and need the fan-out just as much as a bare scan. Streaming
    * frames cannot be probed at all and pass through untouched.
    */
  def fanOut(df: DataFrame, minBytes: Long = FanOutMinBytes,
             minRows: Long = FanOutMinRows): DataFrame = {
    // Pinned/cached frames return UNTOUCHED, before any plan probe: cache
    // substitution runs before optimization, so a persisted derived frame
    // presents as a bare InMemoryRelation — plansExchange cannot see the
    // Join/Aggregate hidden inside it, the stats read would fall back to
    // the child plan's multiplicative estimate (the same ~1e5-off number
    // routeTwoPhase exists to avoid), and the df.rdd partition probe
    // would materialize the cache's upstream shuffles under AQE. A frame
    // someone pinned is either derived (already spread by its own
    // exchange) or a deliberately cached scan — neither wants an extra
    // repartition stacked on top of the cache.
    if (df.isStreaming ||
        df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        df.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[InMemoryRelation]) ||
        plansExchange(df)) df
    else if (!bigEnoughToSpread(df, minBytes, minRows)) df
    else {
      val w = width(df, minRows)
      if (df.rdd.getNumPartitions < w) df.repartition(w) else df
    }
  }

  /** Rows-derived shuffle WIDTH: `ceil(rows / grain)` clamped to
    * [2, defaultParallelism]; no row estimate keeps the full width. The
    * one width rule of graft's narrow plans: [[fanOut]] passes its
    * site's `minRows` floor as the grain, the pair operators pass
    * [[PinRowsPerTask]] for the pins ahead of their self-joins.
    *
    * A cluster-constant width charges every stage `cores × per-task
    * fixed cost` however small the input (guide §2.2: shuffle blocks
    * grow as map tasks × reduce partitions while bytes per block
    * shrink; plus ~0.2 s/task of measured stage overhead on 32-slot
    * local sessions). Measured r16 on the fan (CpuProbe, sf0.1, 32
    * cores, min-of-2 after priming):
    *   - q15 (100k events):  width 32 → 7: cpu 3.8 → 1.1 s, wall flat;
    *   - q32 (5k docs):      width 32 → 3: cpu 7.3 → 0.5 s, wall
    *     0.85 → 0.54 s;
    *   - q33 (5k docs):      width 32 → 3: cpu ~5.5 → ~1.1 s.
    * Width swept {2,3,4,7,8,16,32}: cpu rises ~linearly with width
    * while wall is flat-to-worse past ~8 — narrow is strictly better
    * until tasks own less than ~the grain's rows.
    *
    * The grain is the caller's calibrated "this many rows ≈ a fraction
    * of a second of work" signal (q32/q33 declare 2048 for regex-heavy
    * rows, the winnow family keeps 16384), so one task owns at least a
    * grain of rows and width grows linearly with the corpus until the
    * cluster width caps it — sf10+ plans keep the full width. The floor
    * of 2 keeps a pair-exploding shuffle's parallelism signal. Width
    * never changes results: everything downstream of the pair pins is
    * per-row arithmetic on exact values or keyed aggregation over them
    * (no order-sensitive float sums).
    */
  private[graft] def width(df: DataFrame, grain: Long): Int = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val g = math.max(1L, grain)
    estimatedRows(df) match {
      case Some(n) => math.max(2, math.min(p.toLong, (n + g - 1) / g).toInt)
      case None => p
    }
  }

  /** [[pinLatest]] of `df` with every exchange of its cached plan planned
    * at `partitions`, for the candidate/pair intermediates of the pair
    * operators. EnsureRequirements rewrites a user repartition BELOW the
    * session conf that feeds a join to `spark.sql.shuffle.partitions`
    * (HashShuffleSpec's skew guard), while AQE never byte-coalesces
    * REPARTITION_BY_NUM — so without this the self-join stages ran
    * `cores` tasks at ANY corpus size. Measured r16 on the q38 candidate
    * shape (LineageTruncProbe, sf0.1, 32 cores): the 32-task SHJ stage
    * burns 3.0 executor-CPU-s where the same plan at width 3 burns 0.13
    * for identical output.
    *
    * The frame is persisted through a [[Scoped]] clone set to
    * `partitions`, so the cache entry's plan carries that width while
    * the caller's conf is never written; the pin stays lazy (the first
    * consumer builds it) and comes back as a frame of the caller's
    * session, so what is built on it plans at the caller's width. When
    * `partitions` >= the session conf (the width clamps at
    * defaultParallelism, so every at-scale corpus) `df` returns as it
    * came: lazy, unpinned, its plan unchanged.
    */
  def pinAtWidth(key: String, df: DataFrame, partitions: Int): DataFrame = {
    val spark = df.sparkSession
    if (partitions >= spark.conf.get(Scoped.ShufflePartitions).toInt) df
    else register(key, Scoped.atWidth(spark, partitions)(narrow =>
      org.apache.spark.sql.GraftSqlBridge.ofRows(narrow, df).persist()))
  }

  /** [[pinLatest]] ONLY when `df`'s upstream is a DERIVED plan (contains
    * a join/aggregate/window/…): a frame consumed by several divergent
    * plans re-executes its whole upstream once per consumer, which is
    * worth a pin exactly when that upstream is expensive. A bare
    * scan+filter+project is returned unpinned — re-scanning parquet is
    * cheap, and caching a corpus-scale projection would churn executor
    * storage for no saved work.
    */
  def pinIfDerived(key: String, df: DataFrame): DataFrame =
    if (plansExchange(df)) pinLatest(key, df) else df
}
