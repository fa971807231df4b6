package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events stream. The reference is batch-only
  * (SURVEY.md §1.1); these operators extend the engine to the streaming
  * side of a training-data pipeline with the SAME transformations the
  * batch queries use — Spark's unified Dataset API means q11's hourly
  * rollup and the streaming rollup share one implementation.
  *
  * Scale: aggregations are keyed by (window, event_type) / user_id, so
  * state partitions across executors; watermarks bound state size.
  */
object Streams {

  /** Memoized contamination sidecars: (sc, canonicalized bench plan,
    * cols, params) -> broadcast. See `contaminationFilter` — bounded by
    * the number of distinct bench suites in a process (a handful), so no
    * eviction; `clearSidecarCache` destroys entries for tests or after a
    * bench suite is re-written in place under the same path.
    */
  private val sidecarCache = scala.collection.mutable.HashMap.empty[
    Any, (org.apache.spark.broadcast.Broadcast[
      (Map[Long, List[(Int, Int)]], Array[Array[Int]], Array[Long])], Long)]

  /** Drop (and unpersist) every memoized contamination sidecar. Safe
    * only when no returned frame is still being executed — unpersist
    * (not destroy) so a straggling query can refetch. Unpersist on a
    * STOPPED context throws; swallow it so clear() still runs (a test
    * suite cycling sessions must not be left with stale entries because
    * the first dead handle aborted the cleanup loop).
    */
  def clearSidecarCache(): Unit = sidecarCache.synchronized {
    sidecarCache.values.foreach(v =>
      try v._1.unpersist(blocking = false) catch { case _: Exception => () })
    sidecarCache.clear()
  }

  /** Evict entries of stopped SparkContexts (the Tables.load sweep
    * discipline) — without it a suite cycling sessions accumulates dead
    * broadcast handles pinning bench arrays for the JVM's lifetime.
    */
  private def sweepSidecarCache(): Unit = sidecarCache.synchronized {
    sidecarCache.keys.toSeq.foreach {
      case key @ (sc: org.apache.spark.SparkContext, _, _, _, _, _, _)
          if sc.isStopped =>
        sidecarCache.remove(key)
      case _ => ()
    }
  }

  /** Temp-column name that cannot collide with a caller column under
    * Spark's DEFAULT case-INSENSITIVE resolution: `columns.contains` is
    * case-sensitive, so a caller column "_FP" would pass that check and
    * then be silently replaced by withColumn("_fp", …) and dropped.
    */
  private def freshCol(base: String, cols: Array[String]): String = {
    val lower = cols.map(_.toLowerCase)
    Iterator.iterate(base)(_ + "_")
      .find(c => !lower.contains(c.toLowerCase)).get
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Raw-layout event schema: `ts` as it sits in a TIMESTAMP(NANOS)
    * parquet — surfaced as long under the legacy nanosAsLong conf (see
    * graft.Tables.load).
    */
  val rawEventSchema: StructType = StructType(
    eventSchema.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** Input-sized shuffle/state partition count for a file-backed stream.
    *
    * Stateful streaming cost has two scale regimes: each shuffle
    * partition pays a state-store open/commit PER MICRO-BATCH (so tiny
    * inputs want few partitions — measured sf0.1 floor: 2 beats 16 by
    * 1.6 s/run on session windows), while a fixed small constant
    * serializes state work once the keyed data outgrows it (the same
    * pinned "2" costs 2× at 10× the input). Scale with input bytes at
    * ~2 MB/partition — the measured sf0.1 break-even — clamped to
    * [2, defaultParallelism] so a real cluster fans out to its width.
    */
  def sizedStatePartitions(spark: SparkSession, dir: String,
                           glob: String): Int = {
    // Hadoop FileSystem, NOT java.io.File: the deployments this sizing
    // exists for read from hdfs://, s3a:// or file: URIs, where a local
    // File probe silently measures 0 bytes and re-pins the constant
    // floor of 2 this function was written to remove. globStatus
    // resolves the same pattern on every scheme; a directory table is
    // summed over its *.parquet leaves RECURSIVELY (a partitionBy table
    // keeps its data under key=value subdirs — a direct-child-only glob
    // measures it as 0 bytes and re-pins the floor of 2), skipping
    // metadata subtrees (_spark_metadata, _delta_log, .checkpoints) —
    // getContentSummary counted every recursive byte (commit markers,
    // checkpoint debris), drifting the sizing upward on written-to
    // tables.
    val path = new org.apache.hadoop.fs.Path(dir, glob)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    def dataBytes(st: org.apache.hadoop.fs.FileStatus): Long =
      if (st.isDirectory) {
        if (hidden(st.getPath.getName)) 0L
        else try fs.listStatus(st.getPath).map(dataBytes).sum
        catch { // compaction/retention can delete a partition dir
          // mid-walk on exactly the written-to tables this sizes —
          // a vanished subtree is 0 bytes, not a stream-setup crash
          case _: java.io.FileNotFoundException => 0L
        }
      } else if (st.getPath.getName.endsWith(".parquet") &&
                 !hidden(st.getPath.getName)) st.getLen
      else 0L
    val bytes = Option(fs.globStatus(path)).toSeq.flatten.map { st =>
      if (st.isDirectory) dataBytes(st) else st.getLen
    }.sum
    val byBytes = math.ceil(bytes.toDouble / (2L << 20)).toInt
    math.max(2, math.min(spark.sparkContext.defaultParallelism, byBytes))
  }

  /** Stream straight over the RAW events parquet — no pre-normalized copy.
    *
    * The raw `ts` layout has shipped two ways across testdata generations
    * (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS) no-tz), and the streaming
    * source's user-supplied schema CANNOT be trusted to catch a mismatch:
    * the vectorized reader happily serves a micros INT64 column through a
    * LongType schema, which a nanos rebuild would then silently shrink
    * 1000× (measured: 1970-era windows). So peek the actual file footer
    * with a one-time batch read and pick the matching projection:
    *  - long (nanos): rebuild micros via integer DIV 1000;
    *  - timestamp_ntz (micros): re-tag to TimestampType (UTC sessions
    *    make this value-identical), mirroring batch-side Tables.load.
    */
  def readEventsRaw(spark: SparkSession, dir: String,
                    glob: String = "*.parquet"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The peek happens ONCE at stream setup: a directory whose layout
    // generation changes MID-STREAM (or mixes generations) is out of
    // contract — the vectorized reader would serve the other layout
    // through this schema and the rebuild would corrupt those files'
    // timestamps silently. One directory, one generation.
    // An EMPTY directory (stream started before the first file lands —
    // the normal file-source deployment order) cannot be peeked: fall
    // back to the modern TimestampType schema instead of crashing setup.
    val fileTsType =
      try spark.read.option("pathGlobFilter", glob).parquet(dir)
        .schema.find(_.name == "ts").map(_.dataType)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    def stream(schema: StructType): DataFrame =
      spark.readStream.schema(schema)
        .option("pathGlobFilter", glob) // streaming sources need a DIRECTORY
        .parquet(dir)
    fileTsType match {
      case Some(LongType) =>
        graft.Tables.rebuildNanosTs(stream(rawEventSchema), "ts")
      case Some(TimestampNTZType) =>
        val ntzSchema = StructType(eventSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))
        graft.Tables.ntzToTimestamp(stream(ntzSchema), "ts")
      case _ => stream(eventSchema)
    }
  }

  /** Windowed rollup (shared shape with batch q11): tumbling window +
    * per-type counts/sums, 10-minute watermark bounds state.
    */
  def windowedRollup(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Event-time sessionization on the built-in `session_window`: per-key
    * sessions that merge events less than `gap` apart. Two properties the
    * earlier flatMapGroupsWithState version lacked:
    *
    *   - sessions close by WATERMARK (event time), so replay/backfill of
    *     historical data yields exactly the same sessions as a live run —
    *     a processing-time timeout closes sessions by wall clock, which is
    *     wrong the moment input isn't real-time;
    *   - per-key state lives in the session-window state store (sorted
    *     merge, incremental) — no per-group `toSeq.sortBy` buffering, so a
    *     hot key cannot OOM an executor within a batch.
    *
    * Append mode emits each session once the watermark passes its end
    * (gap past the last event). `session_window` merges boundary-
    * inclusively — an event exactly `gap` after the last one EXTENDS the
    * session; a new session starts only when the inter-event gap exceeds
    * `gap` — which matches the batch twin's (q49) "new session when
    * gap > 30 min" rule at gap = 30 min over second-floored timestamps.
    *
    * ==State store at scale==
    * The default HDFS-backed provider keeps every open session's state
    * ON-HEAP — measured to OOM executors at 100× session-key cardinality
    * (the decade-3 probe's lesson). Past ~10^7 concurrent open sessions
    * per executor, start the query on RocksDB:
    * `Streams.withStateStore(spark, "rocksdb") { s => … }` (or the
    * provider key in `SPARK_GRAFT_EXTRA_CONF` with `tools.Sessions.build`) —
    * state is then bounded by local disk with changelog checkpointing,
    * not heap, at a probed ~0.3 s/query floor cost (NOTES r12 item 8:
    * q66 1.47 → 1.79 s at sf0.01). The provider is fixed
    * at query start and pinned by the checkpoint; restarts keep whatever
    * the checkpoint began with. Contract-pinned under the RocksDB
    * provider by StreamingMultimodalSpec's checkpointed-restart test.
    */
  def sessionWindows(events: DataFrame, tsCol: String = "ts",
                     keyCol: String = "user_id", valueCol: String = "value",
                     gap: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(valueCol).as("sum_value"),
        (max(col(tsCol)).cast("long") - min(col(tsCol)).cast("long"))
          .as("duration_sec"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"), col("duration_sec"))

  /** BOUNDED-OUTPUT serving variant of [[sessionWindows]] (r15, verdict
    * item 7): per-(key, time-bucket) session STATS instead of one row
    * per session. The per-session stream is correct but its output is
    * session-count-sized — fine for a file sink, a driver OOM for any
    * collecting sink at 100× (the q66 probe needed a noop sink at
    * decade 3). Here a SECOND event-time aggregation chains after
    * `session_window` (multiple stateful operators, Spark ≥ 3.4):
    * sessions are bucketed by their END time (`window_time` = end − 1
    * tick, so a session closing exactly on a boundary lands in the
    * bucket it closed in — end-exclusive semantics), and each
    * (key, bucket) row is emitted ONCE, final, when the watermark
    * passes the bucket — the shape a 100 TB caller actually ships to a
    * dashboard or feature store. Output size is keys × active buckets,
    * never session count; both aggregations' state stays
    * watermark-bounded (RocksDB guidance in [[sessionWindows]]'s
    * scaladoc applies to both stores).
    *
    * Emitted columns: key, `bucket_start`, `n_sessions`, `n_events`,
    * `sum_value`, `max_duration_sec`. Spec-pinned against the q49
    * batch sessionization rule under BOTH state-store providers.
    */
  def sessionStats(events: DataFrame, tsCol: String = "ts",
                   keyCol: String = "user_id", valueCol: String = "value",
                   gap: String = "30 minutes",
                   watermark: String = "10 minutes",
                   bucket: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(valueCol).as("sum_value"),
        (max(col(tsCol)).cast("long") - min(col(tsCol)).cast("long"))
          .as("duration_sec"))
      .groupBy(col(keyCol),
        window(window_time(col("session_window")), bucket))
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        sum("sum_value").as("sum_value"),
        max("duration_sec").as("max_duration_sec"))
      .select(col(keyCol), col("window.start").as("bucket_start"),
        col("n_sessions"), col("n_events"), col("sum_value"),
        col("max_duration_sec"))

  /** Streaming exact dedup: ONE survivor per normalized-text fingerprint
    * (first arrival — within a microbatch that is processing order, not
    * event order), with state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` evicts fingerprint state once the
    * event time passes the horizon, so a continuous crawl can dedup
    * forever without unbounded state (the streaming twin of
    * `Dedup.exact`'s batch hash-groupBy).
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermark: String = "10 minutes"): DataFrame = {
    // collision-free temp name: a hard-coded "fingerprint" would clobber
    // and then drop a caller's own fingerprint column
    val fpC = freshCol("_fp", docs.columns)
    docs
      .withColumn(fpC, graft.text.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fpC)
      .drop(fpC) // batch/stream parity: Dedup.exact returns the original schema
  }

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over the documents parquet (the incoming-crawl
    * shape); `glob` selects within a mixed-table directory.
    */
  def readDocuments(spark: SparkSession, dir: String,
                    glob: String = "documents.parquet"): DataFrame =
    spark.readStream.schema(documentSchema)
      .option("pathGlobFilter", glob).parquet(dir)

  /** In-flight substring decontamination — the streaming twin of
    * `SubstringDedup.crossSpans`: annotate each incoming document with
    * whether it shares a verbatim span >= `minLen` chars with any doc of
    * a STATIC benchmark suite. The benchmark's winnowing anchors + texts
    * are collected ONCE into a broadcast sidecar (eval suites are MBs;
    * the `maxBenchBytes` guard fails loudly if a caller passes a corpus
    * by mistake), and the stream side is a single stateless projection —
    * winnow the doc, probe the sidecar map, char-extend the hits. No
    * shuffle, no state store, no watermark: safe at any stream rate,
    * and the same call works on a batch frame (used by the spec for
    * parity with `crossSpans`).
    *
    * Appends `contaminated: boolean`, `n_bench_docs: int` (benchmark
    * docs sharing >= 1 qualifying span), `max_span: int` (0 if clean).
    * `.filter(!col("contaminated"))` is the curation gate.
    */
  def contaminationFilter(docs: DataFrame, bench: DataFrame,
                          textCol: String, idCol: String,
                          minLen: Int = 50, k: Int = 16,
                          maxBenchBytes: Long = 1L << 28,
                          maxPosPerHash: Int =
                            graft.dedup.SubstringDedup.DefaultMaxPosPerHash)
      : DataFrame = {
    require(minLen > k, s"minLen ($minLen) must exceed gram size k ($k)")
    val w = minLen - k + 1
    val spark = bench.sparkSession
    sweepSidecarCache()
    // the sidecar is MEMOIZED per (bench plan, params): bench runs and
    // stability retries call this repeatedly with the same static suite,
    // and un-memoized each call would collect + broadcast a fresh copy
    // that nothing unpersists until GC-driven ContextCleaner passes (an
    // eager unpersist would break the lazily-returned stream frame).
    // Canonicalized-plan equality keys semantically-identical frames; a
    // re-written source under the same path needs clearSidecarCache().
    val cacheKey = (spark.sparkContext, bench.queryExecution.analyzed.canonicalized,
      idCol, textCol, minLen, k, maxPosPerHash)
    def buildSidecar() = {
      val benchRows = bench
        .select(col(idCol).cast("long"), col(textCol))
        .filter(length(col(textCol)) >= minLen).collect()
      // footprint estimate of what is ACTUALLY broadcast: 4 B per code
      // point for the decoded int arrays plus ~2/(w+1)-density anchor
      // map entries at ~60 B each (boxed Long key + List cons + tuple)
      // ≈ 8 B per char all-in for ASCII — NOT the 2 B/char UTF-16
      // string estimate, which under-measured the real sidecar ~4×
      // and let near-cap suites through to the OOM the guard refuses
      val benchBytes = benchRows.iterator
        .map(r => 32L + 8L * r.getString(1).length).sum
      // refuse BEFORE broadcasting (a failed require caches nothing);
      // the post-memo require below re-checks on cache hits
      require(benchBytes <= maxBenchBytes,
        s"benchmark side is ~$benchBytes sidecar bytes (> $maxBenchBytes): " +
          "contaminationFilter broadcasts the WHOLE bench suite — pass " +
          "the eval sets here, not a corpus (or raise maxBenchBytes)")
      // bench texts are PRE-DECODED to code-point arrays once — the
      // per-row probe must not re-decode a static text per incoming doc.
      // ids ride along so contamination counts DISTINCT bench docs (the
      // crossSpans grouping), not sidecar row indices.
      val texts = benchRows.map(_.getString(1).codePoints().toArray)
      val ids = benchRows.map(_.getLong(0))
      val byHash = new scala.collection.mutable.HashMap[Long, List[(Int, Int)]]()
      var b = 0
      while (b < texts.length) {
        // capped like crossSpans (the documented parity twin): uncapped,
        // a low-entropy doc × low-entropy bench doc pair materializes
        // p×q seeds in ONE probe row — the blowup DefaultMaxPosPerHash
        // exists to stop
        val (pos, hash) = graft.functions.WinnowAnchors.winnow(
          texts(b), k, w, maxPosPerHash)
        var i = 0
        while (i < pos.length) {
          byHash(hash(i)) = (b, pos(i)) :: byHash.getOrElse(hash(i), Nil)
          i += 1
        }
        b += 1
      }
      (spark.sparkContext.broadcast((byHash.toMap, texts, ids)), benchBytes)
    }
    // the lock never spans the bench collect: a cache MISS for one suite
    // must not stall a concurrent cache HIT for another. Losing a build
    // race costs one redundant build (the loser's broadcast unpersists).
    val cached = sidecarCache.synchronized(sidecarCache.get(cacheKey))
    val (sidecar, sidecarBytes) = cached.getOrElse {
      val built = buildSidecar()
      sidecarCache.synchronized {
        sidecarCache.get(cacheKey) match {
          case Some(winner) =>
            built._1.unpersist(blocking = false); winner
          case None =>
            sidecarCache.put(cacheKey, built); built
        }
      }
    }
    // the size guard binds on cache HITS too: the memo key omits
    // maxBenchBytes on purpose (one sidecar per suite), so a caller with
    // a stricter cap must still be refused, not silently handed the big
    // broadcast a laxer caller built
    require(sidecarBytes <= maxBenchBytes,
      s"benchmark side is ~$sidecarBytes bytes (> $maxBenchBytes): " +
        "contaminationFilter broadcasts the WHOLE bench suite — pass the " +
        "eval sets here, not a corpus (or raise maxBenchBytes)")
    // fused codegen probe (graft.functions.ContaminationProbe), not a
    // Scala UDF: same winnow + extendSeeds kernels, minus the per-row
    // boxed String marshalling and catalyst result converters — the last
    // per-row UDF on a 100 TB-path operator (r12 verdict item 5)
    val vC = freshCol("_v", docs.columns)
    docs.withColumn(vC, graft.functions.ContaminationProbe(
        col(textCol), sidecar, k, minLen, maxPosPerHash))
      .withColumn("contaminated", col(s"$vC.contaminated"))
      .withColumn("n_bench_docs", col(s"$vC.n_bench_docs"))
      .withColumn("max_span", col(s"$vC.max_span"))
      .drop(vC)
  }

  /** Stream-stream interval (attribution) join: each left event pairs
    * with every right event of the same key at-or-after it within
    * `maxGap` — the click→purchase attribution shape. The time-range
    * condition plus BOTH watermarks are what bound the join state: Spark
    * derives each side's eviction horizon from them and drops buffered
    * rows once the watermark passes their reachable window; without
    * either, a stream-stream join buffers both streams forever. INNER
    * join semantics emit matches eagerly (no watermark flush needed for
    * results — only for state cleanup).
    *
    * Caller renames columns so the two sides are disjoint (`leftKey` /
    * `rightKey` are compared, both kept).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         maxGap: String = "30 minutes",
                         watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"interval $maxGap"))

  /** Run `f` on a clone of `spark` whose streaming state-store provider
    * is `provider`: "rocksdb", or "hdfs"/"default" for Spark's heap-backed
    * default. The default provider keeps every key's state ON-HEAP —
    * fine at test cardinality, an executor OOM at 100× session/join-key
    * cardinality; RocksDB keeps state off-heap/on-disk with changelog
    * checkpointing, so state size is bounded by local disk, not heap.
    * Streams `f` starts on the session it is given take the provider
    * (read at query start; a checkpoint keeps the provider it started
    * with); `spark`'s own conf is never written (graft.ops.Scoped).
    */
  def withStateStore[T](spark: SparkSession, provider: String)(
      f: SparkSession => T): T = {
    val cls = provider.toLowerCase match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" | "default" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => throw new IllegalArgumentException(
        s"state store must be rocksdb|hdfs|default, got $other")
    }
    f(graft.ops.Scoped.session(spark, graft.ops.Scoped.StateStoreProvider, cls))
  }

  /** Run a streaming frame to completion against static files via the
    * memory sink (the local test harness; on a cluster this would be a
    * kafka/delta sink).
    */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: String = "append"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }

  /** Execute a stream fully (all available input plus the no-data flush
    * batch) through the NOOP sink: the measurement vehicle for streaming
    * operators at scales where the memory sink's driver-side result
    * table would dominate or OOM (q66 at decade 3 emits ~1e8 session
    * rows — the OPERATOR's keyed state stays watermark-bounded, but
    * collecting the results does not). State work, shuffles, and
    * watermark semantics are identical to the memory path; only result
    * accumulation is dropped.
    */
  def runToNoop(df: DataFrame, outputMode: String = "append"): Unit = {
    val q = df.writeStream.format("noop").outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
  }
}
