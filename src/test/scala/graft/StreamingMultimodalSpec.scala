package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.streaming.Streams

class StreamingMultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("streaming windowed rollup matches the batch rollup on the same files") {
    // Streams DIRECTLY off the driver's raw nanos parquet — no normalized
    // copy (readEventsRaw rebuilds the timestamp in-stream).
    // complete mode: append would hold back windows the watermark hasn't
    // closed by end-of-input, losing the tail vs the batch rollup.
    val stream = Streams.windowedRollup(Streams.readEventsRaw(
      spark, "/root/testdata/sf0.001", glob = "events.parquet"))
    val got = Streams.runToMemory(stream, "rollup_test", "complete")
      .orderBy("window_start", "event_type")

    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .orderBy("window_start", "event_type")

    val g = got.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val w = want.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(g.nonEmpty && g.toSeq == w.toSeq)
  }

  test("event-time sessionization splits on inactivity gaps") {
    val dir = java.nio.file.Files.createTempDirectory("session_stream").toString
    val t0 = 1700000000000L
    def ev(id: Long, user: Long, offMs: Long, v: Double) =
      (id, new java.sql.Timestamp(t0 + offMs), user, "click", v)
    // user 1: two sessions (gap 700s > 600s); user 2: one session. The
    // sentinel (user -1, far future) pushes the WATERMARK past every real
    // session's end so append mode emits them all — on a finite file the
    // watermark otherwise stops at max(ts) - delay and holds back the tail.
    Seq(
      ev(1, 1, 0, 1.0), ev(2, 1, 60000, 2.0),
      ev(3, 1, 60000 + 700000, 4.0),
      ev(4, 2, 0, 8.0),
      ev(99, -1, 86400000L * 365, 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
      .parquet(dir)
    val out = Streams.runToMemory(
      Streams.sessionWindows(stream, gap = "600 seconds", watermark = "0 seconds"),
      "session_test", "append")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))

    // (user, n_events, sum_value, duration_sec): event-time semantics —
    // identical on live run and replay.
    assert(out.toSeq == Seq(
      (1L, 2L, 3.0, 60L),   // events at +0s, +60s
      (1L, 1L, 4.0, 0L),    // event at +760s, beyond the 600s gap
      (2L, 1L, 8.0, 0L)), s"got ${out.toSeq}")
  }

  test("sessionStats: bounded per-(key, bucket) serving output equals " +
       "the q49 batch sessionization rule, under heap AND RocksDB " +
       "providers") {
    val t0 = 1700000000000L
    def fixture(dir: String): Unit = {
      def ev(id: Long, user: Long, offMs: Long, v: Double) =
        (id, new java.sql.Timestamp(t0 + offMs), user, "click", v)
      Seq(
        // user 1: two sessions (gap 700s > 600s) whose ends land in
        // DIFFERENT 1800s buckets; user 2: one session; user 3: two
        // sessions (+1000s end 1600, +1700s end 2300) whose ends share
        // one 1800s bucket (n_sessions = 2 there) — note two sessions
        // of one key can NEVER share a bucket <= gap (their ends are
        // always > gap apart), hence bucket 1800 > gap 600
        ev(1, 1, 0, 1.0), ev(2, 1, 60000, 2.0),
        ev(3, 1, 760000, 4.0),
        ev(4, 2, 0, 8.0),
        ev(5, 3, 1000000, 1.5), ev(6, 3, 1700000, 2.5),
        ev(99, -1, 86400000L * 365, 0.0) // sentinel: flush every bucket
      ).toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(dir)
    }
    // batch truth: the q49 rule (new session when inter-event gap >
    // 600 s), sessions bucketed by end − 1 tick over 1800 s tumbling
    // windows — computed with plain window functions, no streaming
    def batchTruth(dir: String): Set[(Long, Long, Long, Long, Double, Long)] = {
      val gapSec = 600L
      val bucketSec = 1800L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts")
      spark.read.parquet(dir).filter(col("user_id") >= 0)
        .withColumn("_prev", lag("ts", 1).over(w))
        .withColumn("_new", when(col("_prev").isNull ||
          col("ts").cast("long") - col("_prev").cast("long") > gapSec, 1)
          .otherwise(0))
        .withColumn("_sid", sum("_new").over(w))
        .groupBy("user_id", "_sid")
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"),
          (max(col("ts")).cast("long") - min(col("ts")).cast("long"))
            .as("duration_sec"),
          (max(col("ts")).cast("long") + gapSec).as("_end"))
        // end is exclusive: bucket of (end − 1µs) = floor over µs
        .withColumn("bucket_start",
          floor((col("_end") * 1000000L - 1) / (bucketSec * 1000000L))
            * bucketSec)
        .groupBy("user_id", "bucket_start")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
          sum("sum_value").as("sum_value"),
          max("duration_sec").as("max_duration_sec"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
    }
    def streamed(s: SparkSession,
                 dir: String): Set[(Long, Long, Long, Long, Double, Long)] =
      Streams.runToMemory(
        Streams.sessionStats(
          s.readStream
            .schema("event_id long, ts timestamp, user_id long, " +
              "event_type string, value double").parquet(dir),
          gap = "600 seconds", watermark = "0 seconds",
          bucket = "1800 seconds"),
        s"session_stats_${System.nanoTime}", "append")
        .filter(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0),
          r.getTimestamp(1).getTime / 1000, r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getLong(5))).toSet

    val dir = java.nio.file.Files.createTempDirectory("sess_stats").toString
    fixture(dir)
    val truth = batchTruth(dir)
    assert(truth.nonEmpty && truth.exists(_._3 == 2L),
      s"fixture must produce a 2-session bucket, got $truth")
    assert(streamed(spark, dir) == truth, "heap provider must match batch truth")
    Streams.withStateStore(spark, "rocksdb")(rocks =>
      assert(streamed(rocks, dir) == truth,
        "RocksDB provider must match batch truth"))
  }

  test("stream-stream interval join pairs clicks with in-window purchases") {
    val dir = java.nio.file.Files.createTempDirectory("attr_stream").toString
    val t0 = 1700000000000L
    def ev(id: Long, user: Long, offMs: Long, typ: String) =
      (id, new java.sql.Timestamp(t0 + offMs), user, typ)
    Seq(
      ev(1, 1, 0, "click"),
      ev(2, 1, 100000, "purchase"),        // +100s: in the 30-min window
      ev(3, 1, 2000000, "purchase"),       // +2000s: past the window
      ev(4, 2, 0, "purchase"),             // purchase with no click
      ev(5, 3, 500000, "click"),           // click with no purchase
      ev(6, 1, 50000, "click")             // second click: also pairs with id 2
    ).toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(dir)
    def src = spark.readStream
      .schema("event_id long, ts timestamp, user_id long, event_type string")
      .parquet(dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("c_ts"), col("user_id"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
        col("user_id").as("_pu"))
    val out = Streams.runToMemory(
      Streams.streamIntervalJoin(clicks, purchases,
        "user_id", "_pu", "c_ts", "p_ts", maxGap = "30 minutes"),
      "attr_test", "append")
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both clicks of user 1 attribute to purchase 2; nothing else pairs
    assert(out == Set((1L, 2L), (6L, 2L)), s"got $out")
  }

  for (localFs <- Seq(false, true)) {
    test("checkpointed restart resumes exactly-once with dedup state intact" +
         (if (localFs) " (graft.store.LocalFs)" else "")) {
      if (localFs) LocalFsSpec.withLocalFs(spark)(dedupRestart())
      else dedupRestart()
    }
  }

  private def dedupRestart(): Unit = {
    val src = java.nio.file.Files.createTempDirectory("ck_src").toString
    val out = java.nio.file.Files.createTempDirectory("ck_out").toString
    val chk = java.nio.file.Files.createTempDirectory("ck_chk").toString
    val t0 = 1700000000000L
    def docs(rows: Seq[(Long, String, Long)]): Unit =
      rows.map { case (id, text, offMs) =>
        (id, text, new java.sql.Timestamp(t0 + offMs)) }
        .toDF("doc_id", "text", "ts")
        .write.mode("append").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id long, text string, ts timestamp")
        .parquet(src)
      // long watermark: dedup state must survive the restart, not evict
      val q = Streams.dedupStream(stream, "text", "ts", watermark = "30 days")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    docs(Seq((1L, "alpha beta", 0L), (2L, "gamma delta", 1000L)))
    run()
    // second batch arrives AFTER a full stop: id 3 duplicates id 1's
    // fingerprint and must be dropped by the RECOVERED state store; the
    // already-emitted rows must not re-emit (exactly-once file sink)
    docs(Seq((3L, "alpha beta", 2000L), (4L, "epsilon zeta", 3000L)))
    run()
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 4L),
      s"restart must neither re-emit nor forget dedup state, got $got")
  }

  test("checkpointed restart merges a session across the stop") {
    // a PARTIAL session (state, not output) must survive kill + restart:
    // batch 1 opens user 1's session, the stream stops, batch 2 extends
    // it within the gap — one merged session proves the session-window
    // state store recovered; lost state would emit n_events=1
    val src = java.nio.file.Files.createTempDirectory("sw_src").toString
    val out = java.nio.file.Files.createTempDirectory("sw_out").toString
    val chk = java.nio.file.Files.createTempDirectory("sw_chk").toString
    val t0 = 1700000000000L
    def events(rows: Seq[(Long, Long, Long, Double)]): Unit =
      rows.map { case (id, user, offMs, v) =>
        (id, new java.sql.Timestamp(t0 + offMs), user, "click", v) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .parquet(src)
      val q = Streams.sessionWindows(stream, gap = "600 seconds",
        watermark = "0 seconds")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    // run 1: open sessions only — watermark (60s) passes no session end,
    // so nothing is emitted; everything rides in recovered state
    events(Seq((1L, 1L, 0L, 1.0), (2L, 1L, 60000L, 2.0), (4L, 2L, 0L, 8.0)))
    run()
    assert(!new java.io.File(out).listFiles().exists(_.getName.endsWith(".parquet"))
      || spark.read.parquet(out).isEmpty, "no session may close in run 1")
    // run 2: +360s extends user 1's session (gap 600s not exceeded);
    // the sentinel pushes the watermark past every session end
    events(Seq((3L, 1L, 360000L, 4.0),
      (99L, -1L, 86400000L * 365, 0.0)))
    run()
    val got = spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 7.0, 360L), // ONE merged session spanning the restart
      (2L, 1L, 8.0, 0L)), s"got ${got.toSeq}")
  }

  test("checkpointed restart preserves buffered interval-join state") {
    // a click buffered by the join (no purchase yet) must survive kill +
    // restart and pair with a purchase that only arrives afterwards
    val src = java.nio.file.Files.createTempDirectory("ij_src").toString
    val out = java.nio.file.Files.createTempDirectory("ij_out").toString
    val chk = java.nio.file.Files.createTempDirectory("ij_chk").toString
    val t0 = 1700000000000L
    def events(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, user, offMs, typ) =>
        (id, new java.sql.Timestamp(t0 + offMs), user, typ) }
        .toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("append").parquet(src)
    def run(): Unit = {
      def s = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string")
        .parquet(src)
      val clicks = s.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id"))
      val purchases = s.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
          col("user_id").as("_pu"))
      val q = Streams.streamIntervalJoin(clicks, purchases,
        "user_id", "_pu", "c_ts", "p_ts", maxGap = "30 minutes")
        .select("click_id", "purchase_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    events(Seq((1L, 1L, 0L, "click"), (5L, 3L, 0L, "click")))
    run() // no purchases yet: both clicks buffered in join state
    events(Seq(
      (2L, 1L, 100000L, "purchase"),  // pairs with the RECOVERED click 1
      (3L, 3L, 3000000L, "purchase"), // +50 min: outside user 3's window
      (6L, 1L, 200000L, "click")))    // AFTER purchase 2: must not pair
    run()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)),
      s"buffered click must pair exactly once across the restart, got $got")
  }

  test("RocksDB state store: checkpointed restarts recover session and join state") {
    // same kill + restart contracts as the two HDFS-provider tests above,
    // under the RocksDB provider (the 100×-cardinality deployment shape:
    // state bounded by local disk, not executor heap)
    Streams.withStateStore(spark, "rocksdb") { rocks =>
      val t0 = 1700000000000L
      // --- session merge across the stop ---
      val src = java.nio.file.Files.createTempDirectory("rdb_sw_src").toString
      val out = java.nio.file.Files.createTempDirectory("rdb_sw_out").toString
      val chk = java.nio.file.Files.createTempDirectory("rdb_sw_chk").toString
      def events(rows: Seq[(Long, Long, Long, Double)]): Unit =
        rows.map { case (id, user, offMs, v) =>
          (id, new java.sql.Timestamp(t0 + offMs), user, "click", v) }
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .write.mode("append").parquet(src)
      def run(): Unit = {
        val stream = rocks.readStream
          .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
          .parquet(src)
        val q = Streams.sessionWindows(stream, gap = "600 seconds",
          watermark = "0 seconds")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .outputMode("append").start()
        q.processAllAvailable(); q.stop()
      }
      events(Seq((1L, 1L, 0L, 1.0), (2L, 1L, 60000L, 2.0)))
      run()
      events(Seq((3L, 1L, 360000L, 4.0), (99L, -1L, 86400000L * 365, 0.0)))
      run()
      val sessions = spark.read.parquet(out)
        .filter(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
      assert(sessions.toSeq == Seq((1L, 3L, 7.0, 360L)),
        s"RocksDB-recovered state must merge one session, got ${sessions.toSeq}")
      // the stream started on the clone ran on the clone's provider
      // (the offset log records the provider the query started with)
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(chk, "offsets", "0")), "UTF-8")
        .contains("RocksDBStateStoreProvider"), "the stream must run on RocksDB")

      // --- buffered interval-join state across the stop ---
      val jsrc = java.nio.file.Files.createTempDirectory("rdb_ij_src").toString
      val jout = java.nio.file.Files.createTempDirectory("rdb_ij_out").toString
      val jchk = java.nio.file.Files.createTempDirectory("rdb_ij_chk").toString
      def jevents(rows: Seq[(Long, Long, Long, String)]): Unit =
        rows.map { case (id, user, offMs, typ) =>
          (id, new java.sql.Timestamp(t0 + offMs), user, typ) }
          .toDF("event_id", "ts", "user_id", "event_type")
          .write.mode("append").parquet(jsrc)
      def jrun(): Unit = {
        def s = rocks.readStream
          .schema("event_id long, ts timestamp, user_id long, event_type string")
          .parquet(jsrc)
        val clicks = s.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
            col("user_id"))
        val purchases = s.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
            col("user_id").as("_pu"))
        val q = Streams.streamIntervalJoin(clicks, purchases,
          "user_id", "_pu", "c_ts", "p_ts", maxGap = "30 minutes")
          .select("click_id", "purchase_id")
          .writeStream.format("parquet")
          .option("path", jout).option("checkpointLocation", jchk)
          .outputMode("append").start()
        q.processAllAvailable(); q.stop()
      }
      jevents(Seq((1L, 1L, 0L, "click")))
      jrun() // click buffered in RocksDB join state
      jevents(Seq((2L, 1L, 100000L, "purchase")))
      jrun()
      val pairs = spark.read.parquet(jout)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)),
        s"RocksDB-buffered click must pair across the restart, got $pairs")
    }
  }

  test("multimodal feature extraction is deterministic with fixed width") {
    val media = Multimodal.syntheticMedia(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(media.schema.fieldNames.toSeq ==
      Multimodal.mediaSchema.fieldNames.toSeq)
    val out = Multimodal.extractFeatures(media, "media", "media_id", dim = 16)
    val feats = out.select("media_id", "media_features")
      .as[(Long, Seq[Float])].collect().toMap
    assert(feats.values.forall(_.size == 16))
    val again = Multimodal.extractFeatures(media, "media", "media_id", dim = 16)
      .select("media_id", "media_features").as[(Long, Seq[Float])].collect().toMap
    assert(feats == again, "stub decode is deterministic")
    assert(feats.values.exists(_.exists(_ != 0.0f)), "features are non-trivial")
  }

  test("MediaDecoder SPI: ServiceLoader plug-in decodes formats the " +
       "built-ins reject; built-ins and fallbacks unaffected") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // TestMediaDecoder (registered via the real META-INF/services entry
    // on the test classpath) handles only FAKEIMG/FAKEAUD payloads
    val schema = StructType(Seq(StructField("media_id", LongType),
      StructField("media", BinaryType)))
    val rows = Seq(
      Row(1L, "FAKEIMG-payload".getBytes("US-ASCII")),
      Row(2L, "FAKEAUD-payload".getBytes("US-ASCII")),
      Row(3L, "neither-format!".getBytes("US-ASCII")),
      Row(4L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    // image path: the 2x2 checkerboard decodes through the SPI, so
    // imageMeta sees real pixel dims; the garbage row stays null
    val meta = Multimodal.imageMeta(df, "media")
      .select("media_id", "decoded_width", "decoded_height")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(meta(1L) == (Some(2), Some(2)), s"SPI image decoded: $meta")
    assert(meta(3L) == (None, None) && meta(4L) == (None, None),
      "undecodable bytes keep the null/fallback contract")
    // audio path: audioMeta reports the SPI decoder's rate/samples
    val am = Multimodal.audioMeta(df, "media")
      .select("media_id", "sample_rate", "n_samples")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(am(2L) == (Some(8000), Some(4)), s"SPI audio decoded: $am")
    assert(am(3L) == (None, None), "garbage bytes undecoded")
    // a REAL PNG still decodes through ImageIO (built-ins first: the
    // SPI cannot shadow oracle-pinned kernels)
    val img = new java.awt.image.BufferedImage(3, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val pngDf = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(9L, baos.toByteArray)), 1), schema)
    val pngMeta = Multimodal.imageMeta(pngDf, "media")
      .select("decoded_width", "decoded_height").head()
    assert(pngMeta.getInt(0) == 3 && pngMeta.getInt(1) == 1)
  }

  test("streaming dedup keeps first occurrence per fingerprint") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_stream").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    Seq(
      (1L, "the same document text", ts(0)),
      (2L, "a different document", ts(1)),
      (3L, "  THE SAME   document TEXT ", ts(2)), // normalized dup of 1
      (4L, "the same document text", ts(3))       // exact dup of 1
    ).toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("doc_id long, text string, ts timestamp").parquet(dir)
    val out = Streams.runToMemory(
      Streams.dedupStream(stream, "text", "ts"), "dedup_test")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // arrival order within a microbatch is not event-ordered, so WHICH
    // duplicate survives is arbitrary — the invariant is one per group
    assert(ids.size == 2 && ids.contains(2L) &&
      ids.exists(Set(1L, 3L, 4L)), s"one survivor per fingerprint, got $ids")
  }

  test("real image kernels: decode, resize, luminance features on PNG bytes") {
    // Generate real PNGs in-test: left half dark, right half bright.
    def png(w: Int, h: Int, split: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y,
          if (split && x >= w / 2) 0xffffff else if (split) 0x000000 else 0x808080)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, png(40, 20, split = true), "image/png", 40, 20),
      (2L, png(8, 8, split = false), "image/png", 8, 8),
      (3L, "not an image".getBytes("UTF-8"), "fake/raw", 0, 0))
    val media = rows.toDF("media_id", "media", "format", "width", "height")

    // decoded metadata reflects actual pixels; non-images are null
    val meta = Multimodal.imageMeta(media, "media")
      .select("media_id", "decoded_width", "decoded_height")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2))))).toMap
    assert(meta(1L).contains((40, 20)) && meta(2L).contains((8, 8)))
    assert(meta(3L).isEmpty, "undecodable bytes -> null dims")

    // resize re-encodes decodable images to the target pixel dims
    val resized = Multimodal.resize(media, "media", 16, 16)
    val rm = Multimodal.imageMeta(resized, "media")
      .select("media_id", "decoded_width")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(rm(1L).contains(16) && rm(2L).contains(16))
    assert(rm(3L).isEmpty, "fallback subsample stays undecodable")

    // features: split image has dark lanes then bright lanes per grid row;
    // uniform gray is flat; real luminance in [0,1]
    val feats = Multimodal.extractFeatures(media, "media", "media_id", dim = 16)
      .select("media_id", "media_features")
      .as[(Long, Seq[Float])].collect().toMap
    val split = feats(1L); val flat = feats(2L)
    assert(split.size == 16 && split.forall(v => v >= 0f && v <= 1f))
    assert(split.grouped(4).forall(row => row.head < 0.4f && row.last > 0.6f),
      s"left dark, right bright per grid row: $split")
    assert(flat.max - flat.min < 0.05f, s"uniform image -> flat features: $flat")
  }

  test("audioWindowStats: integer-exact windows off real PCM bytes") {
    // 1 clip, 10 samples, 3 windows -> floor split 3/3/4 (last window
    // takes the remainder, audioFeatureVec's rule)
    val samples = Array[Short](100, -200, 300, -400, 0, 7, -7, 32767, -32768, 5)
    val n = samples.length
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(n * 2)
    samples.foreach(bb.putShort)
    val media = Seq((1L, bb.array()), (2L, "junk".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "media")
    val got = Multimodal.audioWindowStats(media, "media", "media_id", 3)
      .orderBy("window").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    // driver-side truth straight off the int samples
    def stats(lo: Int, hi: Int) = {
      val w = samples.slice(lo, hi)
      (w.map(s => s.toLong * s).sum,
        w.indices.drop(1).count(i => (w(i) >= 0) != (w(i - 1) >= 0)))
    }
    val w0 = stats(0, 3); val w1 = stats(3, 6); val w2 = stats(6, 10)
    assert(got.toSeq == Seq(
      (1L, 0, 3, w0._1, w0._2), (1L, 1, 3, w1._1, w1._2),
      (1L, 2, 4, w2._1, w2._2)), got.toSeq.toString)
    // non-WAV and null payloads emit NO rows (ids 2 and 3 absent)
    assert(got.forall(_._1 == 1L))
  }

  test("imageGridStats: integer-exact cells off real PNG bytes") {
    // 5x7 image, 2x2 grid -> floor split: cell widths 2/3, heights 3/4
    // (last row/column takes the remainder, audioWindowStats' rule in 2D)
    val w = 5; val h = 7
    def px(x: Int, y: Int) = ((x * 40 + y) % 256, (x + y * 30) % 256, (x * y * 9) % 256)
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val media = Seq((1L, bos.toByteArray), (2L, "junk".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "media")
    val got = Multimodal.imageGridStats(media, "media", "media_id", 2)
      .orderBy("gy", "gx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // driver-side truth straight off the formula pixels
    def cell(x0: Int, x1: Int, y0: Int, y1: Int) = {
      val ps = for (y <- y0 until y1; x <- x0 until x1) yield px(x, y)
      (ps.map(_._1.toLong).sum, ps.map(_._2.toLong).sum, ps.map(_._3.toLong).sum)
    }
    val exp = Seq((0, 0, 0, 2, 0, 3), (1, 0, 2, 5, 0, 3),
      (0, 1, 0, 2, 3, 7), (1, 1, 2, 5, 3, 7)).map {
      case (gx, gy, x0, x1, y0, y1) =>
        val (sr, sg, sb) = cell(x0, x1, y0, y1)
        (1L, gx, gy, (x1 - x0) * (y1 - y0), sr, sg, sb)
    }
    assert(got.toSeq == exp, got.toSeq.toString)
    // non-image and null payloads emit NO rows (ids 2 and 3 absent)
    assert(got.forall(_._1 == 1L))
  }

  test("real audio kernels: WAV parse, RMS/ZCR features on PCM bytes") {
    // Hand-rolled 16-bit mono PCM WAV: `freq` Hz sine at `amp`, 8 kHz.
    def wav(freq: Double, amp: Double, n: Int = 800, rate: Int = 8000): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(n * 2)
      (0 until n).foreach(i => bb.putShort(
        (amp * 32767 * math.sin(2 * math.Pi * freq * i / rate)).toShort))
      bb.array()
    }
    val rows = Seq(
      (1L, wav(440.0, 0.5), "audio/wav", 0, 0),
      (2L, wav(2000.0, 0.5), "audio/wav", 0, 0),  // higher freq -> more ZCR
      (3L, "not audio".getBytes("UTF-8"), "fake/raw", 0, 0))
    val media = rows.toDF("media_id", "media", "format", "width", "height")

    val meta = Multimodal.audioMeta(media, "media")
      .select("media_id", "sample_rate", "n_samples", "duration_ms")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getInt(3))))).toMap
    assert(meta(1L).contains((8000, 800, 100)), s"got ${meta(1L)}")
    assert(meta(3L).isEmpty, "non-WAV -> null audio meta")

    val feats = Multimodal.extractAudioFeatures(media, "media", "media_id", dim = 8)
      .select("media_id", "audio_features").as[(Long, Seq[Float])].collect().toMap
    val low = feats(1L); val high = feats(2L)
    // RMS of a 0.5-amplitude sine is 0.5/sqrt(2) ~ 0.354 in every window
    assert(low.take(4).forall(v => math.abs(v - 0.354f) < 0.02f), s"rms: $low")
    // zero-crossing rate scales with frequency: 2000 Hz >> 440 Hz
    assert(high.drop(4).head > low.drop(4).head * 2,
      s"zcr 2kHz ${high.drop(4).head} vs 440Hz ${low.drop(4).head}")
  }

  test("REAL compressed kernels: G.711 WAV decode, MJPEG frame sampling") {
    // G.711 expansion against the standard's test points
    assert(Multimodal.ulawToLinear(0x00.toByte) == -32124)
    assert(Multimodal.ulawToLinear(0xff.toByte) == 0)
    assert(Multimodal.alawToLinear(0x55.toByte) == -8)
    assert(Multimodal.alawToLinear(0xD5.toByte) == 8)
    // a mu-law WAV (format code 7, 8-bit) decodes through the same parser
    def g711Wav(code: Short, data: Array[Byte], rate: Int = 8000): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(code).putShort(1)
        .putInt(rate).putInt(rate).putShort(1).putShort(8)
      bb.put("data".getBytes).putInt(data.length)
      bb.put(data)
      bb.array()
    }
    val mu = Multimodal.decodeWav(g711Wav(7, Array(0x00.toByte, 0xff.toByte)))
    assert(mu != null && mu.sampleRate == 8000 && mu.samples.length == 2)
    assert(math.abs(mu.samples(0) - (-32124 / 32768.0f)) < 1e-6, mu.samples(0))
    assert(mu.samples(1) == 0.0f)
    val al = Multimodal.decodeWav(g711Wav(6, Array(0x55.toByte, 0xD5.toByte)))
    assert(al != null && math.abs(al.samples(0) + 8 / 32768.0f) < 1e-6)

    // MJPEG = concatenated REAL JPEGs (ImageIO-encoded); sample every 2nd
    def jpegBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val stream = jpegBytes(8, 6, 0xff0000) ++ jpegBytes(10, 4, 0x00ff00) ++
      jpegBytes(12, 2, 0x0000ff)
    assert(Multimodal.mjpegFrameOffsets(stream).size == 3)
    // header payloads may contain raw FF D9 — a naive byte scan would
    // truncate at the false EOI; the length-aware walk must not. Inject
    // an APP15 segment whose payload is literally FF D9 after SOI.
    val base = jpegBytes(8, 6, 0x123456)
    val app15 = Array(0xFF, 0xEF, 0x00, 0x04, 0xFF, 0xD9).map(_.toByte)
    val tricky = base.take(2) ++ app15 ++ base.drop(2)
    val offs = Multimodal.mjpegFrameOffsets(tricky)
    assert(offs == Seq((0, tricky.length)),
      s"false EOI in APP payload must not truncate the frame: $offs")
    // property: any concatenation of k valid JPEGs (with junk between
    // them) yields exactly k frames at the right offsets
    val rng2 = new scala.util.Random(5)
    (1 to 5).foreach { _ =>
      val k = 1 + rng2.nextInt(5)
      val parts = (0 until k).map(i =>
        jpegBytes(4 + rng2.nextInt(12), 2 + rng2.nextInt(10), rng2.nextInt()))
      val junk = Array.fill(rng2.nextInt(8))(rng2.nextInt(256).toByte)
        .filterNot(b => (b & 0xff) == 0xff) // junk without marker prefixes
      val cat = parts.reduce(_ ++ junk ++ _)
      val found = Multimodal.mjpegFrameOffsets(cat)
      assert(found.size == k, s"expected $k frames, got ${found.size}")
      found.foreach { case (s, e) =>
        assert(Multimodal.decodeImage(
          java.util.Arrays.copyOfRange(cat, s, e)) != null)
      }
    }
    val df = Seq((1L, stream), (2L, "not a video".getBytes("UTF-8")))
      .toDF("media_id", "media")
    val frames = Multimodal.sampleFramesMjpeg(df, "media", "media_id", everyN = 2)
      .select("media_id", "frame_idx", "width", "height")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // frames 0 and 2 of row 1 with their DECODED dimensions; row 2 none
    assert(frames.toSet == Set((1L, 0, 8, 6), (1L, 1, 12, 2)), frames.toSeq.toString)
  }

  test("resize updates metadata and shrinks payload; frame sampling explodes") {
    val media = Multimodal.syntheticMedia(
      Tables.documents(spark, "/root/testdata/sf0.001")).limit(10)
    val resized = Multimodal.resize(media, "media", 64, 64)
    // synthetic payloads are text bytes -> every row takes the byte-
    // subsample fallback, so width/height keep their ORIGINAL values
    // (metadata stays truthful: no pixel dims asserted for non-images)
    val dims = resized.select("media_id", "width", "height")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val orig = media.select("media_id", "width", "height")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(dims == orig, "fallback rows keep original dims")
    val frames = Multimodal.sampleFrames(media, "media", "media_id",
      frameBytes = 32, everyN = 2)
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx", "frame"))
    assert(frames.count() > 10, "one row per sampled frame")
  }

  test("sizedStatePartitions scales with input bytes within clamps") {
    val dir = java.nio.file.Files.createTempDirectory("ssp").toString
    // ~2 MB per partition, within [2, defaultParallelism]
    val p = spark.sparkContext.defaultParallelism
    def want(mb: Int) = math.max(2, math.min(p, (mb + 1) / 2))
    def put(name: String, bytes: Int): Unit = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, new Array[Byte](bytes))
    }
    // floor: tiny and missing inputs both get the 2-partition floor
    put("tiny.parquet", 1024)
    assert(Streams.sizedStatePartitions(spark, dir, "tiny.parquet") == 2)
    assert(Streams.sizedStatePartitions(spark, dir, "absent.parquet") == 2)
    // scaling: ~2 MB per partition (a 7 MB flat file -> 4)
    put("mid.parquet", 7 * 1024 * 1024)
    assert(Streams.sizedStatePartitions(spark, dir, "mid.parquet") == want(7))
    // directory tables: part files are summed
    put("tbl.parquet/part-0.parquet", 3 * 1024 * 1024)
    put("tbl.parquet/part-1.parquet", 3 * 1024 * 1024)
    assert(Streams.sizedStatePartitions(spark, dir, "tbl.parquet") == want(6))
    // ...and ONLY *.parquet leaves count: commit markers, _spark_metadata
    // and other debris in a written-to table must not drift the sizing
    // upward (getContentSummary summed every recursive byte)
    put("tbl.parquet/_SUCCESS", 0)
    put("tbl.parquet/_spark_metadata/0", 4 * 1024 * 1024)
    put("tbl.parquet/part-2.snappy.orc", 8 * 1024 * 1024)
    assert(Streams.sizedStatePartitions(spark, dir, "tbl.parquet") == want(6),
      "non-parquet debris must not change state sizing")
    // partitioned layouts: partitionBy tables keep their data under
    // key=value SUBDIRS with no direct-child *.parquet at all — a
    // non-recursive glob measures such a table as 0 bytes and re-pins
    // the 2-partition floor the function exists to remove
    put("ptbl.parquet/day=1/part-0.parquet", 3 * 1024 * 1024)
    put("ptbl.parquet/day=2/part-0.parquet", 3 * 1024 * 1024)
    put("ptbl.parquet/_spark_metadata/0", 4 * 1024 * 1024)
    assert(Streams.sizedStatePartitions(spark, dir, "ptbl.parquet") == want(6),
      "partitioned table must sum its nested *.parquet leaves")
    // ceiling: never past the session's parallelism
    put("huge.parquet", 200 * 1024 * 1024)
    assert(Streams.sizedStatePartitions(spark, dir, "huge.parquet") == p)
    // URI schemes: a file: URI must size identically to the bare path —
    // a java.io.File probe reads 0 bytes on ANY scheme'd path (hdfs://,
    // s3a://, file:) and re-pins the 2-partition floor on exactly the
    // remote deployments input-sized state partitioning targets
    assert(Streams.sizedStatePartitions(spark, s"file:$dir", "mid.parquet") == want(7))
    assert(Streams.sizedStatePartitions(spark, s"file:$dir", "tbl.parquet") == want(6))
  }
}
