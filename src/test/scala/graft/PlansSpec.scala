package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite {

  /** Dedicated session WITH graft extensions: getOrCreate would silently
    * reuse another suite's extension-less session, so clear first.
    */
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.tools.Sessions.build("local[4]", 4)
  }

  private def events = Tables.events(spark, "/root/testdata/sf0.001")

  test("time filters on the rebuilt nanos column reach the parquet scan") {
    val filtered = events.filter(
      col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
    val pushed = PlanNodes.fileScans(filtered).map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.startsWith("[IsNotNull(ts), GreaterThanOrEqual(ts,")),
      s"expected raw-long pushdown on ts, scans push: $pushed")
  }

  test("the rewrite preserves exact filter semantics vs driver-side compare") {
    val cutoffs = Seq("2024-01-03 00:00:00", "2024-01-05 12:34:56.789")
    val all = events.select("ts").collect().map(_.getTimestamp(0))
    cutoffs.foreach { c =>
      val cutoff = java.sql.Timestamp.valueOf(c)
      val wantGe = all.count(t => !t.before(cutoff)).toLong
      val wantLt = all.count(_.before(cutoff)).toLong
      val gotGe = events.filter(col("ts") >= lit(c).cast("timestamp")).count()
      val gotLt = events.filter(col("ts") < lit(c).cast("timestamp")).count()
      val gotGt = events.filter(col("ts") > lit(c).cast("timestamp")).count()
      val gotLe = events.filter(col("ts") <= lit(c).cast("timestamp")).count()
      assert(gotGe == wantGe && gotLt == wantLt, s"cutoff $c: ge/lt mismatch")
      assert(gotGt + gotLe == all.length.toLong, s"cutoff $c: gt/le partition")
    }
    // equality on an actual event timestamp
    val one = all.head
    val gotEq = events.filter(col("ts") === lit(one)).count()
    assert(gotEq == all.count(_ == one).toLong && gotEq >= 1)
    // a literal past the nanos horizon (2262-04-11) cannot be rewritten
    // to long nanos: the rule must SKIP it (returning all rows), not
    // crash plan-time on multiplyExact overflow
    val far = events.filter(
      col("ts") <= lit("9999-12-31 00:00:00").cast("timestamp")).count()
    assert(far == all.length.toLong, "far-future upper bound keeps all rows")
  }

  test("custom expressions are SQL-registered via the extensions") {
    // same Expression nodes as the Column API, reachable from SQL
    assert(spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c")
      .head().getDouble(0) == 1.0)
    val nv = spark.sql("SELECT l2_normalize(array(3.0d, 4.0d)) v")
      .head().getSeq[Double](0)
    assert(nv.zip(Seq(0.6, 0.8)).forall { case (a, b) =>
      math.abs(a - b) < 1e-12 }, nv.toString)
    assert(spark.sql(
      "SELECT intersect_count(array('a','b','c'), array('b','c','d')) n")
      .head().getInt(0) == 2)
    val sh = spark.sql(
      "SELECT simhash64(transform(array('a','b'), t -> xxhash64(t))) s")
      .head().getLong(0)
    // parity with the Column API on the same input
    import spark.implicits._
    val want = Seq(Tuple1(Seq("a", "b"))).toDF("t")
      .select(graft.functions.Simhash64(
        transform(col("t"), t => xxhash64(t)))).head().getLong(0)
    assert(sh == want)
    // winnow_anchors: literal-int params, Column-API parity
    val wa = spark.sql(
      "SELECT winnow_anchors('abcabcabcabcabc', 4, 3) a").head()
      .getSeq[org.apache.spark.sql.Row](0)
    val waWant = Seq(Tuple1("abcabcabcabcabc")).toDF("t")
      .select(graft.functions.WinnowAnchors(col("t"), 4, 3).as("a"))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(wa == waWant && wa.nonEmpty)
  }

  test("bucketed tables join without a shuffle") {
    // disable broadcast so the join strategy would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      val lineitem = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .withColumnRenamed("l_orderkey", "o_orderkey")
      graft.sources.Bucketing.writeBucketed(orders, "orders_b", "o_orderkey", 8)
      graft.sources.Bucketing.writeBucketed(lineitem, "lineitem_b", "o_orderkey", 8)
      val joined = graft.sources.Bucketing
        .bucketedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
      assert(!PlanNodes.has(joined, "Exchange"),
        s"bucketed join must not shuffle, plan:\n${PlanNodes.of(joined).map(_.nodeName)}")
      assert(joined.count() == lineitem.count(), "inner join keeps all lineitems")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    }
  }

  test("partitioned layout prunes directories; csv/json round-trip schemas") {
    val base = java.nio.file.Files.createTempDirectory("graft_src").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    graft.sources.Sources.writePartitioned(events, s"$base/events_p", Seq("event_type"))
    val pruned = graft.sources.Sources.readPartitioned(spark, s"$base/events_p")
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val partFilters = PlanNodes.fileScans(pruned).map(_.metadata("PartitionFilters"))
    assert(partFilters.exists(_.startsWith("[isnotnull(event_type")),
      s"partition pruning must reach the scan: $partFilters")
    assert(pruned.count() ==
      events.filter(org.apache.spark.sql.functions.col("event_type") === "click").count())

    val slim = events.select("event_id", "event_type", "value")
    graft.sources.Sources.writeCsv(slim, s"$base/ev_csv")
    graft.sources.Sources.writeJsonLines(slim, s"$base/ev_json")
    val backCsv = graft.sources.Sources.readCsv(spark, s"$base/ev_csv", slim.schema)
    val backJson = graft.sources.Sources.readJsonLines(spark, s"$base/ev_json", slim.schema)
    assert(backCsv.count() == slim.count() && backJson.count() == slim.count())
    assert(backCsv.schema == slim.schema)

    // ORC: schema round-trips and predicates push down to the scan
    graft.sources.Sources.writeOrc(slim, s"$base/ev_orc")
    val backOrc = graft.sources.Sources.readOrc(spark, s"$base/ev_orc")
    assert(backOrc.count() == slim.count())
    assert(backOrc.schema.fieldNames.sorted.toSeq ==
      slim.schema.fieldNames.sorted.toSeq)
    val orcPushed = PlanNodes.fileScans(backOrc
      .filter(org.apache.spark.sql.functions.col("value") > 100.0))
      .map(_.metadata("PushedFilters"))
    assert(orcPushed.exists(_.startsWith("[IsNotNull(value), GreaterThan(value,")),
      s"ORC predicate pushdown: $orcPushed")
  }

  test("dimension joins broadcast; fact scans prune columns") {
    val q4 = SparkEntry.queries("q04_dim_join")(spark, "/root/testdata/sf0.001")
    assert(PlanNodes.has(q4, "BroadcastHashJoin"), "part side must broadcast")
    val q2 = SparkEntry.queries("q02_filter_project")(spark, "/root/testdata/sf0.001")
    assert(PlanNodes.fileScans(q2).exists(_.metadata("PushedFilters")
      .startsWith("[IsNotNull(l_shipdate)")),
      "millis-native lineitem filters push down")
    assert(PlanNodes.fileScans(q2).forall(!_.requiredSchema.fieldNames.contains("l_tax")) &&
      !PlanNodes.of(q2).exists(_.output.exists(_.name == "l_tax")),
      "untouched columns pruned from ReadSchema")
  }

  test("q03 keeps the fact unshuffled behind two independent broadcasts") {
    val q3 = SparkEntry.queries("q03_join_revenue")(spark, "/root/testdata/sf0.001")
    q3.collect()
    val names = PlanNodes.of(q3).map(_.nodeName)
    assert(names.contains("BroadcastHashJoin"), s"dims must broadcast: $names")
    assert(!names.contains("SortMergeJoin") && !names.contains("ShuffledHashJoin"),
      s"no shuffle join on the fact: $names")
    // lineitem never shuffles on a join key — the only hash exchange is
    // the tiny post-aggregation one on the group keys
    val joinKeys = Set("l_orderkey", "o_orderkey", "o_custkey", "c_custkey")
    val keyShuffles = PlanNodes.of(q3).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning
    }.collect {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
          if h.expressions.flatMap(_.references).exists(a => joinKeys(a.name)) => h
    }
    assert(keyShuffles.isEmpty, s"join-key shuffle of the fact crept in: $keyShuffles")
  }

  test("PlanDump's red flags walk nested cached plans past the plan text bound") {
    val bound = graft.tools.Sessions.MaxPlanString
    assert(spark.conf.get("spark.sql.maxPlanStringLength") == bound.toString)
    def wide(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id") +: (1 to 24).map(i => (col("id") * i).as(s"wide_column_$i")): _*)
    // the innermost stage holds the only nested-loop join; each level
    // above sorts on its own column and is cached, one inside the next
    val levels = 5
    val stages = scala.collection.mutable.ArrayBuffer(wide(spark.range(0, 40)
      .crossJoin(spark.range(0, 3).withColumnRenamed("id", "r"))
      .select((col("id") * 3 + col("r")).as("id"))).cache())
    for (level <- 1 to levels)
      stages += wide(stages.last.sort(col(s"wide_column_$level").desc)).cache()
    try {
      val top = stages.last.sort(col("wide_column_24"))
      top.queryExecution.toRdd.count()
      val plan = top.queryExecution.executedPlan
      val text = plan.toString
      spark.conf.unset("spark.sql.maxPlanStringLength")
      val full = try plan.toString
        finally spark.conf.set("spark.sql.maxPlanStringLength", bound.toString)
      assert(full.length > 4 * bound && text.length < bound + 200, (full.length, text.length))
      val joins = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
      assert(joins.exists(full.contains) && !joins.exists(text.contains),
        "the innermost join is past the cut")
      val flags = graft.tools.PlanDump.redFlags(plan)
      assert(flags("cartesian") + flags("bnlj") == 1, flags)
      assert(flags("sorts") == levels + 1, flags)
      assert(flags("exchanges") >= levels + 1, flags)
      assert(PlanNodes.of(plan).count(_.nodeName == "Range") == 2,
        "both ranges of the innermost stage")
    } finally stages.foreach(_.unpersist(blocking = false))
  }

  // ---- Par.fanOut routing contract -------------------------------------
  // fanOut sits in ~20 registered-query paths; its behavioral contract
  // ("no-op on a real cluster", "no-op below the byte gate", "never probe
  // a plan that would materialize shuffles") is pinned here, not just in
  // comments. The byte gate is injectable (minBytes) so both sides of the
  // threshold are exercised without multi-MB fixtures.

  private def hasRepartition(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }

  test("fanOut inserts the repartition only above the size gate, on " +
       "under-parallel exchange-free scans") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    assert(docs.rdd.getNumPartitions <
      spark.sparkContext.defaultParallelism, "fixture: one-split scan")
    // above the gate: fan out to defaultParallelism (the parquet scan's
    // footer row count is the routing signal — minRows is the lever)
    val fanned = graft.ops.Par.fanOut(docs, minRows = 1L)
    assert(hasRepartition(fanned), "a big one-split scan must fan out")
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // below the gate: untouched (the exchange costs more than it buys)
    assert(graft.ops.Par.fanOut(docs, minRows = Long.MaxValue) eq docs,
      "sub-gate scans pass through untouched")
  }

  test("fanOut routes on ROWS when estimable, bytes only as fallback: " +
       "a small-bytes/many-rows corpus fans out, a many-bytes/few-rows " +
       "one doesn't (r14 floor lesson generalized)") {
    // compressed bytes and per-row CPU disagree by the compression
    // ratio: RLE-friendly repetitive text compresses a 30k-row corpus
    // under the 2 MB byte floor, while 300 rows of incompressible
    // payload blow past it — rows are the honest cost signal.
    val dir = java.nio.file.Files.createTempDirectory("fanout_rows").toString
    val manyRows = spark.range(30000).toDF("id")
      .withColumn("text", concat(lit("the quick brown fox jumps over "),
        col("id").cast("string")))
    manyRows.coalesce(1).write.mode("overwrite").parquet(s"$dir/many")
    val rng = new scala.util.Random(7)
    val fewRows = spark.createDataFrame(
      (0 until 300).map(i => (i.toLong, rng.alphanumeric.take(30000).mkString)))
      .toDF("id", "text")
    fewRows.coalesce(1).write.mode("overwrite").parquet(s"$dir/few")
    val many = spark.read.parquet(s"$dir/many")
    val few = spark.read.parquet(s"$dir/few")
    val manyBytes = many.queryExecution.optimizedPlan.stats.sizeInBytes
    val fewBytes = few.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(manyBytes < BigInt(graft.ops.Par.FanOutMinBytes),
      s"fixture: many-rows parquet must compress under the byte floor, got $manyBytes")
    assert(fewBytes >= BigInt(graft.ops.Par.FanOutMinBytes),
      s"fixture: few-rows parquet must exceed the byte floor, got $fewBytes")
    assert(graft.ops.Par.estimatedRows(many).contains(30000L),
      "footer probe must see the exact row count")
    assert(graft.ops.Par.estimatedRows(few).contains(300L))
    assert(hasRepartition(graft.ops.Par.fanOut(many)),
      "a small-bytes/many-rows one-split scan must fan out")
    assert(graft.ops.Par.fanOut(few) eq few,
      "a many-bytes/few-rows scan passes through untouched")
    // derived narrow plans (select/filter) keep the leaf's row estimate
    val filtered = many.filter(length(col("text")) > 0)
      .select(col("id"), col("text"))
    assert(graft.ops.Par.estimatedRows(filtered).contains(30000L),
      "footer rows survive narrow select/filter lineage")
  }

  test("fanOut is a no-op at >= defaultParallelism partitions (the " +
       "real-cluster shape)") {
    val spread = spark.range(0L, 1000L, 1L,
      numPartitions = spark.sparkContext.defaultParallelism).toDF("id")
    assert(graft.ops.Par.fanOut(spread, minBytes = 1L) eq spread,
      "an already-spread exchange-free plan must pass through")
  }

  test("fanOut never touches streaming frames or plans with exchanges") {
    val stream = spark.readStream.format("rate").load()
    assert(graft.ops.Par.fanOut(stream, minBytes = 1L) eq stream,
      "streaming frames cannot be probed")
    val joined = {
      val a = spark.range(10).toDF("id")
      a.groupBy("id").count()
    }
    assert(graft.ops.Par.fanOut(joined, minBytes = 1L) eq joined,
      "plans with exchanges are already spread; probing them would " +
        "materialize shuffles under AQE")
  }

  test("fanOut returns pinned/cached frames untouched (q88's " +
       "pinned-derived path)") {
    // A pinned DERIVED frame presents as a bare InMemoryRelation (cache
    // substitution precedes optimization), so the exchange guard cannot
    // see the Join/Aggregate inside it — fanOut must bail on the cache
    // marker itself, BEFORE any stats read or partition probe.
    val base = spark.range(100).toDF("id")
      .withColumn("text", concat(lit("doc "), col("id")))
    val derived = base.groupBy("id").agg(first("text").as("text"))
    val pinned = graft.ops.Par.pinLatest("spec.fanout.pin", derived)
    try {
      assert(graft.ops.Par.fanOut(pinned, minBytes = 1L) eq pinned,
        "pinned derived frames pass through untouched")
      // a frame built ON TOP of the cache hides the exchange one level
      // deeper — still untouched
      val onTop = pinned.select(col("id"), length(col("text")).as("n"))
      assert(graft.ops.Par.fanOut(onTop, minBytes = 1L) eq onTop,
        "plans reading an InMemoryRelation pass through untouched")
    } finally graft.ops.Par.unpin("spec.fanout.pin", pinned)
    // a caller-persisted BARE SCAN is equally off-limits: repartitioning
    // on top of someone's cache would re-shuffle every consumption
    val cached = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    try assert(graft.ops.Par.fanOut(cached, minBytes = 1L) eq cached,
      "caller-persisted scans pass through untouched")
    finally { cached.unpersist(blocking = false); () }
  }

  // ---- rows-derived width + pins planned on a scoped clone ------------

  /** The cached plans `df` reads. */
  private def cachedPlans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.withCachedData.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cacheBuilder.cachedPlan
    }

  test("width derives from rows/grain, clamped to [2, defaultParallelism]") {
    val p = spark.sparkContext.defaultParallelism
    val rows30k = spark.range(30000).toDF("id") // range carries rowCount
    assert(graft.ops.Par.width(rows30k, grain = 16384L) == 2,
      "30k rows at a 16384 grain = ceil(1.8) = 2")
    assert(graft.ops.Par.width(rows30k, grain = 2048L) ==
      math.min(p, 15), "30k rows at a 2048 grain = 15, cluster-clamped")
    assert(graft.ops.Par.width(rows30k, grain = 1L) == p,
      "grain 1 clamps at defaultParallelism")
    assert(graft.ops.Par.width(spark.range(1).toDF("id"),
      grain = 16384L) == 2, "floor of 2 keeps a parallelism signal")
  }

  test("pinAtWidth plans the cached join narrow, lazily, conf untouched") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val confKey = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(confKey)
    val df = spark.range(0, 1000, 1, 2).toDF("id")
      .withColumn("k", pmod(col("id"), lit(7)))
    // a fresh, logically identical frame per use
    def joined = df.as("a").join(df.as("b"), Seq("k")).groupBy("k").count()
    val j = joined
    // at-scale regime: partitions >= conf -> identical frame, no pin
    assert(graft.ops.Par.pinAtWidth("spec.pin.pass", j, before.toInt) eq j,
      "width >= conf must pass through")
    assert(graft.ops.Par.pinAtWidth("spec.pin.pass", j, before.toInt + 5) eq j,
      "width > conf must pass through")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    val pinned =
      try {
        org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
        jobs.set(0)
        val p = graft.ops.Par.pinAtWidth("spec.pin", j, 2)
        org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
        assert(jobs.get == 0, "the pin must start no Spark job")
        p
      } finally sc.removeSparkListener(listener)
    try {
      assert(spark.conf.get(confKey) == before, "conf must be unchanged")
      assert(pinned.sparkSession eq spark, "the pin comes back on the caller")
      assert(pinned.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE, "scoped frame is pinned")
      val widths = cachedPlans(pinned).flatMap(PlanNodes.hashWidths)
      assert(widths.nonEmpty && widths.forall(_ == 2),
        s"the cached plan's exchanges must plan at width 2, got $widths")
      assert(pinned.collect().sortBy(_.getLong(0)).toSeq ==
        joined.collect().sortBy(_.getLong(0)).toSeq,
        "the narrow pin must not change results")
      // a repeat call re-pins the same cache entry under the caller's
      // session: one registry entry, still pinned
      import scala.jdk.CollectionConverters._
      val again = graft.ops.Par.pinAtWidth("spec.pin", joined, 2)
      try {
        val entries = graft.ops.Par.pinned.keySet.asScala.toSeq
          .filter(_._2 == "spec.pin")
        assert(entries.size == 1 && (entries.head._1 eq spark),
          s"a repeat pin must leave one caller-keyed entry, got $entries")
        assert(pinned.storageLevel !=
          org.apache.spark.storage.StorageLevel.NONE,
          "a repeat pin must not evict the shared cache entry")
      } finally graft.ops.Par.unpin("spec.pin", again)
    } finally graft.ops.Par.unpin("spec.pin", pinned)
  }

  test("a pair pin and a concurrent unrelated join keep their own widths") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val derived = graft.ops.Par.width(docs, graft.ops.Par.PinRowsPerTask)
    assert(derived < conf, s"derived width $derived must be below $conf")
    val left = spark.range(0, 5000).toDF("id")
    val right = spark.range(0, 5000).select(col("id"), (col("id") * 2).as("v"))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bWidths = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val b = new Thread(() => {
      while (!done.get) {
        bWidths.add(PlanNodes.hashWidths(left.join(right.hint("merge"), "id")
          .queryExecution.executedPlan))
      }
    })
    b.start()
    val aWidths =
      try (0 until 6).map { i =>
        // a different plan each round, so every call pins afresh
        val pairs = graft.dedup.Dedup.simhashPairs(
          docs.filter(col("doc_id") =!= i), "text", "doc_id")
        val widths = cachedPlans(pairs).flatMap(PlanNodes.hashWidths)
        pairs.collect()
        widths
      } finally { done.set(true); b.join() }
    assert(aWidths.forall(w => w.nonEmpty && w.forall(_ == derived)),
      s"every pair pin must plan at $derived, got $aWidths")
    import scala.jdk.CollectionConverters._
    val bs = bWidths.asScala.toSeq
    assert(bs.nonEmpty && bs.forall(w => w.nonEmpty && w.forall(_ == conf)),
      s"every unrelated join must plan at $conf, got " +
        bs.filterNot(_.forall(_ == conf)).take(5))
  }
}
