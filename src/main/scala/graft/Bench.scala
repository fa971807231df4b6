package graft

/** Per-round benchmark: runs every registered query at the given scale
  * factor on local[32] and prints ONE JSON line the driver records as
  * BENCH_r{N}.json.
  *
  * A small warm-up action runs first so JVM/classloader startup is not
  * charged to whichever query happens to run first; queries then run in
  * name order (deterministic attribution across rounds).
  *
  * ==Noise defenses (NOTES round-13 item 2: slow-C2 hosts)==
  * On a host whose C2 compiler lags, big generated methods run whole
  * first iterations interpreted/deoptimized (measured: 125 s of JIT on
  * one first-touch plan; identical plans swinging 6–107 s in one JVM).
  * Defenses, outermost first:
  *   - Discard-first: ONE untimed priming iteration per query before the
  *     recorded min-of-k, so every recorded run executes against
  *     compiled code. DEFAULT ON since r15 (the r14 A/B measured 95.7 s
  *     recorded without priming vs 55.3 s with, on identical binaries —
  *     12 phantom spike queries collapsed; cross-round comparability
  *     with the old no-priming protocol was already broken by the r13
  *     host change, so steady-state is the honest number now). Opt out
  *     with `SPARK_GRAFT_BENCH_DISCARD_FIRST=0` for a first-touch-
  *     inclusive reading. The JSON self-describes via `"discard_first"`.
  *   - min-of-k + instability retries (`SPARK_GRAFT_BENCH_ITERS`,
  *     `SPARK_GRAFT_BENCH_MAX_EXTRA`, `SPARK_GRAFT_BENCH_STABLE_K`).
  *   - Per-query `"cpu"` map: executor task CPU seconds of the
  *     min-wall iteration, from the `graft.obs.StageMetrics` listener
  *     (bus drained per run). A storm/steal reading is distinguishable
  *     from a real regression without a re-run: host CPU steal shows
  *     wall >> cpu;
  *     a genuine plan regression moves cpu with wall.
  *   - `SPARK_GRAFT_BENCH_DUMP_ITERS=<path>` — write every per-query
  *     iteration (discarded one included) as JSON for offline spike
  *     attribution, without changing the one-line stdout contract.
  *   - `SPARK_GRAFT_JVM_EXTRA` (build.sbt hook) for JIT flag
  *     experiments on the forked JVM.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.tools.Sessions.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // executor task CPU, attributed per run by draining the (async)
    // listener bus before each read
    val obs = graft.obs.StageMetrics.install(spark.sparkContext)

    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    Tables.lineitem(spark, sfDir).count() // warm-up: JVM + parquet footers

    // Two iterations, report the best: first-touch codegen/classloading
    // noise dwarfs tiny-table queries; min-of-2 is steady-state latency.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // Noisy-host self-defense: a loaded host inflates EVERY iteration, so
    // min-of-k alone can still report a phantom regression. A query is
    // "stable" once its second-best run reproduces the best within
    // stableK (with a 100 ms absolute band so tiny-query jitter doesn't
    // burn retries); unstable queries get up to maxExtra re-runs, and the
    // reported time is always the min.
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA", "3").toInt
    val stableK = sys.env.getOrElse("SPARK_GRAFT_BENCH_STABLE_K", "1.3").toDouble
    val discardFirst =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DISCARD_FIRST", "1") == "1"
    val dumpIters = sys.env.get("SPARK_GRAFT_BENCH_DUMP_ITERS")
    val allIters = scala.collection.mutable.LinkedHashMap[
      String, (Option[Double], Seq[(Double, Double)])]()
    // A crashing query must be visible in the output, not silently timed:
    // record per-query failure markers and a top-level errors map.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var err: Option[String] = None
      // returns (wall seconds, executor task CPU seconds)
      def runOnce(): (Double, Double) = {
        graft.obs.StageMetrics.drain(spark.sparkContext)
        obs.clear()
        val t0 = System.nanoTime()
        // toRdd.count(), NOT Dataset.count(): count() re-optimizes the
        // plan under Aggregate[count(1)], and Catalyst then ELIMINATES
        // work the query exists to measure — a unique-keyed left join +
        // its whole construction collapses to a bare parquet metadata
        // count (measured r12: q99 0.38 s via count() vs 30.3 s of real
        // work at 5M docs), and final projections/sorts drop the same
        // way. toRdd executes the query's OWN physical plan as planned
        // (sorts included) without collecting rows to the driver.
        try { fn(spark, sfDir).queryExecution.toRdd.count() } catch {
          case e: Throwable =>
            err = Some(e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").take(120))
        }
        val wall = (System.nanoTime() - t0) / 1e9
        graft.obs.StageMetrics.drain(spark.sparkContext)
        (wall, obs.total.cpuNs / 1e9)
      }
      // priming iteration: pays the first-touch JIT/classload cost OFF
      // the record, so every recorded run executes compiled code
      val discarded = if (discardFirst) Some(runOnce()._1) else None
      val times = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      (1 to iters).foreach(_ => times += runOnce())
      def unstable: Boolean = {
        val s = times.map(_._1).sorted
        s.length < 2 || (s(1) > s(0) * stableK && s(1) - s(0) > 0.1)
      }
      var extra = 0
      // an explicit min-of-1 run (SPARK_GRAFT_BENCH_ITERS=1) carries no
      // stability information — retrying would silently turn it back
      // into min-of-k and break comparability with prior min-of-1 data
      while (iters >= 2 && err.isEmpty && unstable && extra < maxExtra) {
        times += runOnce(); extra += 1
      }
      allIters(name) = (discarded, times.toSeq)
      val best = times.minBy(_._1)
      (name, best._1, best._2, err, extra)
    }
    dumpIters.foreach { path =>
      val body = allIters.map { case (k, (d, ts)) =>
        "\"" + k + "\":{\"discarded\":" + d.fold("null")(_.toString) +
          ",\"times\":[" + ts.map(_._1).mkString(",") + "]" +
          ",\"cpu\":[" + ts.map(_._2).mkString(",") + "]}"
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // executor task CPU seconds of each query's min-wall iteration — the
    // storm-vs-regression discriminator (see scaladoc)
    val cpus_ = results.map { case (k, _, c, _, _) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val extraIters = results.map(_._5).sum
    val failed = results.collect { case (k, _, _, Some(e), _) => (k, e) }
    val errs = failed.map { case (k, e) =>
      // control chars (AnalysisException messages span lines) would make
      // the emitted line unparseable JSON — flatten them to spaces
      val esc = e.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ")
      "\"" + k + "\":\"" + esc + "\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Self-diagnosing noise context: the iteration count (min-of-1 runs
    // carry full first-touch noise — a ±30%/query band measured on this
    // host) and the OS load average at start/end (late-run CPU steal from
    // cohabiting processes shows up here, not in any per-query number).
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // "action":"exec" marks the r12 vehicle change: full physical-plan
    // execution via toRdd (earlier rounds' count() vehicle let Catalyst
    // eliminate measurable work — totals are NOT comparable across the
    // boundary; see NOTES round-12 log)
    println(s"""{"metric":"total","value":$total,"unit":"sec","action":"exec","iters":$iters,"extra_iters":$extraIters,"discard_first":$discardFirst,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"failed":${failed.size},"errors":$errs,"queries":$qs,"cpu":$cpus_,"sf":"$sfDir"}""")
    spark.stop()
  }
}
