package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed: set up three times, warm up once, then
  * timed passes within `--seconds` (at least one; two when traced).
  * Prints a host-stamp line, a workload line, and as its LAST line the
  * result object `{"correct", "attempted", "failed", "metrics"}` —
  * end-to-end metrics untraced, per-layer metrics with `--trace 1`.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> [--root <checkout>] [--oracle]
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, root: String = ".", oracle: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, o.copy(trace = v == "1"))
    case "--root" :: v :: t     => parse(t, o.copy(root = v))
    case "--oracle" :: t        => parse(t, o.copy(oracle = true))
    case Nil                    => o
    case other                  => sys.error(s"unknown arguments: ${other.mkString(" ")}")
  }

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "job_s" -> "s", "build_s" -> "s", "rows_per_s" -> "rows/s")

  /** Per-layer metrics, each the median over the traced passes. */
  val SpanMetrics: Seq[(String, Seq[String])] = Seq(
    "encode.fit_s" -> Seq("encode.fit"), "encode.transform_s" -> Seq("encode.transform"),
    "exec.collect_s" -> Seq("exec.estimate", "exec.collect"),
    "search.grid_s" -> Seq("search.grid"), "search.forest_s" -> Seq("search.forest"),
    "search.elim_s" -> Seq("search.elim"), "predict.s" -> Seq("predict"),
    "text.quality_s" -> Seq("text.quality"), "text.mix_s" -> Seq("text.mix"),
    "text.pack_s" -> Seq("text.pack"), "dedup.exact_s" -> Seq("dedup.exact"),
    "dedup.minhash_s" -> Seq("dedup.minhash"), "dedup.components_s" -> Seq("dedup.components"),
    "dedup.spans_s" -> Seq("dedup.spans"), "dedup.contam_s" -> Seq("dedup.contam"),
    "dedup.neardup_probe_s" -> Seq("dedup.neardup_probe"),
    "dedup.span_probe_s" -> Seq("dedup.span_probe"),
    "dedup.span_append_s" -> Seq("dedup.span_append"),
    "dedup.span_compact_s" -> Seq("dedup.span_compact"),
    "dedup.minhash_build_s" -> Seq("dedup.minhash_build"),
    "dedup.span_build_s" -> Seq("dedup.span_build"),
    "sim.ivf_build_s" -> Seq("sim.ivf_build"), "sim.ivf_probe_s" -> Seq("sim.ivf_probe"),
    "sim.ivf_append_s" -> Seq("sim.ivf_append"), "sim.ivf_compact_s" -> Seq("sim.ivf_compact"),
    "streaming.start_s" -> Seq("streaming.start"))
  val ValueMetrics: Seq[String] = Seq("exec.matrix_bytes", "predict.rows", "sim.recall_at_1",
    "index.bytes_written", "index.write_amp")

  def layerUnit(m: String): String =
    if (m.endsWith("_bytes") || m == "index.bytes_written" || m == "exec.matrix_bytes") "bytes"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("_s") || m.contains("_s_") || m == "predict.s") "s"
    else if (m == "dedup.shuffle_bytes_per_pair") "bytes/pair"
    else if (m == "search.core_util" || m == "sim.recall_at_1" || m == "index.write_amp") "ratio"
    else if (m == "predict.rows") "rows"
    else "count"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least `beyond` samples above it, and its
    * value (nearest-rank); the maximum (percentile 100) when there are too
    * few samples for any such percentile.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= beyond) (100.0, s.lastOption.getOrElse(Double.NaN))
    else {
      val idx = s.size - beyond - 1
      (100.0 * (idx + 1) / s.size, s(idx))
    }
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case null => "null"
    case other => json(other.toString)
  }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.tools.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Cold-state guard between passes: drop every cached intermediate and
    * the engine's own memo state through its public calls.
    */
  def coldReset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.streaming.Streams.clearSidecarCache()
    graft.Tables.invalidate()
    System.gc()
  }

  final case class PassRec(traced: Boolean, job: Double, outcome: Outcome, spans: Seq[SpanRec],
                           layers: Map[String, Double], bySpan: Map[Int, JobCounters])

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val wl = Workloads.byName(o.workload).getOrElse {
      System.err.println(s"unknown workload '${o.workload}'; one of " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val root = Paths.get(o.root).toAbsolutePath.normalize
    val data = root.resolve("e2e").resolve("data")
    val work = root.resolve(".bench_work").resolve(s"${wl.name}-${o.seed}-${ProcessHandle.current.pid}")
    val outDir = Files.createDirectories(root.resolve(".bench_out"))
    // one core fewer than the host has: the main thread, the JIT and the
    // collector run beside the task threads, and more runnable threads
    // than cores would time the scheduler
    val cores = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val startedAt = java.time.Instant.now.toString
    val load0 = loadAvg
    try run(o, wl, data, work, outDir, cores, startedAt, load0)
    finally Dirs.delete(work)
  }

  private def run(o: Opts, wl: Workload, data: Path, work: Path, outDir: Path,
                  cores: Int, startedAt: String, load0: Double): Unit = {
    val inputs = work.resolve("inputs")
    // ---- set-up, three times: fresh session, input generation, warm-up
    var spark: SparkSession = null
    var stats = InputStats(0, 0)
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      val tS = System.nanoTime()
      Dirs.fresh(inputs)
      stats = wl.generate(spark, inputs, o.seed, data)
      val tG = System.nanoTime()
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"e2e: set-up took $secs%.3f s (session ${(tS - t0) / 1e9}%.3f s, inputs ${(tG - tS) / 1e9}%.3f s)")
      secs
    }
    if (o.oracle) {
      val ok = Oracle.run(spark, wl, data, work, o.seed)
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }

    // ---- timed passes until the deadline
    var attempted = 0
    var callFailures = 0
    def onePass(traced: Boolean, n: Int): Either[Throwable, PassRec] = {
      coldReset(spark)
      val scratch = Dirs.fresh(work.resolve(s"scratch-$n"))
      val probes = if (traced) Some(new Probes(spark)) else None
      probes.foreach { p => p.register(); p.start() }
      val spans = new Spans(spark.sparkContext, traced)
      try {
        val out = wl.pass(spark, inputs, scratch, o.seed, spans)
        val recs = spans.records
        val job = recs.find(r => r.name == "pass" && r.parent == 0).get
        val (layers, bySpan) = probes.map(_.finish(recs, job.startMs, job.endMs, cores))
          .getOrElse((Map.empty[String, Double], Map.empty[Int, JobCounters]))
        Right(PassRec(traced, job.seconds, out, recs, layers, bySpan))
      } catch { case e: Throwable => Left(e) }
      finally {
        probes.foreach(_.unregister())
        Dirs.delete(scratch)
        attempted += spans.attempted
        callFailures += spans.failures
      }
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // An untimed warm-up first: a fresh JVM's first pass spends much of
    // its time loading classes and compiling, and how long that takes
    // depends on what else the host runs more than on the engine. Then
    // timed passes until `--seconds` would be overrun (at least one; two
    // when traced, which alternate traced and untraced, traced first).
    val warmUpS = {
      coldReset(spark)
      val w0 = System.nanoTime()
      try wl.warmUp(spark, inputs, o.seed)
      catch { case e: Throwable => errors += s"warm-up: $e"; e.printStackTrace() }
      (System.nanoTime() - w0) / 1e9
    }
    System.err.println(f"e2e: warm-up took $warmUpS%.3f s")
    val minPasses = if (o.trace) 2 else 1
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassRec]
    val walls = scala.collection.mutable.ArrayBuffer.empty[Long]
    var n = 1
    // a pass starts only if one more, as long as the median pass so far,
    // still ends before the deadline
    def fits = walls.isEmpty || System.nanoTime() + median(walls.map(_.toDouble).toSeq).toLong <= deadline
    while ((n <= minPasses || fits) && n <= 200) {
      val w0 = System.nanoTime()
      onePass(o.trace && n % 2 == 1, n) match {
        case Right(p) =>
          System.err.println(f"e2e: pass $n (traced ${p.traced}) took ${p.job}%.3f s")
          passes += p
        case Left(e) => errors += s"pass $n: $e"; e.printStackTrace()
      }
      walls += System.nanoTime() - w0
      n += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    val load1 = loadAvg
    spark.stop()

    // ---- checks
    val untraced = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val checkResults = passes.flatMap(_.outcome.checks)
    val failedChecks = checkResults.filterNot(_.ok)
    val prints = passes.map(_.outcome.fingerprint).distinct
    val digest = sys.env.getOrElse("E2E_SOURCE_DIGEST", "unknown")
    val recordFile = outDir.resolve(s"fingerprint-${wl.name}-${o.seed}-$digest.txt")
    val fp = prints.headOption.map(_.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    val earlier = if (Files.exists(recordFile)) Some(Files.readString(recordFile)) else None
    fp.filter(_ => earlier.isEmpty).foreach(f => Files.writeString(recordFile, f))
    val determinism = Seq(
      Check("same_outputs_every_pass", prints.size == 1, s"${prints.size} distinct output sets"),
      Check("same_outputs_as_earlier_runs_of_this_seed", earlier.isEmpty || earlier == fp,
        earlier.map(_ => "compared with an earlier run").getOrElse("first run of this seed")))
    val allChecks = checkResults.toSeq ++ determinism
    val failed = callFailures + failedChecks.size + determinism.count(!_.ok) + errors.size
    val correct = failed == 0 && untraced.nonEmpty && (!o.trace || traced.nonEmpty)

    // ---- metrics
    def med(f: PassRec => Double, ps: Seq[PassRec] = untraced) = median(ps.map(f))
    val v = (p: PassRec, k: String) => p.outcome.values.getOrElse(k, 0.0)
    // rows over the time of every unit of the run (batch scorings, ingest
    // batches), so that no single short unit's jitter sets it; ingest's
    // first batch of a pass also pays the stream start
    val unitRate = untraced.map(p => v(p, "rows") * p.outcome.samples.size).sum /
      untraced.flatMap(_.outcome.samples).sum
    val e2e: Map[String, Double] = Map(
      "setup_s" -> median(setups),
      "job_s" -> med(_.job),
      "build_s" -> med(v(_, "build_s")),
      // train: new rows over the time of every batch scoring of the run;
      // curate_ingest: input documents (corpus and crawl batches) per
      // second of the job. Its batch throughput, over 3 short batches a
      // pass, spreads too widely between runs to gate on; it is on the
      // workload line.
      "rows_per_s" -> (if (wl == TrainCovtype) unitRate else stats.rows / med(_.job)))
    val batchLat = untraced.flatMap(_.outcome.samples)
    def batchesPerPass(p: PassRec) = p.outcome.samples.size.toDouble
    val (tailPct, tailVal) = tail(batchLat)
    val extra: Map[String, Any] = wl match {
      case TrainCovtype => Map(
        "time_to_model_s" -> e2e("build_s"),
        "fits_per_s" -> med(p => v(p, "fits") / v(p, "fit_s")),
        "predict_rows_per_s" -> e2e("rows_per_s"))
      case _ => Map(
        "curate_docs_per_s" -> med(p => v(p, "curate_docs") / v(p, "curate_s")),
        "index_build_s" -> med(p => Spans.total(p.spans, "ingest.build")),
        "docs_per_s" -> med(p => v(p, "rows") * batchesPerPass(p) / v(p, "batch_phase_s")),
        "batch_docs_per_s" -> unitRate,
        "batch_s_p50" -> median(batchLat),
        "batch_s_tail" -> tailVal, "batch_tail_percentile" -> tailPct,
        "batches" -> batchLat.size,
        "probe_qps" -> med(p => v(p, "probe_queries") / Spans.total(p.spans, "sim.ivf_probe")))
    }

    val layerMetrics: Map[String, Double] = if (!o.trace || traced.isEmpty) Map.empty else {
      val perPass = traced.map { p =>
        val spanM = SpanMetrics.map { case (m, names) => m -> names.map(Spans.total(p.spans, _)).sum }
        val valM = ValueMetrics.map(k => k -> v(p, k))
        val minhashIds = p.spans.filter(_.name == "dedup.minhash").map(_.id).toSet
        val mhShuffle = p.bySpan.filter { case (id, _) => minhashIds(id) }.values
          .map(c => c.shuffleWrite + c.shuffleRead).sum
        val pairs = v(p, "dedup.pairs")
        val self = Spans.selfSeconds(p.spans)
        val inCalls = p.spans.filter(_.call).map(s => self(s.id)).sum
        (spanM ++ valM ++ p.layers ++ Map(
          "dedup.shuffle_bytes_per_pair" -> (if (pairs > 0) mhShuffle / pairs else 0.0),
          "trace.call_self_s" -> inCalls,
          "trace.unattributed_s" -> (p.job - inCalls),
          "trace.job_s" -> p.job)).toMap
      }
      val keys = perPass.head.keys
      keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
        "trace.overhead_s" -> (median(traced.map(_.job)) - median(untraced.map(_.job))),
        "trace.untraced_job_s" -> median(untraced.map(_.job)))
    }

    // ---- output
    val heapFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use")).toSeq
    val mem = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize
      case _ => -1L
    }
    val stamp = Map(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> cores,
      "mem_bytes" -> mem, "load_start" -> load0, "load_end" -> load1,
      "started" -> startedAt, "ended" -> java.time.Instant.now.toString,
      "jvm_flags" -> heapFlags, "commit" -> sys.env.getOrElse("E2E_COMMIT", "unknown"),
      "source_digest" -> digest)
    val workloadLine = Map(
      "input_rows" -> stats.rows, "input_bytes" -> stats.bytes,
      "passes" -> untraced.size, "traced_passes" -> traced.size, "measured_s" -> measured,
      "warm_up_s" -> warmUpS,
      "pass_job_s" -> untraced.map(_.job), "setup_runs_s" -> setups,
      "fail_ratio" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted)) ++ extra
    val checksLine = allChecks.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, cs) =>
      n -> (if (cs.forall(_.ok)) "ok" else "FAILED: " + cs.filterNot(_.ok).map(_.detail).distinct.mkString("; "))
    }.toMap ++ errors.zipWithIndex.map { case (e, i) => s"error_$i" -> e }.toMap
    val metrics = (if (o.trace) layerMetrics.map { case (k, x) => k -> (x, layerUnit(k)) }
      else e2e.map { case (k, x) => k -> (x, Units(k)) })
      .toSeq.sortBy(_._1).map { case (k, (x, u)) => k -> Map("value" -> x, "unit" -> u) }.toMap
    val result = Map("correct" -> correct, "attempted" -> math.max(1, attempted),
      "failed" -> failed, "metrics" -> metrics)

    val lines = Seq(
      json(Map("stamp" -> stamp)),
      json(Map("workload_metrics" -> workloadLine)),
      json(Map("checks" -> checksLine)))
    if (o.trace) {
      val traceFile = outDir.resolve(s"trace-${wl.name}-${o.seed}.json")
      Files.writeString(traceFile, json(traced.zipWithIndex.map { case (p, i) =>
        val self = Spans.selfSeconds(p.spans)
        Map("pass" -> i, "job_s" -> p.job, "spans" -> p.spans.map { s =>
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "call" -> s.call,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
            "self_s" -> self(s.id),
            "spark" -> p.bySpan.get(s.id).map(_.toMap).getOrElse(Map.empty))
        })
      }) + "\n")
    }
    Files.write(outDir.resolve("results.jsonl"), (lines :+ json(result)).mkString("", "\n", "\n")
      .getBytes("UTF-8"), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    lines.foreach(println)
    if (untraced.isEmpty || (o.trace && traced.isEmpty)) {
      System.err.println("no pass completed; no result")
      sys.exit(1)
    }
    println("E2E_RESULT " + json(result))
  }
}
