package graft.tools

import graft.streaming.Streams

/** Scaling exponents of registered queries over a ladder of data sizes:
  * min-of-`iters` wall per rung (after one untimed run on the first
  * rung), and between adjacent rungs
  * e = log(t2/t1) / log(k2/k1). e ≈ 1 is linear in rows; e > 1 means an
  * index or partition strategy stopped amortizing; e < 1 means a fixed
  * per-query cost (planning, micro-batch scheduling) still dominates.
  *
  * Usage: runMain graft.tools.ScaleLadder [base=<dir>] [rungs=1,10,100]
  *   [tables=documents,embeddings] [iters=2] [query...]
  *
  * A rung `k` is `base` scaled k× by ScaleDataGen into
  * `/tmp/graft_ladder/<base name>-<path hash>_x<k>` (cached by its
  * marker, one dir per base so a new base never reuses another's data;
  * k = 1 is `base` itself); a rung `k:<dir>` is an existing dir at nominal scale k, e.g.
  * `rungs=1:<sf0.01 dir>,10:<sf0.1 dir>`. Streaming
  * queries need `events` in `tables`; rungs past x100 need
  * `SPARK_DRIVER_MEM=32g`.
  */
object ScaleLadder {
  def main(args: Array[String]): Unit = {
    val a = ProbeArgs(args)
    val names = if (a.positional.nonEmpty) a.positional
      else Seq("q34_fingerprint_groups", "q36_ngram_jaccard",
        "q37_simhash_pairs", "q38_minhash_pairs", "q62_ivf_ann",
        "q63_srp_pairs", "q64_neardup_survivors", "q72_pii_redact",
        "q76_semantic_dedup", "q78_tfidf_terms", "q83_dup_spans",
        "q86_contamination_spans", "q90_coverage_survivors")
    lazy val base = a.opts.getOrElse("base",
      throw new IllegalArgumentException("a rung without :<dir> needs base=<dir>"))
    val tables = a.opts.getOrElse("tables", "documents,embeddings")
      .split(',').toSet
    val spark = a.session()
    val rungs = a.opts.getOrElse("rungs", "1,10,100").split(',').toSeq.map {
      r => r.split(":", 2) match {
        case Array(k, dir) => (k.toInt, dir)
        case Array(k) if k.toInt == 1 => (1, base)
        case Array(k) =>
          val p = java.nio.file.Paths.get(base).toAbsolutePath.normalize
          val dir = s"/tmp/graft_ladder/${p.getFileName}-" +
            s"${Integer.toHexString(p.toString.hashCode)}_x$k"
          ScaleDataGen.generate(spark, base, k.toInt, dir, tables)
          (k.toInt, dir)
      }
    }
    rungs.foreach(r => ProbeArgs.warmUp(spark, r._2))

    def run(name: String, dir: String): Unit =
      if (name == "q66_stream_sessionize") {
        // The registered q66 collects every session into the driver-side
        // memory sink, which OOMs at x1000 (~1e8 sessions), and its
        // single-batch replay holds every session open at once, which
        // OOMs the heap-backed state store: the ladder runs the same
        // stream through the NOOP sink on RocksDB state.
        Streams.withStateStore(spark, "rocksdb")(rocks =>
          graft.queries.TextQueries.withQ66Sessions(rocks, dir)(
            (sessions, _) => Streams.runToNoop(sessions)))
      } else {
        // toRdd, not count(): count() lets Catalyst eliminate the very
        // work under measurement (see Bench.runOnce)
        graft.SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        ()
      }

    println(s"[ladder] query${" " * 21}" +
      rungs.map(r => f"${"x" + r._1}%9s").mkString +
      rungs.sliding(2).collect { case Seq(r1, r2) =>
        f"${s"e(${r1._1}->${r2._1})"}%12s" }.mkString)
    names.foreach { n =>
      // untimed first touch (JIT, codegen) on the smallest rung, so the
      // first rung is not charged for it
      run(n, rungs.head._2)
      val ts = rungs.map(r =>
        (1 to a.int("iters", 2)).map(_ => ProbeArgs.seconds(run(n, r._2))).min)
      val es = rungs.zip(ts).sliding(2).collect { case Seq((r1, t1), (r2, t2)) =>
        math.log(t2 / t1) / math.log(r2._1.toDouble / r1._1) }
      println(f"[ladder] $n%-26s" + ts.map(t => f"$t%9.2f").mkString +
        es.map(e => f"$e%12.2f").mkString)
    }
    spark.stop()
  }
}
