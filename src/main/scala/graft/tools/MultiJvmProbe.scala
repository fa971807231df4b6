package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs the most expensive data-plane queries under
  * `local-cluster[4,8,4096]` — four REAL executor JVMs — and compares
  * row count + an order-independent checksum against the same queries
  * under `local[32]`. Flushes single-JVM assumptions that local mode
  * can't catch: executor classpath for the custom Expressions,
  * broadcast serialization (models, sidecars, centroid tables),
  * driver-held registries (Par.pinned, the index meta cache) being accidentally
  * touched on executors, and state-store/file paths that silently
  * assume one process.
  *
  * Needs SPARK_HOME=/opt/spark (local-cluster launches real workers)
  * and ships target/scala-2.13/classes via executor extraClassPath.
  *
  * Usage: SPARK_HOME=/opt/spark sbt "runMain graft.tools.MultiJvmProbe [sfDir] [q...]"
  */
object MultiJvmProbe {
  /** Synthetic (non-SparkEntry) step: the on-disk IVF append path — the
    * one data-plane family added AFTER the r9 multi-JVM validation ran,
    * and the one that WRITES files from executors (append-mode cell
    * parquet). Build base index → appendToIvfIndex → probe appended
    * twins; the fingerprint is the probed neighbor ids + rounded
    * cosines over WELL-SEPARATED synthetic clusters, so it is invariant
    * to benign cell-id permutations between quantizer runs while still
    * catching executor-side write/classpath/broadcast breakage.
    * Declared BEFORE DefaultQueries: object vals initialize in order,
    * and a forward reference here is silently null, not an error.
    */
  private val IvfAppendName = "ivf_append_probe"

  /** Synthetic step for the r11 fused scoring family: CART / forest /
    * GBT models fit DRIVER-side on a deterministic matrix (both modes
    * fit the identical model — seeds fixed, no distributed draw), then
    * scored over a distributed synthetic frame through the fused
    * [[graft.predict.FusedScore]] / [[graft.functions.TreeEnsembleScore]]
    * columns plus the fused multilabel stacked-row vote. What this
    * probes is EXECUTOR-side behavior only: the expressions' flattened
    * node / weight arrays serializing into the task binary and the
    * generated code evaluating identically in a separate JVM.
    */
  private val TreeScoreName = "tree_score_probe"

  private val DefaultQueries = Seq(
    "q36_ngram_jaccard", "q38_minhash_pairs", "q48_asof_join",
    "q62_ivf_ann", "q63_srp_pairs", "q64_neardup_survivors",
    "q76_semantic_dedup", "q83_dup_spans", "q87_stream_decontaminate",
    // q98 forces the two-phase route: the r12 fused AnchorSlices /
    // SliceExtend expressions only execute on that path, and their
    // generated code must load graft classes in executor JVMs
    "q90_coverage_survivors", "q92_text_predict", "q98_dup_spans_twophase",
    "q95_multilabel_predict", "q96_audio_window_stats",
    "q97_image_grid_stats", IvfAppendName, TreeScoreName)

  private def treeScoreFingerprint(spark: SparkSession): (Long, Long) = {
    import graft.exec.{CART, GBT, LogRegModel}
    import graft.search.{ForestModel, MultilabelOvRModel}
    val rnd = new scala.util.Random(11)
    val X = Array.fill(800)(Array.fill(8)(rnd.nextDouble() * 2 - 1))
    val y = X.map(x =>
      if (x(0) + 0.7 * x(3) - 0.2 * x(5) <= 0) 0.0
      else if (x(1) > 0.3) 2.0 else 1.0)
    val params = Map("max_depth" -> 4.0, "min_samples_leaf" -> 2.0)
    val tree = CART.grow(X, y, null, params, 3, 3)
    val forest = ForestModel(
      Array.tabulate(12)(t => CART.grow(X, y, null, params, 100L + t, 3)), 3)
    val gbt = GBT.Classifier.fit(X, y,
      Map("n_estimators" -> 10.0, "max_depth" -> 3.0,
        "learning_rate" -> 0.2), 7).asInstanceOf[GBT.GBTModel]
    val ml = MultilabelOvRModel(Array("a", "b", "c"),
      Array.tabulate(3) { c =>
        val w0 = new Array[Double](9)
        val w1 = Array.tabulate(9)(j =>
          if (j == 8) -0.1 * c else ((j * (c * 6 + 7)) % 5 - 2) * 0.3)
        LogRegModel(Array(w0, w1), 2): graft.exec.Model
      }, norm = None)
    val df = spark.range(0, 200000).select(col("id"),
      array((0 until 8).map(d =>
        sin(col("id") * (d * 31 + 11)).cast("double")): _*).as("x"))
    val x = col("x")
    val scored = graft.predict.Predict.withMultilabelPredictions(
        spark, df, ml, "x", "ml_labels")
      .withColumn("t_pred", graft.predict.FusedScore.predict(tree, x).get)
      .withColumn("f_proba", graft.predict.FusedScore.proba(forest, x).get)
      .withColumn("g_proba", graft.predict.FusedScore.proba(gbt, x).get)
      .withColumn("ml_csv", array_join(col("ml_labels"), ","))
      .drop("x", "ml_labels")
    fingerprint(scored)
  }

  private def ivfAppendFingerprint(spark: SparkSession): (Long, Long) = {
    import graft.sim.Similarity
    val dim = 32
    val vecs = spark.range(0, 20000).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        (when(pmod(col("id"), lit(16)) === d % 16, 8.0).otherwise(0.0) +
          sin(col("id") * (d * 13 + 7)) * 0.05).cast("double")): _*)
        .as("embedding"))
    val base = vecs.filter(col("vec_id") < 18000)
    val batch = vecs.filter(col("vec_id") >= 18000)
    val dir = java.nio.file.Files.createTempDirectory("ivf_mjvm").toString
    try {
      Similarity.writeIvfIndex(base, "embedding", "vec_id", dir,
        nClusters = 16, seed = 7)
      Similarity.appendToIvfIndex(batch, "embedding", "vec_id", dir)
      val probes = Seq(18000L, 18503L, 19007L, 19511L).map { qid =>
        val q = vecs.filter(col("vec_id") === qid).head().getSeq[Double](1)
        Similarity.probeIvfIndex(spark, dir, q, k = 5)
          .withColumn("cos", round(col("cos"), 4))
      }
      // the BATCH serving path too (r10): fused NearestCells probe lists
      // + static cell pruning + distributed rerank — the executors run
      // the codegen'd expression and read the appended cell files
      val batchProbe = Similarity.probeIvfIndexBatch(
          vecs.filter(col("vec_id").isin(18000L, 18503L, 19007L, 19511L))
            .withColumn("vec_id", col("vec_id") + 500000),
          "embedding", "vec_id", dir, k = 5)
        .select(col("neighbor_id"), round(col("cos"), 4).as("cos"))
      fingerprint(probes.reduce(_ unionByName _)
        .unionByName(batchProbe))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  /** Order/partitioning-independent fingerprint: sum of per-row
    * xxhash64 over all columns. Float columns in these queries are
    * rounded in the query itself, so the hash is layout-stable.
    */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    // mod before summing: a raw 64-bit hash sum overflows long (ANSI
    // mode throws); hashes mod 1e9+7 keep the sum far from the edge
    // while staying multiset-sensitive
    val h = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
        lit(1000000007L)))).head()
    (h.getLong(0), if (h.isNullAt(1)) 0L else h.getLong(1))
  }

  private def runAll(spark: SparkSession, sfDir: String,
                     names: Seq[String]): Map[String, (Long, Long)] =
    names.map { n =>
      val t0 = System.nanoTime()
      val fp =
        if (n == IvfAppendName) ivfAppendFingerprint(spark)
        else if (n == TreeScoreName) treeScoreFingerprint(spark)
        else fingerprint(graft.SparkEntry.queries(n)(spark, sfDir))
      println(f"[multijvm]   $n%-26s ${(System.nanoTime() - t0) / 1e9}%7.2f s" +
        s"  rows=${fp._1} hash=${fp._2}")
      n -> fp
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultQueries

    println(s"[multijvm] reference run: local[32] over $sfDir")
    val localSpark = Sessions.build("local[32]", 32)
    localSpark.sparkContext.setLogLevel("ERROR")
    val want = runAll(localSpark, sfDir, names)
    localSpark.stop()
    // a stopped session lingers in the builder's default-session slot;
    // clear so the cluster build doesn't inherit it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    println("[multijvm] cluster run: local-cluster[4,8,4096]")
    val cluster = Sessions.builder("local-cluster[4,8,4096]", 32)
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      .config("spark.executor.memory", "3g")
      .getOrCreate()
    cluster.sparkContext.setLogLevel("ERROR")
    val got = runAll(cluster, sfDir, names)
    cluster.stop()

    var fails = 0
    names.foreach { n =>
      val ok = want(n) == got(n)
      if (!ok) fails += 1
      println(s"[multijvm] ${if (ok) "OK  " else "FAIL"} $n " +
        s"local=${want(n)} cluster=${got(n)}")
    }
    println(s"[multijvm] ${if (fails == 0) "ALL OK" else s"$fails FAILURES"} " +
      s"(${names.length} queries)")
    if (fails > 0) sys.exit(1)
  }
}
