package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ToolsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("_GEN_SUCCESS marker records the generated table subset") {
    import graft.tools.ScaleDataGen
    val out = java.nio.file.Files.createTempDirectory("sfgen").toString
    val base = "/root/testdata/sf0.001"
    try {
      ScaleDataGen.generate(spark, base, 2, out, Set("region", "nation"))
      assert(new java.io.File(s"$out/region.parquet").exists)
      assert(!new java.io.File(s"$out/documents.parquet").exists)
      // a fuller request after a subset run must generate the MISSING
      // tables — a bare done-marker returned 'cached' here with the
      // documents table absent
      ScaleDataGen.generate(spark, base, 2, out, Set("region", "documents"))
      assert(new java.io.File(s"$out/documents.parquet").exists)
      val marker = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(out, "_GEN_SUCCESS"))
      assert(marker.contains("region") && marker.contains("nation") &&
        marker.contains("documents"), marker.toString)
      // a legacy empty marker claims nothing: the request regenerates
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "_GEN_SUCCESS"),
        java.util.Collections.emptyList[String])
      ScaleDataGen.generate(spark, base, 2, out, Set("nation"))
      assert(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(out, "_GEN_SUCCESS")).contains("nation"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
      ()
    }
  }

  test("obs.StageMetrics: per-group stage rows; stage sums equal the totals") {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    val obs = graft.obs.StageMetrics.install(sc)
    try {
      graft.obs.StageMetrics.drain(sc)
      obs.clear()
      // two small jobs, each with a shuffle, on 2 partitions
      Seq("obs-a", "obs-b").foreach { g =>
        sc.setJobGroup(g, g)
        spark.range(0, 200000, 1, 2)
          .groupBy((col("id") % 7).as("k"))
          .agg(sum(xxhash64(col("id")) % 1000).as("h"))
          .collect()
        sc.clearJobGroup()
      }
      graft.obs.StageMetrics.drain(sc)
      val stages = obs.stages
      Seq("obs-a", "obs-b").foreach { g =>
        val rows = stages.filter(_.group == g)
        assert(rows.nonEmpty, s"no stage rows for $g")
        rows.foreach { r =>
          assert(r.tasks > 0 && r.cpuNs > 0, r.toString)
        }
        assert(rows.exists(_.shuffleWriteBytes > 0), rows.toString)
      }
      // the total Bench reads covers exactly the two groups' stages, and
      // at least each job's 2-partition map stage
      val t = obs.total
      val tagged = stages.filter(r => r.group == "obs-a" || r.group == "obs-b")
      assert(t.tasks >= 4, t.toString)
      assert(t.tasks == tagged.map(_.tasks).sum, stages.toString)
      assert(t.cpuNs == tagged.map(_.cpuNs).sum, stages.toString)
      assert(t.shuffleWriteBytes == tagged.map(_.shuffleWriteBytes).sum)
    } finally sc.removeSparkListener(obs)
  }

  test("every main and SPARK_GRAFT_* knob is listed in tools/README.md") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
    val build = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("build.sbt")), "UTF-8")
    val knobs = (sources :+ build)
      .flatMap("SPARK_GRAFT_[A-Z_]+".r.findAllIn(_)).toSet
    val mains = sources.flatMap { src =>
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).get.group(1)
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val obj = "(?m)^object (\\w+)".r.findAllMatchIn(src.take(m.start))
          .toSeq.last.group(1)
        s"$pkg.$obj"
      }
    }.toSet
    // the first backticked name of each table row in a README section
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/README.md")), "UTF-8")
    def listed(section: String): Set[String] =
      readme.split("\n## ").find(_.startsWith(section)).get
        .split("\n").toSeq
        .flatMap("^\\| `([^`]+)`".r.findFirstMatchIn(_)).map(_.group(1)).toSet
    assert(knobs == listed("Environment knobs"))
    assert(mains == listed("Mains"))
    assert(mains.size <= 10)
  }

  test("only Sessions sets Hadoop keys or the plan string bound") {
    // session-start settings live in one place: a `spark.hadoop.` key set
    // elsewhere reaches only the sessions that code builds, and the plan
    // text bound is lifted only where plan text is the output (PlanDump)
    import scala.jdk.CollectionConverters._
    val allowed = Map(
      "src/main/scala/graft/tools/Sessions.scala" -> Seq("spark.hadoop.", "maxPlanStringLength"),
      "src/main/scala/graft/tools/PlanDump.scala" -> Seq("maxPlanStringLength"))
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        Seq("spark.hadoop.", "maxPlanStringLength")
          .filter(t => src.contains(t) && !allowed.getOrElse(p.toString, Nil).contains(t))
          .map(t => s"$p: $t")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val planDump = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/tools/PlanDump.scala")), "UTF-8")
    assert("maxPlanStringLength".r.findAllIn(planDump).length == 1 &&
      planDump.contains("""spark.conf.unset("spark.sql.maxPlanStringLength")"""),
      "PlanDump may only unset the bound")
  }

  test("only graft.store implements the index commit protocol") {
    // one commit protocol: markers, the index meta and renames live in
    // graft/store/ alone, so a fourth protocol cannot creep back
    import scala.jdk.CollectionConverters._
    val store = java.nio.file.Paths.get("src/main/scala/graft/store")
    val tokens = Seq("_COMMIT", "_REPLACES", "_meta.json", ".rename(")
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(store))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        tokens.filter(src.contains).map(t => s"$p: $t")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only graft.ops.Scoped writes the shuffle width or state-store conf") {
    // a per-call clone carries these settings: a write to a caller's
    // conf would leak into every thread planning on that session. The
    // key may be spelled as a literal, a val bound to the literal, or
    // Spark's own conf entry.
    import scala.jdk.CollectionConverters._
    val helper = java.nio.file.Paths.get("src/main/scala/graft/ops/Scoped.scala")
    val keys = Set("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
    val bound = sources.flatMap { case (_, src) =>
      """val\s+(\w+)\s*(?::\s*String\s*)?=\s*"([^"]+)"""".r
        .findAllMatchIn(src).filter(m => keys(m.group(2))).map(_.group(1))
    }.toSet
    val write = """conf\.(?:set|unset)\(\s*(?:"([^"]+)"|([\w.]+))""".r
    val offenders = sources.filter(_._1 != helper).flatMap { case (p, src) =>
      write.findAllMatchIn(src).filter { m =>
        if (m.group(1) != null) keys(m.group(1))
        else bound(m.group(2).split('.').last) ||
          Seq("SHUFFLE_PARTITIONS", "STATE_STORE_PROVIDER")
            .exists(m.group(2).contains)
      }.map(m => s"$p: ${m.matched}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("DataParallelFit is the one learner dispatch and DpCvFrame the one fold frame") {
    // an over-budget route that fits a learner or hashes fold ids on its
    // own drifts from the others (regParam translation, class counts,
    // fold ids); DataParallelGBT's boosting refits regressor trees itself
    import scala.jdk.CollectionConverters._
    val search = java.nio.file.Paths.get("src/main/scala/graft/search")
    val exempt = Set(search.resolve("DataParallel.scala"),
      search.resolve("DataParallelGBT.scala"))
    val dispatch = Seq(
      """DataParallelCART\.fit(?:Classifier|Regressor)\b""",
      """DataParallelGBT\.fit\b""",
      """new\s+[\w.]*LogisticRegression\s*\(""",
      """Folds\.byHash\(\s*monotonically_increasing_id""").map(_.r)
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !exempt(p))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        dispatch.flatMap(_.findAllMatchIn(src)).map { m =>
          s"$p:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
        }
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ModelParallel.fanOut is the one broadcast fit fan-out") {
    // a surface broadcasting its matrix or parallelizing its fit tasks by
    // hand picks its own broadcast release — and a driver that keeps the
    // matrix after the fit; DataParallelCART's route and candidate
    // broadcasts belong to histogram induction, not to a fit fan-out
    import scala.jdk.CollectionConverters._
    val exec = java.nio.file.Paths.get("src/main/scala/graft/exec")
    val search = java.nio.file.Paths.get("src/main/scala/graft/search")
    val exempt = Set(exec.resolve("ModelParallel.scala"),
      search.resolve("DataParallelCART.scala"))
    val fanOut = """(?:sparkContext|\bsc)\.broadcast\(|\.parallelize\(""".r
    val offenders = Seq(exec, search).flatMap { dir =>
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !exempt(p))
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          fanOut.findAllMatchIn(src).map { m =>
            s"$p:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
          }
        }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("tree split search has one path: no per-node row sort in CART or GBT") {
    // the exhaustive split search reads rank order off CART.TreeView; a
    // sortBy over a node's rows beside it is the boxed per-node sort the
    // view replaced, and a second split path to keep bit-identical
    val exec = java.nio.file.Paths.get("src/main/scala/graft/exec")
    val offenders = Seq("CART.scala", "GBT.scala").flatMap { f =>
      val p = exec.resolve(f)
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      """sortBy\(""".r.findAllMatchIn(src).map { m =>
        s"$p:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Code lines of `p` (comment lines and trailing comments dropped) that
    * match one of `patterns`, as `path:line: text`.
    */
  private def codeMatches(p: java.nio.file.Path,
                          patterns: Seq[scala.util.matching.Regex]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (l, i) if !Seq("//", "*", "/*").exists(l.trim.startsWith) &&
          patterns.exists(_.findFirstIn(l.split("//").head).isDefined) =>
        s"$p:${i + 1}: ${l.trim}"
    }
  }

  test("one CV loop: only Search.scala aggregates, ranks or scores CV folds in graft.search") {
    // the grid search, the multi-model race and the eliminator all run
    // SearchLoop; a surface scoring folds or ranking candidates itself is
    // a second copy of that loop
    import scala.jdk.CollectionConverters._
    val search = java.nio.file.Paths.get("src/main/scala/graft/search")
    val calls = Seq(
      """CvResults\.(?:aggregate|aggregateMulti|best)\b""",
      """Metrics\.(?:scorer|multi)\b""",
      """DistributedScore\s*[.(]""").map(_.r)
    val offenders = java.nio.file.Files.walk(search).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != search.resolve("Search.scala"))
      .flatMap(codeMatches(_, calls)).toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one decomposition loop: Multiclass.scala fans out, submits, fits and caches only in it") {
    // OvR, multilabel OvR and OvO each keep a task axis, a label rule and
    // a seed; a route that fans out, caches or fits on its own is a second
    // copy of the loop, with its own containment and cap
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get("src/main/scala/graft/search/Multiclass.scala")
    val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
    val start = lines.indexWhere(_.startsWith("private[search] object Decomposition"))
    val end = if (start < 0) -1 else lines.indexWhere(_ == "}", start)
    val calls = Seq("""ModelParallel\.fanOut\b""", """Par\.concurrently\b""",
      """DataParallelFit\.fit\b""", """ConstantModel\(""", """\.cache\(\)""").map(_.r)
    val offenders = codeMatches(p, calls).filter { m =>
      val line = m.stripPrefix(s"$p:").takeWhile(_ != ':').toInt - 1
      line < start || line > end
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one IVF path: Similarity.scala fits quantizers and probes cells only in buildIvf and probeIvf") {
    // ivfTopK, writeIvfIndex and probeIvfIndexBatch share one build and
    // one probe; a surface fitting or probing on its own is a second copy
    // of the path, free to drift in its filters, sizing and guards
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get("src/main/scala/graft/sim/Similarity.scala")
    val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
    def body(name: String): Range = {
      val start = lines.indexWhere(_.startsWith(s"  private def $name("))
      if (start < 0) 0 until 0 else start to lines.indexWhere(_ == "  }", start)
    }
    val allowed = Seq(body("buildIvf"), body("probeIvf"))
    val calls = Seq("""(?<!def )fitCoarseQuantizer\(""", """\.probeCells\(""").map(_.r)
    val offenders = codeMatches(p, calls).filter { m =>
      val line = m.stripPrefix(s"$p:").takeWhile(_ != ':').toInt - 1
      !allowed.exists(_.contains(line))
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("DataParallelGBT sums through orderedAggregate, never a SQL sum") {
    // a SQL sum merges its partials in shuffle-fetch order, so two runs of
    // one fit on a cluster could differ in the last bits; the histogram
    // pass, the prior and the Newton steps all merge in partition order
    val offenders = codeMatches(
      java.nio.file.Paths.get("src/main/scala/graft/search/DataParallelGBT.scala"),
      Seq("""(?<![\w.])sum\(""".r))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no VectorAssembler under src/main: graft.functions.AssembleVectors assembles") {
    // VectorAssembler runs a job per transform to read block sizes off the
    // first row and assembles through a boxed UDF; the codegen'd
    // expression takes the widths the caller knows
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      // code only: comments may name what the expression reproduces
      .flatMap(codeMatches(_, Seq("VectorAssembler".r))).toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
