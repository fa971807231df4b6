package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.dedup.{Dedup, SubstringDedup}
import graft.sim.Similarity
import graft.store.IndexStore
import graft.store.IndexStore.Stop

/** The shared index store's crash contract, over all three index kinds:
  * a compaction that dies at any step leaves every probe equal to its
  * pre-compaction result (compaction is probe-invariant, so "before or
  * after" is one value), and both a same-id retry and a later fresh-id
  * compaction converge to one generation on disk.
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def rm(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir).getParentFile).deleteRecursively()
    ()
  }

  private def rand(rng: Random, n: Int) =
    Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString

  private def cluster(rng: Random, c: Int, ids: Range) = ids.map { i =>
    (i.toLong, Seq.tabulate(16)(d => (if (d == c * 4) 6.0 else 0.0) +
      rng.nextGaussian() * 0.1))
  }

  /** One index kind under test: `build` writes a two-generation-capable index
    * (base plus, where the kind appends, one appended batch); `probe`
    * renders every probe-visible fact, row counts included, so a double
    * count changes it; `rewrite` is the kind's compaction rewrite. */
  private case class Subject(kind: IndexStore.Kind, build: String => Unit,
                             probe: String => Seq[String],
                             rewrite: (String, String) => Seq[String] => Any)

  private lazy val span = {
    val rng = new Random(71)
    val corpus = (0L until 8L).map(i => i -> rand(rng, 120 + rng.nextInt(60)))
    val b1 = Seq(100L -> (rand(rng, 20) + corpus(3)._2.substring(5, 85)))
    val probe = Seq(200L -> (rand(rng, 15) + corpus(3)._2.substring(5, 85)),
      201L -> (b1.head._2.substring(10, 90) + rand(rng, 25)))
    Subject(SubstringDedup.SpanIndex,
      dir => {
        SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
          "text", "doc_id", dir, minLen = 24, k = 8)
        SubstringDedup.appendToSpanIndex(b1.toDF("doc_id", "text"),
          "text", "doc_id", dir, batchId = "b1")
      },
      dir => (SubstringDedup.spansAgainstIndex(probe.toDF("doc_id", "text"),
          "text", "doc_id", dir).collect().map(_.toString).toSeq ++
        SubstringDedup.SpanIndex.parts.map(p =>
          s"$p=${IndexStore.read(spark, dir, SubstringDedup.SpanIndex, p).count()}"))
        .sorted,
      (dir, id) => SubstringDedup.rewriteSpans(spark, dir, id))
  }

  private lazy val ivf = {
    val rng = new Random(72)
    val base = (0 until 4).flatMap(c => cluster(rng, c, (c * 100) until (c * 100 + 20)))
    val extra = (0 until 4).flatMap(c => cluster(rng, c, (1000 + c * 100) until (1000 + c * 100 + 5)))
    val queries = (base.take(3) ++ extra.take(3)).map { case (i, v) => (i + 50000, v) }
    Subject(Similarity.IvfIndex,
      dir => {
        Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
          "embedding", "vec_id", dir, nClusters = 4, seed = 11)
        Similarity.appendToIvfIndex(extra.toDF("vec_id", "embedding"),
          "embedding", "vec_id", dir)
      },
      dir => (Similarity.probeIvfIndexBatch(queries.toDF("vec_id", "embedding"),
          "embedding", "vec_id", dir, k = 3).collect().map(_.toString).toSeq ++
        Similarity.probeIvfIndex(spark, dir, extra.head._2, k = 3)
          .collect().map(_.toString) :+
        s"rows=${IndexStore.read(spark, dir, Similarity.IvfIndex, "cells").count()}")
        .sorted,
      (dir, id) => Similarity.rewriteCells(spark, dir, id))
  }

  private lazy val minhash = {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val rng = new Random(73)
    val snap = (0L until 12L).map(i =>
      i -> Seq.fill(12)(words(rng.nextInt(words.length))).mkString(" "))
    val batch = snap.take(4).map { case (i, t) => (i + 100, t) }
    Subject(Dedup.MinhashIndex,
      dir => Dedup.writeMinhashIndex(snap.toDF("doc_id", "text"),
        "text", "doc_id", dir),
      dir => (Dedup.nearDupPairsAgainstCorpus(batch.toDF("doc_id", "text"),
          dir, "text", "doc_id", minJaccard = 0.3).collect().map(_.toString).toSeq ++
        Dedup.MinhashIndex.parts.map(p =>
          s"$p=${IndexStore.read(spark, dir, Dedup.MinhashIndex, p).count()}"))
        .sorted,
      // MinHash has no compaction of its own: the store's protocol runs
      // over a plain copy of each part
      (dir, id) => live => Dedup.MinhashIndex.parts.foreach(p =>
        IndexStore.read(spark, dir, Dedup.MinhashIndex, p, live)
          .write.parquet(IndexStore.dataPath(dir, p, id))))
  }

  for ((name, subject) <- Seq("span" -> (() => span), "ivf" -> (() => ivf),
                        "minhash" -> (() => minhash));
       stop <- Seq(Stop.AfterData, Stop.AfterReplaces, Stop.AfterCommit,
                   Stop.MidDeletes);
       localFs <- Seq(false, true)) {
    test(s"$name index: compaction crash $stop reads as one generation; " +
         "same-id retry and fresh-id compaction converge" +
         (if (localFs) " (graft.store.LocalFs)" else "")) {
      if (localFs) LocalFsSpec.withLocalFs(spark)(crashCase(subject(), name, stop))
      else crashCase(subject(), name, stop)
    }
  }

  private def crashCase(sub: Subject, name: String, stop: Stop.Value): Unit = {
    val dir = tempDir(s"store_$name")
    try {
      sub.build(dir)
      val before = sub.probe(dir)
      def compact(id: String, at: Stop.Value) =
        IndexStore.compact(spark, dir, sub.kind, id, at)(sub.rewrite(dir, id))
      def onDisk() = IndexStore.onDisk(spark, dir, sub.kind)
      compact("c1", stop)
      assert(sub.probe(dir) == before, s"crashed at $stop")
      compact("c1", Stop.Never)
      assert(onDisk() == Set("c1"), s"retry after $stop")
      assert(sub.probe(dir) == before, s"retry after $stop")
      // the same crash again, then the NEXT compaction under a fresh id
      compact("c2", stop)
      assert(sub.probe(dir) == before, s"second crash at $stop")
      compact("c3", Stop.Never)
      assert(onDisk() == Set("c3"), s"fresh id after $stop")
      assert(sub.probe(dir) == before, s"fresh id after $stop")
    } finally rm(dir)
  }

  test("an uncommitted IVF append is invisible to both probes and to the " +
       "occupancy stats; an empty append writes no batch") {
    val rng = new Random(74)
    val base = (0 until 4).flatMap(c => cluster(rng, c, (c * 100) until (c * 100 + 20)))
    val dir = tempDir("store_ivf_partial")
    try {
      Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
        "embedding", "vec_id", dir, nClusters = 4, seed = 11)
      val q = base.head._2
      val queries = base.take(4).map { case (i, v) => (i + 50000, v) }
        .toDF("vec_id", "embedding")
      def probes() = (
        Similarity.probeIvfIndex(spark, dir, q, k = 5).collect().toSeq,
        Similarity.probeIvfIndexBatch(queries, "embedding", "vec_id", dir,
          k = 3).collect().toSet)
      val before = probes()
      // a crashed append: a full copy of the base cells, never committed
      // — visible, it would double every neighbor and every cell count
      spark.read.parquet(IndexStore.dataPath(dir, "cells", "base"))
        .write.partitionBy("_cell")
        .parquet(IndexStore.dataPath(dir, "cells", "crashed"))
      assert(probes() == before)
      val live = IndexStore.live(spark, dir)
      val empty = Similarity.appendToIvfIndex(
        Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"),
        "embedding", "vec_id", dir)
      assert(empty.appended == 0 && empty.total == base.size, empty.toString)
      assert(IndexStore.live(spark, dir) == live, "empty append wrote a batch")
      val one = Similarity.appendToIvfIndex(
        Seq((9000L, base.head._2)).toDF("vec_id", "embedding"),
        "embedding", "vec_id", dir)
      assert(one.appended == 1 && one.total == base.size + 1, one.toString)
    } finally rm(dir)
  }

  /** A rebuild of `dir` that dies after its data: the store's create
    * runs, and its build lands the data and sidecars of a real index
    * built with `build` elsewhere, then the process dies before the meta
    * and the commit. */
  private def crashedRebuild(kind: IndexStore.Kind, dir: String)
                            (build: String => Unit): Unit = {
    val next = tempDir("store_next")
    try {
      build(next)
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      intercept[RuntimeException] {
        IndexStore.create(spark, dir, kind) {
          (kind.parts.map(IndexStore.dataPath("", _, "base")) ++
              kind.sidecars.map("/" + _)).foreach { p =>
            FileUtil.copy(fs, new Path(next + p), fs, new Path(dir + p),
              false, fs.getConf)
          }
          throw new RuntimeException("process died after the data")
        }
      }
    } finally rm(next)
  }

  test("a rebuild with new params that dies after its data fails loudly") {
    val rng = new Random(75)
    val base = (0 until 4).flatMap(c => cluster(rng, c, (c * 100) until (c * 100 + 20)))
    val vecs = base.toDF("vec_id", "embedding")
    val words = "alpha beta gamma delta epsilon zeta eta theta".split(" ")
    val docs = (0L until 10L).map(i =>
      i -> Seq.fill(10)(words(rng.nextInt(words.length))).mkString(" "))
      .toDF("doc_id", "text")
    val ivfDir = tempDir("store_ivf_rebuild")
    val mhDir = tempDir("store_mh_rebuild")
    try {
      Similarity.writeIvfIndex(vecs, "embedding", "vec_id", ivfDir,
        nClusters = 4, seed = 11)
      crashedRebuild(Similarity.IvfIndex, ivfDir) { d =>
        Similarity.writeIvfIndex(vecs, "embedding", "vec_id", d,
          nClusters = 2, seed = 5, recallCurveSamples = 0)
      }
      assert(IndexStore.onDisk(spark, ivfDir, Similarity.IvfIndex) == Set("base"))
      val e1 = intercept[IllegalStateException] {
        Similarity.probeIvfIndex(spark, ivfDir, base.head._2, k = 3)
      }
      assert(e1.getMessage.contains(ivfDir) &&
        e1.getMessage.contains("writeIvfIndex"), e1.getMessage)
      Dedup.writeMinhashIndex(docs, "text", "doc_id", mhDir)
      crashedRebuild(Dedup.MinhashIndex, mhDir) { d =>
        Dedup.writeMinhashIndex(docs, "text", "doc_id", d, n = 2,
          numHashTables = 4, seed = 7)
      }
      val e2 = intercept[IllegalStateException] {
        Dedup.nearDupPairsAgainstCorpus(docs, mhDir, "text", "doc_id")
      }
      assert(e2.getMessage.contains(mhDir) &&
        e2.getMessage.contains("writeMinhashIndex"), e2.getMessage)
    } finally { rm(ivfDir); rm(mhDir) }
  }

  test("a corrupt index meta fails an IVF append loudly, naming the dir") {
    val rng = new Random(76)
    val base = (0 until 4).flatMap(c => cluster(rng, c, (c * 100) until (c * 100 + 10)))
    val dir = tempDir("store_ivf_corrupt")
    try {
      Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
        "embedding", "vec_id", dir, nClusters = 4, seed = 11)
      def append() = intercept[IllegalStateException] {
        Similarity.appendToIvfIndex(base.take(2).toDF("vec_id", "embedding"),
          "embedding", "vec_id", dir)
      }.getMessage
      // truncated in place: the local filesystem's checksum catches it
      val meta = java.nio.file.Paths.get(dir, "_meta.json")
      java.nio.file.Files.write(meta, "{\"kind\": \"ivf\", \"rows\": ".getBytes("UTF-8"))
      val e1 = append()
      assert(e1.contains(dir) && e1.contains("corrupt"), e1)
      // without a checksum sidecar, the JSON parse catches it
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "._meta.json.crc"))
      val e2 = append()
      assert(e2.contains(dir) && e2.contains("corrupt"), e2)
    } finally rm(dir)
  }
}
