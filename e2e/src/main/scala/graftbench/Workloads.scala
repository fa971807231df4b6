package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SubstringDedup}
import graft.encode.Encoderizer
import graft.exec.{LogisticRegressionLBFGS, ModelParallel}
import graft.predict.Predict
import graft.search.{DistFeatureEliminator, DistGridSearchCV, DistRandomForestClassifier}
import graft.sim.Similarity
import graft.streaming.Streams
import graft.text.Corpus

/** A named output check of one pass. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** What one pass of a workload produced. `values` feeds the metrics;
  * `fingerprint` must be identical on every pass of one seed; `samples`
  * holds the timings of the unit whose throughput `rows_per_s` reports
  * (the batch scoring of new rows, an ingested batch), each of
  * `values("rows")` rows.
  */
final case class Outcome(values: Map[String, Double],
                         fingerprint: Map[String, String],
                         checks: Seq[Check],
                         samples: Seq[Double] = Nil)

/** Sizes of the generated inputs. */
final case class InputStats(rows: Long, bytes: Long)

trait Workload {
  def name: String
  /** Writes the seeded inputs under `dir`. */
  def generate(spark: SparkSession, dir: Path, seed: Long, data: Path): InputStats
  /** Runs once after set-up, untimed: the job's code paths, so that timed
    * passes do not pay their first class loading and compilation.
    */
  def warmUp(spark: SparkSession, dir: Path, seed: Long): Unit
  /** One whole job over the inputs under `dir`; `scratch` is fresh. The
    * job itself runs inside the phase span "pass"; checks run after it.
    */
  def pass(spark: SparkSession, dir: Path, scratch: Path, seed: Long, spans: Spans): Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(TrainCovtype, CurateIngest)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Persist + count: a stage boundary, so the stage's cost lands in its
    * own span and its row count is checked.
    */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** Order-independent content hash and row count of a frame. */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}

import Workloads._

/** sk-dist's own job: encode a mixed-type frame, grid-search a logistic
  * regression, batch-predict the frame, then fit a 100-tree forest and a
  * feature eliminator against the broadcast matrix.
  */
object TrainCovtype extends Workload {
  val name = "train_covtype"
  val rows = 2000
  val trees = 100
  val grid: Map[String, Seq[Double]] = Map("c" -> Seq(0.01, 0.1, 1.0, 10.0))
  val cv = 5

  /** The frame the refit model batch-predicts: new rows from the same
    * class model, `scoreFactor` times the training frame.
    */
  val scoreFactor = 25
  val scoreBatches = 5

  def generate(spark: SparkSession, dir: Path, seed: Long, data: Path): InputStats = {
    val f = dir.resolve("covtype.parquet")
    val g = dir.resolve("covtype_score.parquet")
    Inputs.writeFlat(Inputs.covtype(spark, seed, rows), f)
    Inputs.writeFlat(Inputs.covtype(spark, seed + 1000003L, rows * scoreFactor), g)
    InputStats(rows.toLong * (1 + scoreFactor), Files.size(f) + Files.size(g))
  }

  /** The job's calls once over a 500-row slice. A whole pass as warm-up
    * would not fit the run budget; this costs about half as much and takes
    * most of the first-pass extra away.
    */
  def warmUp(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val raw = spark.read.parquet(dir.resolve("covtype.parquet").toString).filter(col("row_id") < 500)
    val enc = Encoderizer.fit(raw, Inputs.NumericCols ++ Seq("wilderness", "soil"))
    val x = enc.transform(raw).select(col("row_id"),
      vector_to_array(col("features")).as("features"), col("cover"))
    val m = ModelParallel.collectMatrix(x, "features", "cover", 2, seed)
    val model = new DistGridSearchCV(LogisticRegressionLBFGS, Map("c" -> Seq(1.0)), cv = 2,
      scoring = "f1_weighted", seed = seed).fitMatrix(spark, m).bestModel
    Predict.withProbabilities(spark, Predict.withPredictions(spark, x, model, "features"),
      model, "features").count()
    DistRandomForestClassifier(4, seed = seed).fitMatrix(spark, m)
    new DistFeatureEliminator(LogisticRegressionLBFGS, minFeaturesToSelect = 10,
      step = 22, cv = 2, scoring = "f1_weighted", seed = seed).fitMatrix(spark, m)
  }

  def pass(spark: SparkSession, dir: Path, scratch: Path, seed: Long, spans: Spans): Outcome = {
    val raw = spark.read.parquet(dir.resolve("covtype.parquet").toString)
    val score = spark.read.parquet(dir.resolve("covtype_score.parquet").toString)
    val cols = Inputs.NumericCols ++ Seq("wilderness", "soil")
    val t0 = System.nanoTime()
    var timeToModel = 0.0
    val (enc, encoded, scoring, bytes, search, nPred, predHash, forest, elim) = spans.phase("pass") {
      val enc = spans.call("encode.fit") { Encoderizer.fit(raw, cols) }
      val encoded = spans.call("encode.transform") {
        materialize(enc.transform(raw).select(col("row_id"),
          vector_to_array(col("features")).as("features"), col("cover")))._1
      }
      val bytes = spans.call("exec.estimate") {
        ModelParallel.estimateMatrixBytes(encoded, "features")
      }
      val m5 = spans.call("exec.collect") {
        ModelParallel.collectMatrix(encoded, "features", "cover", cv, seed)
      }
      val search = spans.call("search.grid") {
        new DistGridSearchCV(LogisticRegressionLBFGS, grid, cv = cv,
          scoring = "f1_weighted", seed = seed).fitMatrix(spark, m5)
      }
      timeToModel = (System.nanoTime() - t0) / 1e9
      // batch scoring of new raw rows: encode them, then one predict call
      // per scoring batch
      val (scoring, predicted) = spans.phase("score") {
        val scoring = spans.call("encode.transform") {
          materialize(enc.transform(score).select(col("row_id"),
            vector_to_array(col("features")).as("features")))._1
        }
        (scoring, (0 until scoreBatches).map { b =>
          spans.call("predict") {
            val part = scoring.filter(pmod(col("row_id"), lit(scoreBatches)) === b)
            val p = Predict.withProbabilities(spark,
              Predict.withPredictions(spark, part, search.bestModel, "features"),
              search.bestModel, "features")
            val r = p.agg(count(lit(1)),
              bit_xor(xxhash64(col("row_id"), col("preds"), col("scores")))).head()
            (r.getLong(0), r.getLong(1))
          }
        })
      }
      val nPred = predicted.map(_._1).sum
      val predHash = predicted.map(_._2).reduce(_ ^ _)
      val m1 = spans.call("exec.collect") {
        ModelParallel.collectMatrix(encoded, "features", "cover", 1, seed, stratified = false)
      }
      val forest = spans.call("search.forest") {
        DistRandomForestClassifier(trees, seed = seed).fitMatrix(spark, m1)
      }
      val m5e = spans.call("exec.collect") {
        ModelParallel.collectMatrix(encoded, "features", "cover", cv, seed)
      }
      val elim = spans.call("search.elim") {
        new DistFeatureEliminator(LogisticRegressionLBFGS, minFeaturesToSelect = 10,
          step = 22, cv = cv, scoring = "f1_weighted", seed = seed).fitMatrix(spark, m5e)
      }
      (enc, encoded, scoring, bytes, search, nPred, predHash, forest, elim)
    }
    val all = spans.records
    val fitS = Seq("search.grid", "search.forest", "search.elim").map(Spans.total(all, _)).sum
    val rungs = elim.scores.count()
    val fits = grid.values.map(_.size).product * cv + trees + rungs * cv

    // Spark predictions against driver-side Model.predict on a seeded sample
    val sample = Predict.withPredictions(spark,
        scoring.filter(pmod(col("row_id") + lit(seed), lit(97)) === 0), search.bestModel, "features")
      .select("features", "preds").collect()
    val mismatches = sample.count { r =>
      search.bestModel.predict(r.getSeq[Double](0).toArray).toInt != r.getInt(1)
    }
    val forestHash = sample.map(r => forest.predict(r.getSeq[Double](0).toArray)).toSeq.hashCode
    encoded.unpersist()
    scoring.unpersist()
    Outcome(
      values = Map(
        "build_s" -> timeToModel,
        "rows" -> nPred.toDouble,
        "fits" -> fits.toDouble,
        "fit_s" -> fitS,
        "exec.matrix_bytes" -> bytes.toDouble,
        "predict.rows" -> nPred.toDouble),
      fingerprint = Map(
        "best_params" -> search.bestParams.toSeq.sorted.mkString(","),
        "best_score" -> java.lang.Double.toString(search.bestScore),
        "predictions" -> predHash.toString,
        "forest_sample" -> forestHash.toString,
        "elim_features" -> elim.bestFeatures.mkString(",")),
      checks = Seq(
        Check("encoded_width_54", enc.width == 54, s"width ${enc.width}"),
        Check("predicted_every_row", nPred == rows * scoreFactor,
          s"$nPred of ${rows * scoreFactor}"),
        Check("spark_predict_equals_driver_predict", sample.nonEmpty && mismatches == 0,
          s"$mismatches of ${sample.length} sampled rows differ"),
        Check("eliminator_keeps_at_least_min", elim.bestFeatures.length >= 10,
          s"${elim.bestFeatures.length} kept")),
      samples = all.filter(_.name == "score").map(_.seconds))
  }
}

/** The LLM-data pillar as one pipeline: quality gate, exact and near-dup
  * dedup, span removal, decontamination against a held-out slice, mix
  * sampling and sequence packing, over cipher copies of the documents.
  * The curation half of [[CurateIngest]] and of the oracle mode.
  */
object CurateCorpus {
  val copies = 1
  /** Documents whose id within their copy is below this are the held-out
    * evaluation slice the corpus is decontaminated against.
    */
  val HeldOut = 50L

  /** Stage-boundary row counts, in pipeline order. */
  val Stages: Seq[String] = Seq("quality", "exact", "pairs", "survivors", "spans",
    "decontaminated", "mixed", "packed")

  def generate(spark: SparkSession, dir: Path, seed: Long, data: Path, copies: Int): InputStats = {
    val base = spark.read.parquet(data.resolve("documents.parquet").toString)
    val f = dir.resolve("documents.parquet")
    Inputs.writeFlat(Inputs.corpus(base, seed, copies), f)
    InputStats(base.count() * copies, Files.size(f))
  }

  def heldOut(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(Inputs.CopyOffset)) < HeldOut)

  /** q75's source-weighted mix rates. */
  private def mixPct = {
    val idx = expr("CAST(substring(source, 4, 18) AS INT)")
    when(pmod(idx, lit(3)) === 0, 60).when(pmod(idx, lit(3)) === 1, 30).otherwise(10)
  }

  /** The pipeline; returns each stage's output frame and row count. */
  def pipeline(docs: DataFrame, spans: Spans): Seq[(String, DataFrame, Long)] = {
    val good = spans.call("text.quality") {
      materialize(docs.join(Corpus.gopherRules(docs, "text", "doc_id")
        .filter(col("pass")).select("doc_id"), "doc_id"))
    }
    val exact = spans.call("dedup.exact") { materialize(Dedup.exact(good._1, "text", "doc_id")) }
    val pairs = spans.call("dedup.minhash") {
      materialize(Dedup.minhashPairs(exact._1, "text", "doc_id",
        n = 3, numHashTables = 8, minJaccard = 0.2))
    }
    val survivors = spans.call("dedup.components") {
      materialize(Dedup.survivors(exact._1, pairs._1, "doc_id"))
    }
    val cleaned = spans.call("dedup.spans") {
      materialize(SubstringDedup.removeDuplicateSpans(survivors._1, "text", "doc_id",
        minLen = 50, k = 16).join(survivors._1.select("doc_id", "lang", "source"), "doc_id"))
    }
    val corpus = cleaned._1.filter(pmod(col("doc_id"), lit(Inputs.CopyOffset)) >= HeldOut)
    val decontaminated = spans.call("dedup.contam") {
      val hit = SubstringDedup.crossSpans(corpus.select(col("doc_id"), col("text_cleaned").as("text")),
          heldOut(docs), "text", "doc_id", minLen = 50, k = 16)
        .select(col("corpus_id").as("doc_id")).distinct()
      materialize(corpus.join(hit, Seq("doc_id"), "left_anti"))
    }
    val mixed = spans.call("text.mix") {
      materialize(Corpus.mixSample(decontaminated._1, "doc_id", mixPct))
    }
    val packed = spans.call("text.pack") {
      materialize(Corpus.packOffsets(mixed._1, "text_cleaned", "doc_id", "lang", budget = 512))
    }
    Stages.zip(Seq(good, exact, pairs, survivors, cleaned, decontaminated, mixed, packed))
      .map { case (n, (df, c)) => (n, df, c) }
  }
}

/** Curate a corpus, then keep it current: the curated training mix becomes
  * the snapshot of three on-disk indexes (MinHash, span, IVF); crawl batches
  * then arrive one file at a time through a stream, each decontaminated,
  * probed for near and fragment duplicates and appended; the IVF index
  * takes the batches' vectors and serves planted twin queries; both
  * appendable indexes are compacted and probed again.
  */
object CurateIngest extends Workload {
  val name = "curate_ingest"
  val batches = 3
  val freshPerBatch = 12
  val recrawlsPerBatch = 4
  val twinCount = 16
  val dim = 32
  /** Incoming documents are a third cipher copy: new text, same shape. */
  val FreshCopy = 2
  val RecrawlBase = 20000000L
  val ContamBase = 25000000L
  val CheckBase = 30000000L
  val TwinBase = 40000000L
  private val ContamHost = 4800L

  private def sub(dir: Path, n: String) = dir.resolve(n).toString

  def generate(spark: SparkSession, dir: Path, seed: Long, data: Path): InputStats = {
    import spark.implicits._
    val corpus = CurateCorpus.generate(spark, dir, seed, data, CurateCorpus.copies)
    val cipher = (copy: Int) => Inputs.Alphabet.zip(Inputs.cipher(seed, copy)).toMap
    val byId = spark.read.parquet(data.resolve("documents.parquet").toString)
      .select(Inputs.docSchema.fieldNames.map(col).toSeq: _*).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    def text(copy: Int, local: Long) = byId(local)._1.map(c => cipher(copy).getOrElse(c, c))
    def doc(b: Int, id: Long, t: String, local: Long) =
      (b, id, t, byId(local)._2, byId(local)._3, t.length.toLong)
    val rnd = new scala.util.Random(seed)
    val sources = Expected.stableSurvivors
    val heldOut = (0L until CurateCorpus.HeldOut).filter(i => byId(i)._1.length >= 150)
    val rows = Seq.newBuilder[(Int, Long, String, String, String, Long)]
    val planted = Seq.newBuilder[String]
    var textBytes = 0L
    (0 until batches).foreach { b =>
      val fresh = (0 until freshPerBatch).map { j =>
        val local = 1000L + b * freshPerBatch + j
        doc(b, FreshCopy * Inputs.CopyOffset + local, text(FreshCopy, local), local)
      }
      // re-crawls of curated documents: an unchanged page, or one that lost its last word
      val recrawls = (0 until recrawlsPerBatch).map { j =>
        val copy = rnd.nextInt(CurateCorpus.copies)
        val local = sources(rnd.nextInt(sources.size))
        val t = text(copy, local)
        val id = RecrawlBase + b * 100 + j
        planted += s"$id ${copy * Inputs.CopyOffset + local}"
        doc(b, id, if (j % 2 == 0) t else t.substring(0, t.lastIndexOf(' ')), local)
      }
      // a new page quoting 100 characters of a held-out evaluation document
      val contam = {
        val id = ContamBase + b
        val quoted = text(0, heldOut(b % heldOut.size)).substring(20, 120)
        planted += s"$id -1"
        doc(b, id, text(FreshCopy, ContamHost + b) + " " + quoted, ContamHost + b)
      }
      val batch = fresh ++ recrawls :+ contam
      textBytes += batch.map(_._3.getBytes("UTF-8").length.toLong).sum
      rows ++= batch
    }
    Inputs.writeGroups(rows.result().toDF(("b" +: Inputs.docSchema.fieldNames.toSeq): _*), dir,
      b => f"batch_$b%04d.parquet")
    // one vector per corpus document and per fresh incoming document
    val corpusIds = (0 until CurateCorpus.copies).flatMap(c => byId.keys.map(_ + c * Inputs.CopyOffset))
    val incoming = (0 until batches).flatMap(b => (0 until freshPerBatch).map(j =>
      FreshCopy * Inputs.CopyOffset + 1000L + b * freshPerBatch + j))
    Inputs.writeGroups((corpusIds.map((0, _)) ++ incoming.map((1, _)))
      .map { case (g, i) => (g, i, Inputs.vector(seed, i, dim)) }.toDF("b", "id", "vec"), dir,
      b => if (b == 0) "vectors_corpus.parquet" else "vectors_incoming.parquet")
    // planted twins: exact copies, under new ids, of curated and incoming vectors
    val targets = sources.flatMap(l => (0 until CurateCorpus.copies).map(_ * Inputs.CopyOffset + l)) ++
      incoming
    Inputs.writeFlat((0 until twinCount).map { j =>
      val target = targets(rnd.nextInt(targets.size))
      (TwinBase + j, target, Inputs.vector(seed, target, dim))
    }.toDF("id", "target", "vec"), dir.resolve("twins.parquet"))
    Files.write(dir.resolve("planted.txt"), planted.result().mkString("\n").getBytes("UTF-8"))
    Files.write(dir.resolve("incoming_text_bytes.txt"), textBytes.toString.getBytes("UTF-8"))
    InputStats(corpus.rows + batches * (freshPerBatch + recrawlsPerBatch + 1), Dirs.bytes(dir))
  }

  /** No warm-up: the pass is timed as a freshly started job runs it. Its
    * first-run extra (class loading and code generation, about a fifth of
    * a pass) is per call, not per row, so a warm-up over a slice costs
    * nearly as much as the curation it warms (18 s against a 14 s warm
    * curation on a 4-core host), and a full round of runs would not fit
    * in the time allowed.
    */
  def warmUp(spark: SparkSession, dir: Path, seed: Long): Unit = ()

  def pass(spark: SparkSession, dir: Path, scratch: Path, seed: Long, spans: Spans): Outcome = {
    val mh = sub(scratch, "minhash")
    val span = sub(scratch, "spans")
    val ivf = sub(scratch, "ivf")
    val incoming = Files.createDirectories(scratch.resolve("incoming"))
    val read = (f: String) => spark.read.parquet(dir.resolve(f).toString)
    // planted id -> the curated document it re-crawls (-1: contaminated)
    val planted = new String(Files.readAllBytes(dir.resolve("planted.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).map { l => val a = l.split(" "); a(0).toLong -> a(1).toLong }.toMap
    val textBytes = new String(Files.readAllBytes(dir.resolve("incoming_text_bytes.txt")), "UTF-8").trim.toLong
    val docs = read("documents.parquet")
    val bench = CurateCorpus.heldOut(docs)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    var written = 0L
    def wrote[T](p: String)(body: => T): T = {
      val before = Dirs.bytes(java.nio.file.Paths.get(p))
      val r = body
      written += math.max(0L, Dirs.bytes(java.nio.file.Paths.get(p)) - before)
      r
    }
    def probeTwins(): Seq[(Long, Long, Long)] = {
      val twins = read("twins.parquet")
      val hits = spans.call("sim.ivf_probe") {
        Similarity.probeIvfIndexBatch(twins, "vec", "id", ivf, k = 1).collect()
      }.map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
      twins.select("id", "target").collect().toSeq.map { r =>
        (r.getLong(0), r.getLong(1), hits.getOrElse(r.getLong(0), -1L))
      }.sorted
    }
    def spanCheck(snapshot: DataFrame): Set[String] = {
      // copies, under new ids, of indexed snapshot and appended documents
      val probe = snapshot.orderBy("doc_id").limit(6)
        .unionByName(read("batch_*.parquet").filter(col("doc_id").isin(kept.take(6).toSeq: _*))
          .select("doc_id", "text"))
        .withColumn("doc_id", col("doc_id") + lit(CheckBase))
      spans.call("dedup.span_probe") {
        SubstringDedup.spansAgainstIndex(probe, "text", "doc_id", span).collect()
      }.map(_.toString).toSet
    }

    val t0 = System.nanoTime()
    var curateS, buildS = 0.0
    val (stages, snapIds, twins, preSpans, postSpans, postTwins) = spans.phase("pass") {
      val stages = spans.phase("curate") { CurateCorpus.pipeline(docs, spans) }
      curateS = (System.nanoTime() - t0) / 1e9
      // the curated training mix, with its crawled text and vectors, is
      // written out as the snapshot the indexes are built from
      val mixIds = stages.find(_._1 == "mixed").get._2.select("doc_id")
      val snapshotFile = spans.phase("curate.write") {
        mixIds.join(docs, "doc_id")
          .join(read("vectors_corpus.parquet").withColumnRenamed("id", "doc_id"), "doc_id")
          .select("doc_id", "text", "vec").write.parquet(sub(scratch, "snapshot"))
        spark.read.parquet(sub(scratch, "snapshot"))
      }
      val snapshot = snapshotFile.select("doc_id", "text")
      val snapIds = spans.phase("ingest.build") {
        wrote(mh)(spans.call("dedup.minhash_build") {
          Dedup.writeMinhashIndex(snapshot, "text", "doc_id", mh) })
        wrote(span)(spans.call("dedup.span_build") {
          SubstringDedup.writeSpanIndex(snapshot, "text", "doc_id", span) })
        wrote(ivf)(spans.call("sim.ivf_build") {
          Similarity.writeIvfIndex(snapshotFile, "vec", "doc_id", ivf, seed = seed) })
        snapshot.select("doc_id").collect().map(_.getLong(0)).toSet
      }
      buildS = (System.nanoTime() - t0) / 1e9
      spans.phase("ingest.batches") {
        var b = 0
        val onBatch: (DataFrame, Long) => Unit = (df, _) => if (!df.isEmpty) spans.phase("ingest.batch") {
          val in = df.persist()
          val clean = spans.call("dedup.contam") {
            materialize(Streams.contaminationFilter(in, bench, "text", "doc_id")
              .filter(!col("contaminated")).select(in.columns.map(col).toSeq: _*))._1
          }
          val fresh = spans.call("dedup.neardup_probe") {
            materialize(Dedup.dedupNearAgainstCorpus(clean, mh, "text", "doc_id"))._1
          }
          val spanHits = spans.call("dedup.span_probe") {
            SubstringDedup.spansAgainstIndex(fresh, "text", "doc_id", span)
              .select("batch_id").distinct().collect().map(_.getLong(0))
          }
          val keep = fresh.filter(!col("doc_id").isin(spanHits.toSeq: _*))
          kept ++= keep.select("doc_id").collect().map(_.getLong(0))
          wrote(span)(spans.call("dedup.span_append") {
            SubstringDedup.appendToSpanIndex(keep, "text", "doc_id", span, f"b$b%04d") })
          Seq(in, clean, fresh).foreach(_.unpersist())
          b += 1
        }
        val q = spans.call("streaming.start") {
          Streams.readDocuments(spark, incoming.toString, glob = "batch_*.parquet")
            .writeStream.option("checkpointLocation", sub(scratch, "checkpoint"))
            .foreachBatch(onBatch).start()
        }
        try {
          (0 until batches).foreach { i =>
            val name = f"batch_$i%04d.parquet"
            val staged = incoming.resolve("_" + name)
            Files.copy(dir.resolve(name), staged)
            // the file becomes visible to the stream with this rename
            Files.move(staged, incoming.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            val t1 = System.nanoTime()
            q.processAllAvailable()
            latencies += (System.nanoTime() - t1) / 1e9
          }
        } finally q.stop()
      }
      val (twins, preSpans) = spans.phase("ingest.serve") {
        wrote(ivf)(spans.call("sim.ivf_append") {
          Similarity.appendToIvfIndex(read("vectors_incoming.parquet"), "vec", "id", ivf) })
        (probeTwins(), spanCheck(snapshot))
      }
      spans.phase("ingest.compact") {
        wrote(span)(spans.call("dedup.span_compact") {
          SubstringDedup.compactSpanIndex(spark, span, "compacted") })
        wrote(ivf)(spans.call("sim.ivf_compact") { Similarity.compactIvfIndex(spark, ivf) })
      }
      spans.phase("ingest.verify") {
        (stages, snapIds, twins, preSpans, spanCheck(snapshot), probeTwins())
      }
    }
    val all = spans.records
    val counts = stages.map { case (n, _, c) => n -> c }.toMap
    val packedHash = contentHash(stages.last._2)
    val cleanedHash = contentHash(stages.find(_._1 == "spans").get._2.select("doc_id", "text_cleaned"))
    stages.foreach(_._2.unpersist())
    val leaked = kept.filter(planted.contains)
    val unsourced = planted.values.filter(s => s >= 0 && !snapIds(s))
    val found = twins.count { case (_, want, got) => want == got }
    val stageChecks = CurateCorpus.Stages.map { s =>
      val want = Expected.curateOneCopy.get(s).map(_ * CurateCorpus.copies)
      Check(s"stage_count_$s", want.contains(counts(s)),
        s"${counts(s)} rows, expected ${want.getOrElse("?")} (${CurateCorpus.copies} x one-copy count)")
    }
    Outcome(
      values = Map(
        "build_s" -> buildS,
        "rows" -> (freshPerBatch + recrawlsPerBatch + 1).toDouble,
        "batch_phase_s" -> Spans.total(all, "ingest.batches"),
        "curate_docs" -> docs.count().toDouble,
        "curate_s" -> curateS,
        "probe_queries" -> (twins.size + postTwins.size).toDouble,
        "dedup.pairs" -> counts("pairs").toDouble,
        "sim.recall_at_1" -> found.toDouble / math.max(1, twins.size),
        "index.bytes_written" -> written.toDouble,
        "index.write_amp" -> written.toDouble / textBytes),
      fingerprint = CurateCorpus.Stages.map(s => s"count_$s" -> counts(s).toString).toMap ++ Map(
        "cleaned_hash" -> cleanedHash, "packed_hash" -> packedHash,
        "kept" -> kept.sorted.mkString(","),
        "span_probe" -> preSpans.toSeq.sorted.hashCode.toString,
        "twins" -> twins.mkString(",")),
      checks = stageChecks ++ Seq(
        Check("recrawl_sources_are_curated", unsourced.isEmpty,
          s"${unsourced.size} re-crawl sources missing from the curated snapshot"),
        Check("planted_recrawls_and_contamination_dropped", leaked.isEmpty,
          s"${leaked.size} planted docs kept: ${leaked.take(5).mkString(",")}"),
        Check("recall_at_1_is_1", twins.nonEmpty && found == twins.size,
          s"$found of ${twins.size} twins found at rank 1"),
        Check("span_probe_same_after_compaction", preSpans == postSpans && preSpans.nonEmpty,
          s"${preSpans.size} spans before, ${postSpans.size} after"),
        Check("ivf_probe_same_after_compaction", twins == postTwins,
          s"${postTwins.count(t => t._2 == t._3)} of ${postTwins.size} twins found after")),
      samples = latencies.toList)
  }
}
