package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LinearScore

class FunctionsSpec extends AnyFunSuite {

  /** CODEGEN_ONLY factory mode: interpreter fallback disabled, so a broken
    * doGenCode fails the test instead of silently degrading.
    */
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("contamination_probe fused expression: kernel truth, null/short " +
       "text, distinct bench ids, under forced codegen") {
    import spark.implicits._
    val k = 8; val minLen = 24; val w = minLen - k + 1
    val cap = graft.dedup.SubstringDedup.DefaultMaxPosPerHash
    val rng = new scala.util.Random(43)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val leak = rand(80)
    // sidecar built EXACTLY as Streams.contaminationFilter builds it —
    // including a duplicated bench row (same id twice) so the
    // distinct-id contract is exercised at the expression level
    val benchTexts = Array(leak, leak, rand(80)).map(_.codePoints().toArray)
    val benchIds = Array(7L, 7L, 8L)
    val byHash = new scala.collection.mutable.HashMap[Long, List[(Int, Int)]]()
    benchTexts.zipWithIndex.foreach { case (cps, b) =>
      val (pos, hash) = graft.functions.WinnowAnchors.winnow(cps, k, w, cap)
      pos.indices.foreach(i =>
        byHash(hash(i)) = (b, pos(i)) :: byHash.getOrElse(hash(i), Nil))
    }
    val sidecar = spark.sparkContext.broadcast(
      (byHash.toMap, benchTexts, benchIds))
    val contaminated = rand(10) + leak.substring(5, 70) + rand(10)
    val rows = Seq((0L, Some(contaminated)), (1L, Some(rand(90))),
      (2L, None), (3L, Some("short"))).toDF("id", "text")
    val got = rows.select(col("id"), graft.functions.ContaminationProbe(
        col("text"), sidecar, k, minLen, cap).as("v"))
      .select(col("id"), col("v.contaminated"), col("v.n_bench_docs"),
        col("v.max_span"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getInt(2), r.getInt(3))).toMap
    assert(got(0L)._1 && got(0L)._2 == 1, // duplicated bench doc counts once
      s"planted leak must flag with ONE distinct bench id: ${got(0L)}")
    assert(got(0L)._3 >= minLen, "span at least minLen")
    assert(got(1L) == ((false, 0, 0)), "clean doc")
    assert(got(2L) == ((false, 0, 0)), "null text is clean, never null row")
    assert(got(3L) == ((false, 0, 0)), "sub-minLen text is clean")
  }

  test("shingle_hashes + sorted_intersect_count: sortedness, null-element " +
       "skip, duplicate-run counting, under forced codegen") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(Seq(Some("b"), Some("a"), None, Some("c")))), // null elem skipped
      (2L, Some(Seq[Option[String]]())),                      // empty
      (3L, None))                                             // null array
      .toDF("id", "sh")
    val got = rows.select(col("id"),
        graft.functions.ShingleHashes(col("sh")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
    assert(got(1L).get.length == 3, "null elements skipped, others kept")
    assert(got(1L).get == got(1L).get.sorted, "sorted ascending")
    assert(got(2L).get.isEmpty && got(3L).isEmpty)
    // merge-count: duplicate runs count once per matched value — equals
    // set-intersection on duplicate-free inputs, and stays a SET count
    // even when a genuine collision duplicates a hash
    val a = Seq(1L, 3L, 3L, 5L, 9L)
    val b = Seq(3L, 5L, 5L, 7L)
    val cnt = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.SortedIntersectCount(col("a"), col("b")))
      .head().getInt(0)
    assert(cnt == 2, s"values {3,5} shared -> 2, got $cnt")
  }

  test("linear_score matches driver-side dot product under forced codegen") {
    import spark.implicits._
    val w = Array.tabulate(8)(j => (j * 37 % 19 - 9) / 10.0)
    val rows = Seq.tabulate(50)(i => (i.toLong, Seq.tabulate(8)(j => i * 0.1 + j)))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
      LinearScore(col("v"), w, bias = 0.5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, v) =>
      val want = 0.5 + v.zip(w).map { case (a, b) => a * b }.sum
      assert(math.abs(got(id) - want) < 1e-12, s"row $id")
    }
  }

  test("linear_score handles short arrays, null rows, and null elements") {
    import spark.implicits._
    val w = Array(1.0, 2.0, 3.0)
    val df = Seq(
      (1L, Some(Seq(Some(10.0)))),                      // shorter than weights
      (2L, None),                                       // null array
      (3L, Some(Seq(Some(1.0), None, Some(2.0))))       // null element
    ).toDF("id", "v")
    val got = df.select(col("id"),
      LinearScore(col("v").cast("array<double>"), w, bias = 0.0).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(10.0), "prefix only")
    assert(got(2L).isEmpty, "null array -> null score")
    assert(got(3L).contains(1.0 + 3.0 * 2.0), "null element skipped")
  }

  test("nearest_centroid matches driver-side argmin under forced codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val dim = 12
    // non-contiguous, shuffled cell ids: the expression must key its
    // answer by the SUPPLIED id, not the row position
    val cents = Seq(7, 2, 9, 4).map(c => (c, Seq.fill(dim)(rng.nextGaussian())))
    val rows = Seq.tabulate(80)(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian())))
    val got = rows.toDF("id", "v")
      .select(col("id"), graft.functions.NearestCentroid(col("v"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, v) =>
      val want = cents.map { case (c, cent) =>
        (c, v.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.minBy { case (c, d) => (d, c) }._1
      assert(got(id) == want, s"row $id")
    }
  }

  test("nearest_centroid ties break to the lowest cell id; nulls read as 0") {
    import spark.implicits._
    // two IDENTICAL centroids under different ids -> every row ties;
    // the contract is lowest-id wins (the determinism the old window's
    // orderBy(_cdist, _cell) provided)
    val same = Seq(5 -> Seq(1.0, 0.0), 3 -> Seq(1.0, 0.0))
    val df = Seq((1L, Some(Seq(Some(0.9), Some(0.1)))),
                 (2L, Some(Seq(Some(0.9), None)) /* null elem -> 0.0 */),
                 (3L, None)).toDF("id", "v")
    val got = df.select(col("id"), graft.functions.NearestCentroid(
        col("v").cast("array<double>"), same).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(1L).contains(3), "tie -> lowest cell id")
    assert(got(2L).contains(3), "null element scored as 0.0, not a null row")
    assert(got(3L).isEmpty, "null row -> null cell")
  }

  test("nearest_cells matches driver-side top-n ranking under forced codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val dim = 12
    // non-contiguous, shuffled cell ids: ranking must key by SUPPLIED id
    val cents = Seq(7, 2, 9, 4, 11, 6).map(c =>
      (c, Seq.fill(dim)(rng.nextGaussian())))
    val rows = Seq.tabulate(80)(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian())))
    for (nProbe <- Seq(1, 3, 6, 10 /* > cells: truncates to all, ranked */)) {
      val got = rows.toDF("id", "v")
        .select(col("id"), graft.functions.NearestCells(
          col("v"), cents, nProbe).as("c"))
        .as[(Long, Seq[Int])].collect().toMap
      rows.foreach { case (id, v) =>
        val want = cents.map { case (c, cent) =>
          (c, v.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.sortBy { case (c, d) => (d, c) }
          .take(math.min(nProbe, cents.size)).map(_._1)
        assert(got(id) == want, s"row $id nProbe=$nProbe")
      }
      // nProbe = 1 must agree with nearest_centroid (the argmin case)
      if (nProbe == 1) {
        val single = rows.toDF("id", "v").select(col("id"),
          graft.functions.NearestCentroid(col("v"), cents).as("c"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        rows.foreach { case (id, _) =>
          assert(got(id) == Seq(single(id)), s"row $id: cells vs centroid")
        }
      }
    }
  }

  test("nearest_cells ties rank by cell id; null and NaN rows degrade loudly") {
    import spark.implicits._
    // two IDENTICAL centroids -> the tie must list the LOWER id first
    // (the determinism the window's orderBy(_cdist, _cell) provided)
    val same = Seq(5 -> Seq(1.0, 0.0), 3 -> Seq(1.0, 0.0))
    val df = Seq((1L, Some(Seq(Some(0.9), Some(0.1)))),
                 (2L, Some(Seq(Option.empty[Double], None)) /* all null -> 0-vector */),
                 (3L, None),
                 (4L, Some(Seq(Some(Double.NaN), Some(0.0))))).toDF("id", "v")
    val got = df.select(col("id"), graft.functions.NearestCells(
        col("v").cast("array<double>"), same, 2).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Int](1)))).toMap
    assert(got(1L).contains(Seq(3, 5)), "tie -> ascending cell id")
    assert(got(2L).contains(Seq(3, 5)), "null elements read as 0.0")
    assert(got(3L).isEmpty, "null row -> null list")
    // NaN distances never insert: the list TRUNCATES instead of emitting
    // a garbage cell id that downstream explode+join would duplicate
    assert(got(4L).contains(Seq()), "all-NaN distances -> empty probe list")
  }

  test("sparse_score_matrix matches dense scoring under forced codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val d = 40
    val k = 5
    val w = Array.fill(k)(Array.fill(d + 1)(rng.nextGaussian()))
    // sparse vectors with a handful of active entries, plus one dense
    // and one empty-sparse row — both VectorUDT layouts must score
    val rows: Seq[(Long, org.apache.spark.ml.linalg.Vector)] =
      Seq.tabulate(60) { i =>
        val nnz = 1 + i % 7
        val idx = rng.shuffle((0 until d).toList).take(nnz).sorted.toArray
        (i.toLong, org.apache.spark.ml.linalg.Vectors.sparse(
          d, idx, Array.fill(nnz)(rng.nextGaussian())))
      } ++ Seq(
        (100L, org.apache.spark.ml.linalg.Vectors.dense(
          Array.fill(d)(rng.nextGaussian()))),
        (101L, org.apache.spark.ml.linalg.Vectors.sparse(d, Array(), Array())))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
      graft.functions.SparseScoreMatrix(col("v"), w).as("s"))
      .as[(Long, Seq[Double])].collect().toMap
    rows.foreach { case (id, v) =>
      val dense = v.toArray
      val want = w.map(row => row(d) +
        dense.zipWithIndex.map { case (x, j) => row(j) * x }.sum)
      got(id).zip(want).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"row $id: ${got(id)} vs ${want.toSeq}")
      }
    }
  }

  test("softmax matches LogRegModel.predictProba under forced codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(4)(rng.nextGaussian() * 10))) ++
      Seq((100L, Seq(1e300, 1.0, -1e300, 0.0))) // max-shift must not overflow
    val df = rows.toDF("id", "z")
    val got = df.select(col("id"), graft.functions.Softmax(col("z")).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    rows.foreach { case (id, z) =>
      val mx = z.max
      val e = z.map(x => math.exp(x - mx))
      val want = e.map(_ / e.sum)
      got(id).zip(want).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-15, s"row $id")
      }
      assert(math.abs(got(id).sum - 1.0) < 1e-12)
    }
  }

  test("JIT budget: fused expressions stay compilable at production widths") {
    // The cliff this pins: a projection whose generated method outgrows
    // the JVM's ~8000-byte HugeMethodLimit silently runs in the bytecode
    // interpreter (the r9 SRP finding — sf10 103.8 s -> 4.9 s came from
    // exactly this). Every fused expression holds its table as a
    // REFERENCE OBJECT and loops, so generated-code size must be O(1) in
    // vocab/class/plane/cell count. Budget is asserted on the compiled
    // bytecode of the whole codegen stage at widths well past any
    // production config; a regression back to literal fan-out (one
    // inlined op per entry) blows the assert immediately.
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    val rng = new scala.util.Random(41)
    val dim = 64
    // widths are chosen to be far past any production config while
    // keeping reference-object HEAP small (the k=300 × 2^18 hashed
    // width would be a 629 MB weight array — method SIZE is what the
    // budget pins, and it is independent of the matrix dimensions)
    val sparseDim = 4096
    val df = Seq.tabulate(4)(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian()),
        s"tok_$i", org.apache.spark.ml.linalg.Vectors.sparse(
          sparseDim, Array(i, i + 7), Array(1.0, 2.0))))
      .toDF("id", "v", "s", "sv")
      // repartition keeps the projection a REAL executed stage —
      // ConvertToLocalRelation would otherwise evaluate the whole select
      // driver-side and leave no codegen stage to measure
      .repartition(1)
    val wide = Map(
      "vocab_vector(4000)" -> graft.functions.VocabVector(
        col("s"), Seq.tabulate(4000)(i => s"tok_$i")),
      "linear_score_matrix(k=300)" -> graft.functions.LinearScoreMatrix(
        col("v"), Array.fill(300)(Array.fill(dim + 1)(rng.nextGaussian()))),
      "sparse_score_matrix(k=300)" -> graft.functions.SparseScoreMatrix(
        col("sv"), Array.fill(300)(Array.fill(sparseDim + 1)(0.1))),
      "srp_band_keys(256 planes)" -> graft.functions.SrpBandKeys(
        col("v"), Seq.fill(256)(Seq.fill(dim)(rng.nextGaussian())),
        Seq.fill(16)(16), dim),
      "nearest_centroid(4096 cells)" -> graft.functions.NearestCentroid(
        col("v"), Seq.tabulate(4096)(c => (c, Seq.fill(dim)(rng.nextGaussian())))),
      "nearest_cells(4096 cells, 256 probes)" -> graft.functions.NearestCells(
        col("v"), Seq.tabulate(4096)(c => (c, Seq.fill(dim)(rng.nextGaussian()))),
        256),
      "scale_vector" -> graft.functions.ScaleVector(col("sv"), 0.25),
      "assemble_vectors(64 blocks)" -> graft.functions.AssembleVectors(
        Seq.tabulate(64)(i => if (i % 2 == 0) col("sv") else col("v")), "f",
        32 * (sparseDim + dim)))
    wide.foreach { case (name, expr) =>
      val proj = df.select(col("id"), expr.as("out"))
      proj.collect() // must actually run under CODEGEN_ONLY
      val sz = GraftSqlBridge.maxCodegenMethodSize(proj)
      assert(sz > 0, s"$name: no codegen stage in plan")
      assert(sz < 8000, s"$name: compiled method $sz bytes >= 8000 " +
        "(HugeMethodLimit) — the stage would run interpreted at scale")
    }
  }

  test("withPredictions agrees with a linear model's own predict") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val x = Seq.fill(200)(Seq.fill(6)(rng.nextGaussian()))
    val df = x.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "f")
    val w = Array.fill(3)(Array.fill(7)(rng.nextGaussian())) // 6 + bias
    val model = graft.exec.LogRegModel(w, 3)
    val got = graft.predict.Predict.withPredictions(spark, df, model, "f")
      .select("id", "preds").as[(Long, Int)].collect().toMap
    x.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == model.predict(v.toArray).toInt, s"row $i")
    }
  }

  test("type check rejects non-array input") {
    import spark.implicits._
    val df = Seq(1.0).toDF("x")
    intercept[Exception] {
      df.select(LinearScore(col("x"), Array(1.0), 0.0)).collect()
    }
  }

  test("linear_score_matrix = per-class scores at cliff-scale class counts") {
    import spark.implicits._
    // 100 classes x 64 dims: the regime where one-LinearScore-per-class
    // outgrew the JIT's huge-method threshold; the fused matrix must be
    // value-identical to the model's own driver-side scores
    val rng = new scala.util.Random(9)
    val k = 100; val d = 64
    val w = Array.fill(k)(Array.fill(d + 1)(rng.nextGaussian()))
    val model = graft.exec.LogRegModel(w, k)
    val rows = Seq.tabulate(80)(i => (i.toLong, Seq.fill(d)(rng.nextGaussian())))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
      graft.functions.LinearScoreMatrix(col("v"), w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, v) =>
      val want = model.scores(v.toArray)
      got(id).zip(want).zipWithIndex.foreach { case ((g, e), c) =>
        assert(math.abs(g - e) < 1e-12, s"row $id class $c") }
    }
    // short row scores the prefix; null row is null; null element skipped
    val edge = Seq(
      (1L, Some(Seq(Some(10.0)))),
      (2L, None),
      (3L, Some(Seq(Some(1.0), None, Some(2.0))))).toDF("id", "v")
    val w2 = Array(Array(1.0, 2.0, 3.0, 0.5)) // one class, d=3, bias .5
    val e2 = edge.select(col("id"), graft.functions.LinearScoreMatrix(
        col("v").cast("array<double>"), w2).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Double](1)))).toMap
    assert(e2(1L).contains(Seq(10.5)))
    assert(e2(2L).isEmpty)
    assert(e2(3L).contains(Seq(1.0 + 3.0 * 2.0 + 0.5)))
  }

  test("vocab_vector: one-hot/multi-hot/map modes under forced codegen") {
    import graft.functions.VocabVector
    import spark.implicits._
    // wide vocab: the composed when-chain form dies in Janino past ~500
    // entries; the fused form must produce the same vectors at 4096
    val vocab = (0 until 4096).map(i => s"v$i")
    val oneHot = Seq((1L, "v7"), (2L, "v4095"), (3L, "unseen"),
      (4L, null.asInstanceOf[String])).toDF("id", "c")
    val got = oneHot.select(col("id"), VocabVector(col("c"), vocab).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L)(7) == 1.0 && got(1L).sum == 1.0)
    assert(got(2L)(4095) == 1.0 && got(2L).sum == 1.0)
    assert(got(3L).sum == 0.0, "unseen -> all-zero")
    assert(got(4L).sum == 0.0, "null -> all-zero, not null row")

    val multi = Seq((1L, Seq("v1", "v3", "nope")), (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "t")
    val gm = multi.select(col("id"),
      VocabVector(col("t").cast("array<string>"), vocab).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(gm(1L)(1) == 1.0 && gm(1L)(3) == 1.0 && gm(1L).sum == 2.0)
    assert(gm(2L).sum == 0.0 && gm(3L).sum == 0.0)

    val mp = Seq((1L, Map("v2" -> 2.5, "x" -> 9.0)),
      (2L, Map.empty[String, Double])).toDF("id", "m")
    val gp = mp.select(col("id"),
      VocabVector(col("m").cast("map<string,double>"), vocab).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(gp(1L)(2) == 2.5 && gp(1L).sum == 2.5, "fitted key gets its value")
    assert(gp(2L).sum == 0.0)
  }

  test("srp_band_keys matches its interpreted eval under forced codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val dim = 16
    val bits = Seq(9, 8, 8, 8)
    val rows = Seq.tabulate(40)(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian())))
    val df = rows.toDF("id", "v")
    val keyCol = graft.sim.Similarity.bandKeys(col("v"), dim, bits, seed = 42)
    val got = df.select(col("id"), keyCol.as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent reference: the expression's own interpreted eval
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val expr = org.apache.spark.sql.GraftSqlBridge.expression(keyCol)
      .asInstanceOf[graft.functions.SrpBandKeys]
    rows.foreach { case (id, v) =>
      val lit = expr.copy(child = Literal.create(v, ArrayType(DoubleType)))
      val want = lit.eval(null).asInstanceOf[GenericArrayData]
        .array.map(_.asInstanceOf[Long]).toSeq
      assert(got(id) == want, s"row $id")
    }
    // band widths: key b must fit in bits(b)
    got.values.foreach(ks => ks.zip(bits).foreach { case (kv, b) =>
      assert(kv >= 0 && kv < (1L << b)) })
  }

  test("ngram_shingles matches array_distinct(wordNGrams) under forced codegen") {
    import graft.text.TextFunctions
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a",                     // heavy duplicates
      "one two",                       // fewer than n tokens
      "  leading  and   trailing  ",   // ragged whitespace
      "", "solo",
      "x y z x y z x y z"              // repeated grams, order matters
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
    val got = df.select(col("id"),
      TextFunctions.distinctWordNGrams(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = df.select(col("id"),
      array_distinct(TextFunctions.wordNGrams(col("text"), 3)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"row $id: got ${got(id)} want $w")
    }
  }

  test("minhash_sig is bit-identical to the xxhash64/array_min composition") {
    import graft.functions.MinHashSig
    import graft.text.TextFunctions
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the dog",
      "pack my box with five dozen liquor jugs",
      "one two three four five six", "tiny")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
      .select(col("id"), TextFunctions.distinctWordNGrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val k = 8; val seed = 42L
    val got = df.select(col("id"), MinHashSig(col("sh"), k, seed).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = df.select(col("id"), array((0 until k).map { t =>
      array_min(transform(col("sh"), s => xxhash64(s, lit(seed + t))))
    }: _*).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    want.foreach { case (id, w) => assert(got(id) == w, s"row $id") }
  }

  test("intersect_count matches size(array_intersect) under forced codegen") {
    import graft.functions.IntersectCount
    import spark.implicits._
    val rng = new scala.util.Random(17)
    def arr() = Seq.fill(rng.nextInt(30))(s"w${rng.nextInt(20)}")
    val rows = Seq.tabulate(80)(i => (i.toLong, arr(), arr())) ++
      Seq((900L, Seq.empty[String], Seq("a")), (901L, Seq("a", "a", "b"), Seq("a")),
        // null-element semantics: null-in-both counts once (like
        // array_intersect); null on one side only does not
        (902L, Seq("a", null, null), Seq(null, "b", "a")),
        (903L, Seq("a", null), Seq("a", "b")),
        (904L, Seq[String](null, null), Seq[String](null)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), IntersectCount(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = df.select(col("id"),
      size(array_intersect(col("a"), col("b"))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    want.foreach { case (id, w) => assert(got(id) == w, s"row $id") }
  }

  test("simhash64 matches an independent driver-side fold under forced codegen") {
    import graft.functions.Simhash64
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(rng.nextInt(20))(rng.nextLong())))
    val df = rows.toDF("id", "hs")
    val got = df.select(col("id"), Simhash64(col("hs")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, hs) =>
      var want = 0L
      (0 until 64).foreach { b =>
        val c = hs.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
        if (c > 0) want |= 1L << b
      }
      assert(got(id) == want, s"row $id")
    }
  }

  test("cosine_sim matches driver-side cosine under forced codegen") {
    import graft.functions.CosineSim
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(16)(rng.nextGaussian()), Seq.fill(16)(rng.nextGaussian())))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), CosineSim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val d = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(y => y * y).sum)
      val want = if (d == 0.0) 0.0 else dot / d
      assert(math.abs(got(id) - want) < 1e-12, s"row $id")
    }
    // zero-norm side → 0.0, not NaN
    val z = Seq((0L, Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("id", "a", "b")
      .select(CosineSim(col("a"), col("b"))).head().getDouble(0)
    assert(z == 0.0)
  }

  test("l2_normalize matches driver-side math under forced codegen") {
    import graft.functions.L2Normalize
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val rows = Seq.tabulate(50)(i => (i.toLong, Seq.fill(16)(rng.nextGaussian())))
    val got = rows.toDF("id", "v")
      .select(col("id"), L2Normalize(col("v")).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.zip(got(id)).foreach { case (x, y) =>
        assert(math.abs(x / n - y) < 1e-12, s"row $id")
      }
      assert(math.abs(got(id).map(x => x * x).sum - 1.0) < 1e-9, "unit norm")
    }
    // zero vector passes through unchanged (no NaNs); null row stays null
    val edge = Seq((0L, Some(Seq(0.0, 0.0))), (1L, None))
      .toDF("id", "v").select(col("id"), L2Normalize(col("v")).as("nv"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(edge(0L).get == Seq(0.0, 0.0))
    assert(edge(1L).isEmpty)
  }

  test("winnow_anchors matches the driver-side core under forced codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(30 + rng.nextInt(120))(
        ('a' + rng.nextInt(3)).toChar).mkString))
    val got = rows.toDF("id", "t")
      .select(col("id"),
        graft.functions.WinnowAnchors(col("t"), 8, 5).as("a"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getInt(0), s.getLong(1)))
      }.toMap
    rows.foreach { case (id, t) =>
      val (pos, hash) = graft.functions.WinnowAnchors.winnow(t, 8, 5)
      assert(got(id) == pos.zip(hash).toSeq, s"row $id")
    }
    // short text (< w + k - 1) and null row
    val edge = Seq((0L, Some("abc")), (1L, None))
      .toDF("id", "t")
      .select(col("id"), graft.functions.WinnowAnchors(col("t"), 8, 5).as("a"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(edge(0L).get.asInstanceOf[scala.collection.Seq[_]].isEmpty)
    assert(edge(1L).isEmpty)
  }

  test("vocab_hits = size(filter(isin)) with multiplicity, under forced codegen") {
    import spark.implicits._
    val vocab = Seq("the", "a", "naïve", "東京")
    val rows = Seq(
      (1L, Some(Seq(Some("the"), Some("the"), Some("cat"), Some("a")))), // repeats count
      (2L, Some(Seq[Option[String]]())),                                 // empty
      (3L, None),                                                        // null array
      (4L, Some(Seq(Some("naïve"), None, Some("東京")))),                // null element + unicode
      (5L, Some(Seq(Some("THE")))))                                      // case-sensitive miss
      .toDF("id", "toks")
    val got = rows.select(col("id"),
      graft.functions.VocabHits(col("toks"), vocab).as("h"),
      size(filter(col("toks"), t => t.isin(vocab: _*))).as("ref"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    got.foreach { case (id, h, ref) =>
      // null-propagating on a null array, EXACTLY like the composed
      // form (and DuckDB's len(list_filter(...)))
      assert(ref == h, s"row $id: $h vs $ref")
    }
    assert(got.find(_._1 == 3L).get._2.isEmpty, "null array -> null")
    assert(got.find(_._1 == 1L).get._2.contains(3), "repeats counted")
  }

  test("dense_from_entries = map_from_entries + try_element_at transform, " +
       "under forced codegen") {
    import spark.implicits._
    val nb = 8
    val rows = Seq(
      (1L, Seq((0, 1.5), (3, -2.0), (7, 4.0))),
      (2L, Seq.empty[(Int, Double)]),
      (4L, Seq((-1, 5.0), (8, 6.0), (1, 2.0))) // out-of-range skipped
    ).toDF("id", "e")
      .withColumn("e", expr("transform(e, x -> struct(x._1 AS idx, x._2 AS v))"))
    val got = rows.select(col("id"),
        graft.functions.DenseFromEntries(col("e"), nb).as("x"),
        transform(sequence(lit(0), lit(nb - 1)), j => coalesce(
          try_element_at(map_from_entries(col("e")), j), lit(0.0))).as("ref"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Double](2)))
    got.foreach { case (id, x, ref) =>
      // out-of-range keys survive map_from_entries but try_element_at
      // never probes them — identical zero-fill either way
      assert(x == ref, s"row $id: $x vs $ref")
    }
    assert(got.find(_._1 == 1L).get._2 == Seq(1.5, 0.0, 0.0, -2.0, 0.0, 0.0, 0.0, 4.0))
    // duplicate index: map_from_entries THROWS (ANSI dedup policy);
    // DenseFromEntries defines later-wins — q95's upstream groupBy
    // guarantees unique indexes, so both behaviors are out of its path
    val dup = Seq((3L, Seq((2, 1.0), (2, 9.0)))).toDF("id", "e")
      .withColumn("e", expr("transform(e, x -> struct(x._1 AS idx, x._2 AS v))"))
      .select(graft.functions.DenseFromEntries(col("e"), nb)).head().getSeq[Double](0)
    assert(dup == Seq(0.0, 0.0, 9.0, 0.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("substring extension expressions match the UDF route bit-exactly " +
       "under forced codegen (AnchorSlices / SliceExtend / ExtendSeeds)") {
    import spark.implicits._
    import graft.dedup.SubstringDedup
    val rng = new scala.util.Random(29)
    val k = 8; val minLen = 20
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    // adversarial small-alphabet docs + planted long duplicate + some
    // supplementary-plane chars (code-point vs char offsets diverge)
    val span = rand(40)
    val docs = (0L until 12L).map { i =>
      val base = rand(120 + rng.nextInt(80))
      val t =
        if (i % 3 == 0) base.take(30) + span + base.drop(30)
        else if (i % 5 == 0) "x😀" + base // supplementary plane
        else base
      (i, t)
    }
    // 1) AnchorSlices vs a UDF of the same slicing logic (the old vehicle)
    val sliceUdf = udf((text: String, ps: Seq[Int]) => {
      val cps = text.codePoints().toArray
      val cap = k + 2 * minLen
      ps.map { p =>
        val off = math.max(0, p - minLen)
        val n = math.min(cps.length - off, cap)
        (p, off, cps.length, new String(cps, off, n))
      }
    })
    // anchor positions from the real winnowing pass (as production does)
    val anchored = docs.toDF("id", "t").select(col("id"), col("t"),
      graft.functions.WinnowAnchors(col("t"), k, minLen - k + 1).as("a"))
      .select(col("id"), col("t"), expr("transform(a, x -> x.pos)").as("ps"))
      .cache()
    val exprSlices = anchored.select(col("id"),
      explode(graft.functions.AnchorSlices(col("t"), col("ps"), k, minLen)).as("s"))
      .select(col("id"), col("s.pos"), col("s.off"), col("s.dlen"), col("s.sl"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4))).toSet
    val udfSlices = anchored.select(col("id"),
      explode(sliceUdf(col("t"), col("ps"))).as("s"))
      .select(col("id"), col("s._1"), col("s._2"), col("s._3"), col("s._4"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4))).toSet
    assert(exprSlices == udfSlices, "AnchorSlices != slice UDF")
    assert(exprSlices.nonEmpty)
    // 2) SliceExtend vs a UDF over the SAME kernel (vehicle-only swap):
    // pair every doc's slices with every other doc's (small corpus)
    val sl = anchored.select(col("id"),
      explode(graft.functions.AnchorSlices(col("t"), col("ps"), k, minLen)).as("s"))
      .select(col("id"), col("s.pos").as("p"), col("s.off").as("off"),
        col("s.dlen").as("dlen"), col("s.sl").as("sl"))
    val pairs = sl.as("a").crossJoin(sl.as("b"))
      .filter(col("a.id") < col("b.id"))
    val vUdf = udf((slA: String, offA: Int, dlenA: Int, pa: Int,
                    slB: String, offB: Int, dlenB: Int, pb: Int) =>
      SubstringDedup.extendInSlice(slA, offA, dlenA, pa,
        slB, offB, dlenB, pb, k, minLen))
    val exprV = pairs.select(
      graft.functions.SliceExtend(col("a.sl"), col("a.off"), col("a.dlen"),
        col("a.p"), col("b.sl"), col("b.off"), col("b.dlen"), col("b.p"),
        k, minLen).as("v")).collect().map(_.getSeq[Int](0)).toSeq
    val udfV = pairs.select(
      vUdf(col("a.sl"), col("a.off"), col("a.dlen"), col("a.p"),
        col("b.sl"), col("b.off"), col("b.dlen"), col("b.p")).as("v"))
      .collect().map(_.getSeq[Int](0)).toSeq
    assert(exprV == udfV, "SliceExtend != extendInSlice UDF")
    assert(exprV.exists(_.head != 0), "at least one non-reject verdict")
    // 3) ExtendSeeds vs a UDF over the SAME kernel
    val seedUdf = udf((ta: String, tb: String, seeds: Seq[Long]) =>
      SubstringDedup.extendSeeds(ta, tb, seeds, k, minLen)
        .map(s => (s.sa, s.sb, s.len)))
    val textPairs = docs.toDF("ia", "ta").crossJoin(docs.toDF("ib", "tb"))
      .filter(col("ia") < col("ib"))
      .withColumn("seeds", expr(
        "transform(sequence(0, 4), i -> cast(i * 7 as bigint) * 4294967296 + i * 11)"))
    val exprSeeds = textPairs.select(col("ia"), col("ib"),
      graft.functions.ExtendSeeds(col("ta"), col("tb"), col("seeds"),
        k, minLen).as("sp")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[org.apache.spark.sql.Row](2).map(x =>
          (x.getInt(0), x.getInt(1), x.getInt(2))))).toSet
    val udfSeeds = textPairs.select(col("ia"), col("ib"),
      seedUdf(col("ta"), col("tb"), col("seeds")).as("sp")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[org.apache.spark.sql.Row](2).map(x =>
          (x.getInt(0), x.getInt(1), x.getInt(2))))).toSet
    assert(exprSeeds == udfSeeds, "ExtendSeeds != extendSeeds UDF")
    // 4) the real operator end-to-end under CODEGEN_ONLY: both routes,
    // bit-identical (the fused kernels ride the actual pipeline)
    val corpus = docs.toDF("doc_id", "text")
    def spans(tp: Boolean) = SubstringDedup.duplicateSpans(corpus,
      "text", "doc_id", minLen = minLen, k = k, twoPhase = Some(tp))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSet
    val single = spans(false); val two = spans(true)
    assert(single == two, "routes diverge under CODEGEN_ONLY")
    assert(single.nonEmpty, "planted spans must surface")
  }
  test("bloom_might_contain: codegen parity with the sketch, null-safe") {
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    (0L until 50L).foreach(i => bf.putLong(i * 7))
    val bc = spark.sparkContext.broadcast(bf)
    val df = (Seq.tabulate(50)(i => Some(i * 7L)) ++
      Seq.tabulate(20)(i => Some(i * 7L + 3)) ++ Seq(None))
      .toDF("h").repartition(3)
    val got = df.select(col("h"),
        graft.functions.BloomMightContain(col("h"), bc).as("mc"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
         if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    got.foreach {
      case (None, mc) => assert(mc.isEmpty, "null in, null out")
      case (Some(h), mc) =>
        assert(mc.contains(bf.mightContainLong(h)), s"h=$h")
        // no false negatives on inserted values
        if (h % 7 == 0 && h / 7 < 50) assert(mc.contains(true))
    }
  }

  test("scale_vector: sparse stays sparse, dense scales, null rides, " +
       "matches driver-side math under forced codegen") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rows: Seq[(Long, Vector)] = Seq(
      1L -> Vectors.sparse(1 << 18, Array(3, 77, 262143), Array(1.5, -2.0, 0.25)),
      2L -> Vectors.dense(0.5, -1.0, 4.0),
      3L -> Vectors.sparse(10, Array.empty[Int], Array.empty[Double]),
      4L -> null)
    val df = spark.createDataFrame(rows.map { case (id, v) => (id, v) })
      .toDF("id", "vec").repartition(2)
    val w = 0.3
    val got = df.select(col("id"),
        graft.functions.ScaleVector(col("vec"), w).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getAs[Vector](1))).toMap
    assert(got(4L) == null, "null in, null out")
    rows.filter(_._2 != null).foreach { case (id, v) =>
      val s = got(id)
      (v, s) match {
        case (sp: org.apache.spark.ml.linalg.SparseVector,
              so: org.apache.spark.ml.linalg.SparseVector) =>
          assert(so.size == sp.size && so.indices.sameElements(sp.indices),
            s"id=$id sparsity/layout must be preserved")
          assert(so.values.sameElements(sp.values.map(_ * w)), s"id=$id")
        case (dn: org.apache.spark.ml.linalg.DenseVector,
              dd: org.apache.spark.ml.linalg.DenseVector) =>
          assert(dd.values.sameElements(dn.values.map(_ * w)), s"id=$id")
        case other => fail(s"id=$id layout changed across scaling: $other")
      }
    }
  }

}
