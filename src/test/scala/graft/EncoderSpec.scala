package graft

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SimpleVoter
import graft.encode.{Encoderizer, Preprocessing}
import graft.exec.{ConstantModel, LogRegModel}
import graft.predict.Predict

class EncoderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def mixed = Seq(
    (1L, "red", Some(10.0), Seq("a", "b"), Map("k1" -> 1.0), "the quick brown fox"),
    (2L, "red", Some(20.0), Seq("b"), Map("k2" -> 2.0), "lazy dogs sleep here"),
    (3L, "blue", Some(30.0), Seq("a", "c"), Map("k1" -> 3.0, "k2" -> 4.0), "foxes and dogs"),
    (4L, "red", None, Seq.empty[String], Map.empty[String, Double], "quick quick fox"),
    (5L, "blue", Some(50.0), Seq("c"), Map("k3" -> 5.0), "dogs dogs dogs")
  ).toDF("id", "color", "amount", "tags", "props", "text")

  test("inference assigns the reference kinds") {
    val specs = Encoderizer.inferSpecs(mixed,
      Seq("color", "amount", "tags", "props", "text"), catThreshold = 0.5)
    val m = specs.map(s => s.name -> s.kind).toMap
    assert(m("color") == "categorical")
    assert(m("amount") == "numeric")
    assert(m("tags") == "multihot")
    assert(m("props") == "map")
    assert(m("text") == "text")
  }

  test("fit+transform assembles a stable-width feature vector") {
    val enc = Encoderizer.fit(mixed,
      Seq("color", "amount", "tags", "props"), catThreshold = 0.5)
    // widths: color onehot 2 + amount 1 + tags 3 + props keys 3 = 9
    assert(enc.width == 9)
    val out = enc.transform(mixed)
    val vecs = out.select("features").collect().map(_.getAs[Vector](0))
    assert(vecs.forall(_.size == 9))
    // row 1: color=red (most frequent -> index 0), tags a,b; k1=1
    val v1 = vecs(0).toArray
    assert(v1(0) == 1.0 && v1(1) == 0.0, "red one-hot first")
    // featureOrigin maps indices back to stages
    assert(enc.featureOrigin(0) == "color")
    assert(enc.featureOrigin(2) == "amount")
    assert(enc.featureOrigin(8) == "props")
    intercept[IndexOutOfBoundsException](enc.featureOrigin(9))
  }

  test("median imputation fills the null amount") {
    val enc = Encoderizer.fit(mixed, Seq("amount"), catThreshold = 0.01)
    val stage = enc.stages.head.asInstanceOf[Encoderizer.NumericStage]
    assert(stage.median == 25.0, "interpolated median of 10,20,30,50")
    val out = enc.transform(mixed)
    val scaled = out.select("features").collect().map(_.getAs[Vector](0)(0))
    assert(!scaled.exists(_.isNaN))
  }

  test("text stage hashes n-grams into a fixed-width vector") {
    val enc = Encoderizer.fit(mixed, Seq("text"), size = "small",
      catThreshold = 0.01)
    val out = enc.transform(mixed)
    val v = out.select("features").head().getAs[Vector](0)
    assert(v.size == (1 << 16) * 2, "unigram + bigram blocks")
    assert(v.numNonzeros > 0)
  }

  test("medium size adds char n-gram blocks (reference char_wb analyzers)") {
    val enc = Encoderizer.fit(mixed, Seq("text"), size = "medium",
      catThreshold = 0.01)
    val stage = enc.stages.head.asInstanceOf[Encoderizer.TextHashStage]
    assert(stage.charNGramRange.contains((3, 4)))
    // word 1-2 grams + char 3-4 grams = 4 blocks of 2^18
    assert(enc.width == (1 << 18) * 4)
    val v = enc.transform(mixed).select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == (1 << 18) * 4 && v.numNonzeros > 0)
  }

  test("extract produces a working sub-encoder") {
    val enc = Encoderizer.fit(mixed, Seq("color", "amount"), catThreshold = 0.5)
    val sub = enc.extract(Seq("amount"))
    assert(sub.width == 1)
    assert(sub.transform(mixed).select("features").collect()
      .forall(_.getAs[Vector](0).size == 1))
  }

  test("predict surface: int, string-label and proba columns") {
    val w0 = Array(1.0, 0.0, 0.0)
    val w1 = Array(0.0, 1.0, 0.0)
    val model = LogRegModel(Array(w0, w1), 2)
    val df = Seq((1L, Seq(3.0, 1.0)), (2L, Seq(0.0, 2.0))).toDF("id", "f")
    val preds = Predict.withPredictions(spark, df, model, "f")
      .select("id", "preds").as[(Long, Int)].collect().toMap
    assert(preds(1L) == 0 && preds(2L) == 1)
    val labeled = Predict.withPredictions(spark, df, model, "f", "lab",
      labels = Some(Seq("neg", "pos")))
      .select("id", "lab").as[(Long, String)].collect().toMap
    assert(labeled(1L) == "neg" && labeled(2L) == "pos")
    val probas = Predict.withProbabilities(spark, df, model, "f")
      .select("scores").as[Seq[Double]].collect()
    assert(probas.forall(p => p.length == 2 && math.abs(p.sum - 1.0) < 1e-9))
    // null feature rows predict null (reference-typed UDF args are not
    // null-skipped — an unguarded UDF NPEs the whole job)
    val withNull = Seq((1L, Some(Seq(3.0, 1.0))), (2L, None)).toDF("id", "f")
    val np = Predict.withPredictions(spark, withNull, model, "f")
      .select("id", "preds").as[(Long, Option[Int])].collect().toMap
    assert(np(1L).contains(0) && np(2L).isEmpty)
    val nl = Predict.withPredictions(spark, withNull, model, "f", "lab",
      labels = Some(Seq("neg", "pos")))
      .select("id", "lab").as[(Long, Option[String])].collect().toMap
    assert(nl(2L).isEmpty)
    val nprob = Predict.withProbabilities(spark, withNull, model, "f")
      .select("scores").as[Option[Seq[Double]]].collect()
    assert(nprob.count(_.isEmpty) == 1)
  }

  test("SimpleVoter hard and soft semantics") {
    val m0 = ConstantModel(0.0, 2)
    val m1 = ConstantModel(1.0, 2)
    val m1b = ConstantModel(1.0, 2)
    val x = Array(0.0)
    assert(SimpleVoter(Seq(m0, m1, m1b), Seq(0.0, 1.0)).predict(x) == 1.0)
    // weighted: heavy weight on the minority model wins
    assert(SimpleVoter(Seq(m0, m1, m1b), Seq(0.0, 1.0),
      weights = Some(Seq(5.0, 1.0, 1.0))).predict(x) == 0.0)
    // tie -> smallest label
    assert(SimpleVoter(Seq(m0, m1), Seq(0.0, 1.0)).predict(x) == 0.0)
    val soft = SimpleVoter(Seq(m0, m1), Seq(0.0, 1.0), voting = "soft")
    assert(soft.predictProba(x).toSeq == Seq(0.5, 0.5))
    intercept[IllegalArgumentException](
      SimpleVoter(Seq(m0), Seq(0.0), voting = "bogus"))
    // non-identity classes: BOTH voting modes return the ORIGINAL label
    // space (LabelEncoder round-trip), not internal indices
    val remap = Seq(10.0, 20.0)
    assert(SimpleVoter(Seq(m0, m1, m1b), remap).predict(x) == 20.0)
    assert(SimpleVoter(Seq(m0, m1, m1b), remap, voting = "soft").predict(x) == 20.0)
  }

  test("f_classif selection finds the label-dependent features") {
    import spark.implicits._
    val rng = new scala.util.Random(4)
    // features 1 and 3 shift with the label; 0 and 2 are pure noise
    val rows = (0 until 300).map { i =>
      val y = i % 3
      (y, Seq(rng.nextGaussian(), y * 2.0 + rng.nextGaussian() * 0.2,
        rng.nextGaussian(), -y * 1.5 + rng.nextGaussian() * 0.3))
    }
    val df = rows.toDF("label", "arr")
    val keep = Preprocessing.fTestKeepIndices(df, "arr", "label", k = 2)
    assert(keep == Seq(1, 3), s"informative dims, got $keep")
    val scores = Preprocessing.fScores(df, "arr", "label")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scores(1) > scores(0) * 10 && scores(3) > scores(2) * 10)
  }

  test("variance threshold + slice drop constant features") {
    val df = Seq(Tuple1(Seq(1.0, 7.0, 2.0)), Tuple1(Seq(2.0, 7.0, 4.0)))
      .toDF("arr")
    val keep = Preprocessing.varianceKeepIndices(df, "arr")
    assert(keep == Seq(0, 2))
    val sliced = df.select(Preprocessing.sliceIndices(col("arr"), keep))
      .as[Seq[Double]].collect()
    assert(sliced.toSeq == Seq(Seq(1.0, 2.0), Seq(2.0, 4.0)))
  }

  test("variance threshold survives jagged rows (ANSI element_at guard)") {
    // width from the LONGEST row; short rows contribute nulls, not throws
    val df = Seq(Tuple1(Seq(1.0, 7.0, 2.0)), Tuple1(Seq(2.0, 7.0)))
      .toDF("arr")
    val keep = Preprocessing.varianceKeepIndices(df, "arr")
    // idx 0 varies; idx 1 constant; idx 2 has one value (var_pop 0)
    assert(keep == Seq(0), s"got $keep")
  }

  test("perfect class separation ranks FIRST (infinite F), never last") {
    import spark.implicits._
    val rng = new scala.util.Random(8)
    // feature 1 IS the label — f_classif gives F = inf, p = 0; mapping it
    // to 0 would make the selector discard exactly the best feature
    val rows = (0 until 60).map { i =>
      val y = i % 2
      (y, Seq(rng.nextGaussian(), y.toDouble))
    }
    val df = rows.toDF("label", "arr")
    assert(Preprocessing.fTestKeepIndices(df, "arr", "label", k = 1) == Seq(1))
    val p = Preprocessing.fScoresP(df, "arr", "label")
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("p_value")).toMap
    assert(p(1) == 0.0, s"perfect separation p-value, got ${p(1)}")
    Seq("fpr", "fdr", "fwe").foreach { mode =>
      assert(Preprocessing.pValueKeepIndices(df, "arr", "label", mode).contains(1),
        s"mode $mode must keep the perfectly-separating feature")
    }
  }

  test("text-input prediction: fused wrapper equals transform-then-predict") {
    // the reference's feature_type='text' one-call path: raw string ->
    // TextHashStage features -> linear model. Parity-pinned against the
    // two-step Encoderizer-style route through the dense UDF predictor.
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "lazy dogs sleep here all day"),
      (3L, "foxes and dogs and foxes"),
      (4L, "quick quick fox fox fox"),
      (5L, ""),
      (6L, "zebra")).toDF("id", "txt")
    val stage = Encoderizer.TextHashStage("txt", (1, 2), 64, Some((3, 3)))
    val d = stage.width
    assert(d == 192)
    // deterministic weight matrix, 3 classes x (d + bias)
    val w = Array.tabulate(3, d + 1)((c, j) => ((j * 37 + c * 53) % 19 - 9) / 10.0)
    val model = LogRegModel(w, nClasses = 3)

    val fused = Predict.withTextPredictions(docs, stage, model)
      .select("id", "preds").as[(Long, Int)].collect().toMap
    val twoStep = {
      val feats = stage.transform(docs, "f")
        .withColumn("fa", org.apache.spark.ml.functions.vector_to_array(col("f")))
      Predict.withPredictions(spark, feats, model, "fa")
        .select("id", "preds").as[(Long, Int)].collect().toMap
    }
    assert(fused == twoStep, s"fused $fused vs two-step $twoStep")
    assert(fused.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(fused.values.toSet.size > 1, "fixture must separate classes")

    // string-label variant routes through the same scores
    val lab = Seq("neg", "neu", "pos")
    val fusedLab = Predict.withTextPredictions(docs, stage, model,
      labels = Some(lab))
      .select("id", "preds").as[(Long, String)].collect().toMap
    assert(fusedLab == fused.view.mapValues(lab).toMap)

    // a label list SHORTER than the class count is a caller error and
    // fails loudly up front — not null preds row by row
    intercept[IllegalArgumentException] {
      Predict.withTextPredictions(docs, stage, model,
        labels = Some(Seq("neg", "pos")))
    }

    // predict_proba text branch: one-call raw text -> softmax'd class
    // probabilities == the two-step transform -> predictProba route
    val fusedP = Predict.withTextProbabilities(docs, stage, model)
      .select("id", "proba").as[(Long, Seq[Double])].collect().toMap
    val twoStepP = {
      val feats = stage.transform(docs, "f")
        .withColumn("fa", org.apache.spark.ml.functions.vector_to_array(col("f")))
      Predict.withProbabilities(spark, feats, model, "fa")
        .select("id", "scores").as[(Long, Seq[Double])].collect().toMap
    }
    fusedP.foreach { case (id, p) =>
      assert(p.length == 3 && math.abs(p.sum - 1.0) < 1e-12, s"row $id: $p")
      p.zip(twoStepP(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"row $id: $p vs ${twoStepP(id)}")
      }
    }
    // proba argmax agrees with the predict path (ties none in fixture)
    assert(fusedP.view.mapValues(p => p.indexOf(p.max)).toMap == fused)

    // OvR text path (the reference text branch is model-agnostic):
    // binary margin rows through the same sparse kernel + a constant
    // per-class model (the _ConstantPredictor corner), l1-normalized
    val rng = new scala.util.Random(61)
    def binModel() = graft.exec.LogRegModel(
      Array(Array.fill(d + 1)(rng.nextGaussian() * 0.1),
        Array.fill(d + 1)(rng.nextGaussian() * 0.1)), nClasses = 2)
    val ovr = graft.search.OvRModel(
      classes = Array(3.0, 7.0, 9.0),
      models = Array(binModel(), binModel(),
        graft.exec.ConstantModel(0.0, nClasses = 2)),
      norm = Some("l1"))
    val fusedOvr = Predict.withTextPredictionsOvR(docs, stage, ovr)
      .select("id", "preds").as[(Long, Double)].collect().toMap
    val fusedOvrP = Predict.withTextProbabilitiesOvR(docs, stage, ovr)
      .select("id", "proba").as[(Long, Seq[Double])].collect().toMap
    val feats2 = stage.transform(docs, "f")
      .withColumn("fa", org.apache.spark.ml.functions.vector_to_array(col("f")))
    val twoStepOvr = Predict.withPredictions(spark, feats2, ovr, "fa")
      .select("id", "preds").as[(Long, Int)].collect().toMap
    val twoStepOvrP = Predict.withProbabilities(spark, feats2, ovr, "fa")
      .select("id", "scores").as[(Long, Seq[Double])].collect().toMap
    assert(fusedOvr == twoStepOvr.view.mapValues(_.toDouble).toMap,
      s"fused OvR $fusedOvr vs two-step $twoStepOvr")
    fusedOvrP.foreach { case (id, p) =>
      assert(p.length == 3)
      assert(p(2) == 0.0, "constant-0 class saturates to exactly 0.0")
      p.zip(twoStepOvrP(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"row $id: $p vs ${twoStepOvrP(id)}")
      }
    }
  }

  test("fit tolerates date columns; transform imputes malformed numerics") {
    // try_cast(date as double) is an ANALYSIS error in Spark — fit must
    // probe dates as non-numeric instead of crashing on any real frame
    val df = Seq(("2024-01-01", "7.5"), ("2024-01-02", "8.5"),
        ("2024-01-01", "9.5"), ("2024-01-02", "6.5"))
      .toDF("d", "x").withColumn("d", to_date(col("d")))
    val enc = Encoderizer.fit(df, Seq("d", "x"), catThreshold = 0.6)
    assert(enc.width > 0)
    // a malformed value arriving AT TRANSFORM TIME imputes the median
    // (what fit promised), instead of throwing under ANSI
    val dirty = Seq(("2024-01-01", "oops")).toDF("d", "x")
      .withColumn("d", to_date(col("d")))
    val out = enc.transform(dirty)
      .select(org.apache.spark.ml.functions.vector_to_array(col("features")))
      .as[Seq[Double]].head()
    assert(!out.exists(_.isNaN), s"imputed row, got $out")
  }

  test("encoder edge contracts: date→text total, string maps, null members, dots") {
    // a HIGH-cardinality date column falls through inference to 'text' —
    // the text stage must cast-to-string, not crash in RegexTokenizer
    val dates = (1 to 30).map(i => (i.toLong, f"2024-01-$i%02d"))
      .toDF("id", "d").withColumn("d", to_date(col("d")))
    val encD = Encoderizer.fit(dates, Seq("d"), catThreshold = 0.1)
    assert(encD.transform(dates).count() == 30,
      "text stage must be total over non-string input")
    // map<string,string> with a NON-NUMERIC value: fit collects keys
    // fine; transform must null the bad entry (try_cast), not throw
    // under ANSI
    val maps = Seq((1L, Map("k" -> "1.5", "j" -> "abc")),
      (2L, Map("k" -> "2.5"))).toDF("id", "m")
    val encM = Encoderizer.fit(maps, Seq("m"))
    val rows = encM.transform(maps).count()
    assert(rows == 2, "string-map stage must tolerate malformed values")
    // a null ARRAY MEMBER must not become a vocab entry (a permanently
    // zero slot, and a JString(null) in the persisted model)
    val arrs = Seq((1L, Seq(Some("a"), None)), (2L, Seq(Some("b"), Some("a"))))
      .toDF("id", "tags")
    val encA = Encoderizer.fit(arrs, Seq("tags"))
    val vocab = encA.stages.head
      .asInstanceOf[Encoderizer.MultihotStage].vocab
    assert(vocab.toSet == Set("a", "b") && !vocab.contains(null),
      s"null member leaked into vocab: $vocab")
    // DOTTED column names are literal identifiers, not nested access
    val dotted = Seq((1L, "red", 1.0), (2L, "blue", 2.0), (3L, "red", 3.0),
        (4L, "blue", 4.0))
      .toDF("id", "user.color", "user.score")
    val encDot = Encoderizer.fit(dotted, Seq("user.color", "user.score"),
      catThreshold = 0.6)
    assert(encDot.transform(dotted).count() == 4,
      "dotted names must fit and transform")
    // with NULLS present, the scaler moments include the median-imputed
    // entries (SimpleImputer THEN StandardScaler — the reference order)
    val withNulls = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(30.0)),
        (4L, Some(50.0)), (5L, Option.empty[Double])).toDF("id", "v")
    val st = Encoderizer.fitStage(withNulls,
        Encoderizer.ColumnSpec("v", "numeric"), "small").get
      .asInstanceOf[Encoderizer.NumericStage]
    assert(st.median == 25.0)
    assert(math.abs(st.mean - 27.0) < 1e-9, // (10+20+30+50+25)/5
      s"mean must include the imputed entry: ${st.mean}")
    val ex2 = (100.0 + 400 + 900 + 2500 + 625) / 5
    assert(math.abs(st.std - math.sqrt(ex2 - 27.0 * 27.0)) < 1e-9,
      s"std must include the imputed entry: ${st.std}")
    // a user column that collides with the text stage's temp names must
    // survive the transform untouched
    val collide = Seq((1L, "hello world", "keep me"))
      .toDF("id", "text", "_txt_text")
    val encT = Encoderizer.fit(collide, Seq("text"), size = "small",
      overrides = Map("text" -> "text"))
    val outT = encT.transform(collide)
    assert(outT.columns.contains("_txt_text") &&
      outT.select("_txt_text").head().getString(0) == "keep me",
      "user column colliding with a temp name must survive")
  }

  // ---- the assembly and the fit's query count --------------------------

  private def attrSize(df: org.apache.spark.sql.DataFrame, c: String): Int =
    org.apache.spark.ml.attribute.AttributeGroup.fromStructField(df.schema(c)).size

  /** `mixed` plus the values VectorAssembler treats specially (`-0.0`,
    * NaN, ±Inf) as a numeric column and as map values (which reach the
    * assembly as they are), spread over two partitions so that reading a
    * row is a job.
    */
  private def odd = mixed
    .withColumn("odd", element_at(typedLit(Seq(-0.0, 0.0, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)), col("id").cast("int")))
    .withColumn("oddm", map(lit("k"), col("odd"), lit("z"), -col("odd")))
    .repartition(2)

  test("transform equals VectorAssembler: value bits, form and ml_attr size") {
    val all = Seq("color", "amount", "tags", "props", "text", "odd", "oddm")
    val encoders = Seq(
      Encoderizer.fit(odd, all, catThreshold = 0.5),
      Encoderizer.fit(odd, all, catThreshold = 0.5, transformerWeights =
        Map("color" -> 2.5, "amount" -> -0.5, "props" -> 0.0, "text" -> 0.3,
          "oddm" -> -2.0)),
      Encoderizer.fit(odd, Seq("odd", "amount"), catThreshold = 0.01),
      Encoderizer.fit(odd, Seq("text"), size = "medium", catThreshold = 0.01))
    encoders.foreach { enc =>
      val got = enc.transform(odd)
      val want = VectorAssemblerOracle.transform(enc, odd)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(attrSize(got, "features") == enc.width &&
        attrSize(want, "features") == enc.width)
      assert(VectorAssemblerOracle.collect(got, "id", "features") ==
        VectorAssemblerOracle.collect(want, "id", "features"), enc.stages.toString)
    }
    // the text stage's own assembly, at the medium and large gram shapes
    // (large at 2^12 buckets: VectorAssembler names one attribute per
    // output index, which at 7 x 2^20 no longer fits a test heap)
    Seq(Encoderizer.textParams("medium"), Encoderizer.textParams("large")
        .copy(_2 = 1 << 12)).foreach { case (words, buckets, chars) =>
      val stage = Encoderizer.TextHashStage("text", words, buckets, chars)
      val got = stage.transform(odd, "f")
      val want = VectorAssemblerOracle.text(stage, odd, "f")
      assert(attrSize(got, "f") == stage.width && attrSize(want, "f") == stage.width)
      assert(VectorAssemblerOracle.collect(got, "id", "f") ==
        VectorAssemblerOracle.collect(want, "id", "f"), stage.toString)
    }
  }

  test("a null block fails the row with VectorAssembler's error") {
    import org.apache.spark.ml.linalg.Vectors
    val df = spark.createDataFrame(Seq(
        (1L, Vectors.dense(1.0, 0.0), Vectors.sparse(3, Array(1), Array(2.0))),
        (2L, Vectors.dense(0.5, 0.5), null)))
      .toDF("id", "a", "b").repartition(1)
    def rootMessage(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null)
        .find(_.startsWith("Encountered null while assembling"))
        .getOrElse(fail(s"no assembly error in ${e.getMessage}"))
    }
    val got = rootMessage(df.select(graft.functions.AssembleVectors(
      Seq(col("a"), col("b")), "f", 5)).collect())
    val want = rootMessage(new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("a", "b")).setOutputCol("f").transform(df).collect())
    assert(got == want)
  }

  test("transform launches no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val all = Seq("color", "amount", "tags", "props", "text")
    val enc = Encoderizer.fit(odd, all, catThreshold = 0.5,
      transformerWeights = Map("text" -> 0.5, "amount" -> 2.0))
    def jobsOf(f: => org.apache.spark.sql.DataFrame): Int = {
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      jobs.set(0)
      f.queryExecution.executedPlan
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      assert(jobsOf(enc.transform(odd)) == 0)
      assert(jobsOf(Encoderizer.TextHashStage("text", (1, 2), 64).transform(odd, "f")) == 0)
      // the listener sees the job VectorAssembler runs to size its blocks
      assert(jobsOf(VectorAssemblerOracle.transform(enc, odd)) > 0)
    } finally sc.removeSparkListener(listener)
    // with no first row to read, VectorAssembler could not size the
    // blocks of an empty frame; the stage widths can
    intercept[NoSuchElementException](VectorAssemblerOracle.transform(enc, odd.limit(0)))
    assert(enc.transform(odd.limit(0)).count() == 0)
  }

  test("fit runs at most two queries") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val queries = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = queries.incrementAndGet()
    }
    def queriesOf(f: => Any): Int = {
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      queries.set(0)
      f
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      queries.get
    }
    spark.listenerManager.register(listener)
    try {
      val wide = odd.withColumn("amount2", col("amount") * 2)
        .withColumn("tags2", col("tags")).withColumn("color2", col("color"))
      val all = Seq("color", "amount", "tags", "props", "text", "oddm",
        "amount2", "tags2", "color2")
      val overrides = Map("amount2" -> "categorical", "color2" -> "text")
      var enc: Encoderizer.EncoderizerModel = null
      assert(queriesOf { enc = Encoderizer.fit(wide, all, catThreshold = 0.5,
        overrides = overrides) } <= 2)
      assert(enc.stages.map(_.getClass.getSimpleName).toSet == Set("OneHotStage",
        "NumericStage", "MultihotStage", "MapStage", "TextHashStage"))
      // the per-column public surfaces give the same stages, one query each
      val specs = Encoderizer.inferSpecs(wide, all, 0.5)
        .map(s => overrides.get(s.name).map(k => s.copy(kind = k)).getOrElse(s))
      var each = Seq.empty[Encoderizer.FittedStage]
      assert(queriesOf { each = specs.flatMap(Encoderizer.fitStage(wide, _, "small")) } ==
        specs.count(s => s.kind != "text" && s.kind != "drop"))
      assert(each == enc.stages)
    } finally spark.listenerManager.unregister(listener)
  }

  test("backticks in column names fit and transform") {
    val df = Seq((1L, 10.0, "x", Map("k" -> 1.0)), (2L, 20.0, "y", Map("k" -> 2.0)),
        (3L, 30.0, "x", Map("j" -> 3.0)), (4L, 40.0, "x", Map("k" -> 4.0)))
      .toDF("id", "a`b", "c`d", "m`k")
    val cols = Seq("a`b", "c`d", "m`k")
    assert(Encoderizer.stats(df, cols).map(_.numericCastable) == Seq(true, false, false))
    val enc = Encoderizer.fit(df, cols, catThreshold = 0.6)
    assert(enc.stages.map(_.getClass.getSimpleName) ==
      Seq("NumericStage", "OneHotStage", "MapStage"))
    assert(enc.stages.head.asInstanceOf[Encoderizer.NumericStage].median == 25.0)
    val rows = enc.transform(df).orderBy("id").select("features").collect()
      .map(_.getAs[Vector](0).toArray.toSeq)
    // a`b standardized, c`d one-hot (x first), m`k keys j,k
    assert(rows.map(_.drop(1)).toSeq == Seq(Seq(1.0, 0.0, 0.0, 1.0),
      Seq(0.0, 1.0, 0.0, 2.0), Seq(1.0, 0.0, 3.0, 0.0), Seq(1.0, 0.0, 0.0, 4.0)))
  }
}
