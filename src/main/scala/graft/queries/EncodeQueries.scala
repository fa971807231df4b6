package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.encode.{Encoderizer, Preprocessing}
import graft.exec.LogRegModel
import graft.predict.Predict
import graft.text.TextFunctions

/** Oracle-checked queries over the encoder and prediction surfaces: the
  * deterministic relational sub-computations of Encoderizer (schema
  * inference stats, vocab orders, numeric stats, variance selection) and
  * a fixed-weight model pushed through the Predict projection.
  */
object EncodeQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Schema inference: per-column stats + inferred encoder kind.
    "q41_schema_infer" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val st = Encoderizer.stats(docs, cols)
      val rows = st.map { cs =>
        val kind = Encoderizer.inferSpec(docs, cs, 0.10).kind
        (cs.name, cs.nDistinct, math.rint(cs.pctUnique * 1e6) / 1e6, kind)
      }
      s.createDataFrame(rows)
        .toDF("column_name", "n_distinct", "pct_unique", "kind")
        .orderBy("column_name")
    }),

    // Categorical vocabulary order (freq desc, value asc) = StringIndexer.
    "q42_onehot_vocab" -> ((s, d) => {
      val stage = Encoderizer.fitStage(Tables.documents(s, d),
        Encoderizer.ColumnSpec("lang", "categorical"), "small").get
        .asInstanceOf[Encoderizer.OneHotStage]
      s.createDataFrame(stage.vocab.zipWithIndex.map { case (v, i) => (v, i) })
        .toDF("value", "index")
        .orderBy("index")
    }),

    // Numeric stage stats: median / mean / population std.
    "q43_numeric_stats" -> ((s, d) => {
      val stage = Encoderizer.fitStage(Tables.documents(s, d),
        Encoderizer.ColumnSpec("n_chars", "numeric"), "small").get
        .asInstanceOf[Encoderizer.NumericStage]
      s.createDataFrame(Seq((
        math.rint(stage.median * 1e6) / 1e6,
        math.rint(stage.mean * 1e6) / 1e6,
        math.rint(stage.std * 1e6) / 1e6)))
        .toDF("median", "mean", "std_pop")
    }),

    // Multihot vocabulary over the token array column (top 20).
    "q44_multihot_vocab" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", TextFunctions.tokens(col("text")))
      val stage = Encoderizer.fitStage(docs,
        Encoderizer.ColumnSpec("toks", "multihot"), "small", maxVocab = 20).get
        .asInstanceOf[Encoderizer.MultihotStage]
      s.createDataFrame(stage.vocab.zipWithIndex.map { case (v, i) => (v, i) })
        .toDF("token", "index")
        .orderBy("index")
    }),

    // Variance-threshold feature selection over an assembled array.
    "q45_variance_keep" -> ((s, d) => {
      val df = Tables.documents(s, d)
        .withColumn("arr", array(col("n_chars").cast("double"), lit(5.0),
          pmod(col("doc_id"), lit(2)).cast("double")))
      val keep = Preprocessing.varianceKeepIndices(df, "arr", 0.0)
      s.createDataFrame(keep.map(Tuple1(_))).toDF("kept_index")
        .orderBy("kept_index")
    }),

    // Univariate ANOVA F-scores per embedding dimension vs the label
    // (SelectKBest(f_classif) sufficient statistics), top 5.
    "q54_ftest_topk" -> ((s, d) => {
      Preprocessing.fScores(Tables.embeddings(s, d), "embedding", "label")
        .select(col("feature_idx"), round(col("f_score"), 6).as("f_score"))
        .orderBy(col("f_score").desc, col("feature_idx").asc)
        .limit(5)
    }),

    // Whole Encoderizer end-to-end: infer + fit + transform documents
    // (lang/source one-hots + standardized n_chars), checked via the
    // assembled vector's element sum = 2 + scaled(n_chars).
    "q58_encoder_e2e" -> ((s, d) => {
      // fanOut: the transform-stage feature projection otherwise
      // serializes on the bench corpus's single row group (no-op at
      // real scale) — same for the explode stages below
      val docs = graft.ops.Par.fanOut(Tables.documents(s, d))
      val enc = Encoderizer.fit(docs, Seq("lang", "source", "n_chars"))
      val out = enc.transform(docs)
      out.select(col("doc_id"),
        round(aggregate(
          org.apache.spark.ml.functions.vector_to_array(col("features")),
          lit(0.0), (a, x) => a + x), 6).as("feat_sum"))
        .orderBy("doc_id")
    }),

    // Text-input prediction end-to-end (reference predict.py:59-71,
    // feature_type='text'): raw text -> tokenize -> hashed term buckets
    // -> per-bucket tf -> linear class scores -> argmax. The bucket hash
    // here is md5-derived so DuckDB can reproduce it EXACTLY (the
    // product wrapper Predict.withTextPredictions uses HashingTF's
    // murmur3 and is parity-pinned in ScalaTest instead); weights come
    // from a per-class integer formula so scores stay in exact integer
    // arithmetic on both engines — no float-sum order sensitivity.
    // Scale shape: tokenize+hash ride the scan; one exploded two-phase
    // aggregation, no joins, no driver loops.
    "q92_text_predict" -> ((s, d) => {
      val nb = 64
      val toks = graft.ops.Par.fanOut(Tables.documents(s, d)).select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val bucket = (conv(substring(md5(col("tok")), 1, 4), 16, 10)
        .cast("long") % nb).cast("int")
      def w(p: Int) = (col("bucket") * p) % 19 - 9
      toks.groupBy(col("doc_id"), bucket.as("bucket"))
        .agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum(col("tf") * w(37)).as("s0"),
          sum(col("tf") * w(53)).as("s1"),
          sum(col("tf") * w(71)).as("s2"))
        .select(col("doc_id"),
          when(col("s0") >= col("s1") && col("s0") >= col("s2"), 0)
            .when(col("s1") >= col("s2"), 1).otherwise(2)
            .cast("int").as("pred"),
          greatest(col("s0"), col("s1"), col("s2")).as("best_score"))
        .orderBy("doc_id")
    }),

    // Text-input predict_proba's score vector (reference predict.py:67-68
    // text branch + predict_proba return type at 170-176): the same
    // md5-bucket twin as q92, but the per-class scoring runs through the
    // REAL serving kernel — a sparse tf vector per doc pushed through the
    // codegen'd SparseScoreMatrix expression — and emits ALL class
    // scores, not the argmax. Integer weights keep both engines in exact
    // integer arithmetic (the softmax normalization on top is a monotone
    // bijection of these scores; its float math is parity-pinned in
    // ScalaTest, transcendental-function rounding has no place in a
    // hash-equality oracle). Scale shape: tokenize+hash ride the scan,
    // two keyed aggregations, expression scoring on the scan — no joins.
    "q93_text_proba" -> ((s, d) => {
      val nb = 64
      val toks = graft.ops.Par.fanOut(Tables.documents(s, d)).select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val bucket = (conv(substring(md5(col("tok")), 1, 4), 16, 10)
        .cast("long") % nb).cast("int")
      val tf = toks.groupBy(col("doc_id"), bucket.as("bucket"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val mkVec = udf((idx: Seq[Int], vals: Seq[Double]) => {
        val pairs = idx.zip(vals).sortBy(_._1)
        org.apache.spark.ml.linalg.Vectors.sparse(nb,
          pairs.map(_._1).toArray, pairs.map(_._2).toArray)
      })
      val w = Array.tabulate(3, nb + 1)((c, j) =>
        if (j == nb) 0.0 else ((j * Seq(37, 53, 71)(c)) % 19 - 9).toDouble)
      tf.groupBy("doc_id")
        .agg(collect_list("bucket").as("bs"), collect_list("tf").as("ts"))
        .withColumn("sc", graft.functions.SparseScoreMatrix(
          mkVec(col("bs"), col("ts")), w))
        .select(col("doc_id"),
          element_at(col("sc"), 1).cast("long").as("s0"),
          element_at(col("sc"), 2).cast("long").as("s1"),
          element_at(col("sc"), 3).cast("long").as("s2"))
        .withColumn("pred",
          when(col("s0") >= col("s1") && col("s0") >= col("s2"), 0)
            .when(col("s1") >= col("s2"), 1).otherwise(2).cast("int"))
        .orderBy("doc_id")
    }),

    // Multilabel OvR prediction end-to-end through the REAL serving
    // kernel (Predict.withMultilabelPredictions, the fused stacked-row
    // LinearScoreMatrix vote path): the same md5-bucket tf features as
    // q92/q93 densified to a 64-wide array, pushed through a
    // 3-class-label MultilabelOvRModel whose per-class binary linear
    // models carry the q92 integer weight formulas with integer
    // per-class thresholds as the s1 bias — votes are strict integer
    // comparisons (tf sums of |w|<=9 integers stay far under 2^53, so
    // double addition is exact in any order) and DuckDB reproduces them
    // verbatim. Scale shape: tokenize+hash ride the scan, two keyed
    // aggregations, expression scoring on the scan — no joins.
    "q95_multilabel_predict" -> ((s, d) => {
      val nb = 64
      val toks = graft.ops.Par.fanOut(Tables.documents(s, d)).select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val bucket = (conv(substring(md5(col("tok")), 1, 4), 16, 10)
        .cast("long") % nb).cast("int")
      val tf = toks.groupBy(col("doc_id"), bucket.as("bucket"))
        .agg(count(lit(1)).cast("double").as("tf"))
      // codegen'd dense build — the previous map_from_entries +
      // transform/try_element_at composition was a CodegenFallback HOF
      // that dragged the downstream fused score matrix into per-row
      // interpreted evaluation (18 s of the query at sf10)
      val dense = tf.groupBy("doc_id")
        .agg(collect_list(struct(col("bucket"), col("tf"))).as("_e"))
        .withColumn("x", graft.functions.DenseFromEntries(col("_e"), nb))
      val taus = Seq(0.0, -100.0, -5.0)
      val models: Array[graft.exec.Model] =
        Seq(37, 53, 71).zip(taus).map { case (p, tau) =>
          val w0 = Array.fill(nb + 1)(0.0)
          val w1 = Array.tabulate(nb + 1)(j =>
            if (j == nb) -tau else ((j * p) % 19 - 9).toDouble)
          LogRegModel(Array(w0, w1), 2): graft.exec.Model
        }.toArray
      val model = graft.search.MultilabelOvRModel(
        Array("alpha", "beta", "gamma"), models, norm = None)
      // the oracle compare hashes scalar columns, so the label SET is
      // emitted as its canonical comma-join (order = class order)
      Predict.withMultilabelPredictions(s, dense, model, "x", "labels")
        .select(col("doc_id"),
          array_join(col("labels"), ",").as("label_csv"),
          size(col("labels")).as("n_labels"))
        .orderBy("doc_id")
    }),

    // Codegen'd LinearScore expression vs DuckDB list_dot_product.
    "q47_linear_score" -> ((s, d) => {
      val w = Array.tabulate(64)(j => (j * 37 % 19 - 9) / 10.0)
      Tables.embeddings(s, d).select(col("vec_id"),
        round(graft.functions.LinearScore(
          col("embedding").cast("array<double>"), w, bias = 0.5), 4).as("score"))
        .orderBy("vec_id")
    }),

    // SVC margin surface: squared-hinge loss + functional margin of a
    // fixed linear decision function (the quantity LinearSVC minimizes)
    // per class — codegen'd LinearScore, no UDFs; oracled against DuckDB
    // list_dot_product.
    "q70_svc_hinge" -> ((s, d) => {
      val w = Array.tabulate(64)(j => (j * 53 % 17 - 8) / 20.0)
      val dec = graft.functions.LinearScore(
        col("embedding").cast("array<double>"), w, bias = 0.1)
      val t = when(col("label") < 5, lit(1.0)).otherwise(lit(-1.0))
      val hinge = pow(greatest(lit(0.0), lit(1.0) - t * dec), 2)
      Tables.embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n_rows"),
          round(avg(hinge), 4).as("avg_sq_hinge"),
          round(avg(t * dec), 4).as("avg_margin"))
        .orderBy("label")
    }),

    // Fixed-weight linear model through the UDF-free Predict projection
    // (FusedScore's codegen'd LinearScoreMatrix + argmax).
    "q46_linear_predict" -> ((s, d) => {
      val w0 = Array.tabulate(65)(j => if (j < 32) 1.0 else 0.0)
      val w1 = Array.tabulate(65)(j => if (j >= 32 && j < 64) 1.0 else 0.0)
      val model = LogRegModel(Array(w0, w1), 2)
      Predict.withPredictions(s, Tables.embeddings(s, d), model,
        "embedding", "pred")
        .select("vec_id", "pred")
        .orderBy("vec_id")
    })
  )

  private val q70Weights: String =
    (0 until 64).map(j => (j * 53 % 17 - 8) / 20.0).mkString("[", ", ", "]")

  private val q47Weights: String =
    (0 until 64).map(j => (j * 37 % 19 - 9) / 10.0).mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "q92_text_predict" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS INT) AS bucket,
        |    count(*) AS tf
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id,
        |    CAST(sum(tf * ((bucket * 37) % 19 - 9)) AS BIGINT) AS s0,
        |    CAST(sum(tf * ((bucket * 53) % 19 - 9)) AS BIGINT) AS s1,
        |    CAST(sum(tf * ((bucket * 71) % 19 - 9)) AS BIGINT) AS s2
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
        |            WHEN s1 >= s2 THEN 1 ELSE 2 END AS INT) AS pred,
        |  greatest(s0, s1, s2) AS best_score
        |FROM s ORDER BY doc_id""".stripMargin,
    "q95_multilabel_predict" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS INT) AS bucket,
        |    count(*) AS tf
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id,
        |    CAST(sum(tf * ((bucket * 37) % 19 - 9)) AS BIGINT) AS s0,
        |    CAST(sum(tf * ((bucket * 53) % 19 - 9)) AS BIGINT) AS s1,
        |    CAST(sum(tf * ((bucket * 71) % 19 - 9)) AS BIGINT) AS s2
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id,
        |  coalesce(array_to_string(
        |    CASE WHEN s0 > 0 THEN ['alpha'] ELSE []::VARCHAR[] END ||
        |    CASE WHEN s1 > -100 THEN ['beta'] ELSE []::VARCHAR[] END ||
        |    CASE WHEN s2 > -5 THEN ['gamma'] ELSE []::VARCHAR[] END,
        |    ','), '') AS label_csv,
        |  CAST((CASE WHEN s0 > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN s1 > -100 THEN 1 ELSE 0 END)
        |     + (CASE WHEN s2 > -5 THEN 1 ELSE 0 END) AS INT) AS n_labels
        |FROM s ORDER BY doc_id""".stripMargin,
    "q93_text_proba" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS INT) AS bucket,
        |    count(*) AS tf
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id,
        |    CAST(sum(tf * ((bucket * 37) % 19 - 9)) AS BIGINT) AS s0,
        |    CAST(sum(tf * ((bucket * 53) % 19 - 9)) AS BIGINT) AS s1,
        |    CAST(sum(tf * ((bucket * 71) % 19 - 9)) AS BIGINT) AS s2
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, s0, s1, s2,
        |  CAST(CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
        |            WHEN s1 >= s2 THEN 1 ELSE 2 END AS INT) AS pred
        |FROM s ORDER BY doc_id""".stripMargin,
    // lang/source are low-cardinality strings -> categorical (one-hot
    // sums to 1 each) at every SF; n_chars' kind is DERIVED from the
    // data exactly as Encoderizer.inferSpec does (numeric iff
    // pct_unique >= 0.10), because it flips to categorical once the
    // corpus outgrows its value range (sf1+). In the categorical branch
    // every distinct n_chars fits the 2^16 default vocab, so its one-hot
    // also sums to exactly 1.
    "q58_encoder_e2e" ->
      """WITH dec AS (
        |  SELECT count(DISTINCT n_chars) * 1.0 / count(n_chars) >= 0.10 AS is_num
        |  FROM documents),
        |stats AS (
        |  SELECT avg(n_chars) AS m, stddev_pop(n_chars) AS s FROM documents)
        |SELECT doc_id,
        |  round(CASE WHEN (SELECT is_num FROM dec)
        |        THEN 2.0 + (n_chars - m) / s
        |        ELSE 3.0 END, 6) AS feat_sum
        |FROM documents, stats ORDER BY doc_id""".stripMargin,

    "q54_ftest_topk" ->
      """WITH x AS (
        |  SELECT label AS y, CAST(i AS INT) - 1 AS feature_idx,
        |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
        |  FROM embeddings,
        |       LATERAL unnest(range(1, len(embedding) + 1)) AS t(i)),
        |g AS (
        |  SELECT feature_idx, y, count(*) AS n, sum(v) AS s, sum(v*v) AS ss
        |  FROM x GROUP BY feature_idx, y),
        |f AS (
        |  SELECT feature_idx,
        |    sum(n) AS nt, sum(s) AS st, count(*) AS k,
        |    sum(ss - s*s/n) AS ssw, sum(s*s/n) AS sb
        |  FROM g GROUP BY feature_idx)
        |SELECT feature_idx,
        |  round(CASE WHEN k > 1 AND ssw > 0
        |    THEN ((sb - st*st/nt) / (k - 1)) / (ssw / (nt - k))
        |    ELSE 0.0 END, 6) AS f_score
        |FROM f
        |ORDER BY f_score DESC, feature_idx ASC LIMIT 5""".stripMargin,

    "q70_svc_hinge" ->
      s"""WITH s AS (
         |  SELECT label,
         |    0.1 + list_dot_product(CAST(embedding AS DOUBLE[]),
         |      CAST($q70Weights AS DOUBLE[])) AS dec,
         |    CASE WHEN label < 5 THEN 1.0 ELSE -1.0 END AS t
         |  FROM embeddings)
         |SELECT label, count(*) AS n_rows,
         |  round(avg(pow(greatest(0, 1 - t * dec), 2)), 4) AS avg_sq_hinge,
         |  round(avg(t * dec), 4) AS avg_margin
         |FROM s GROUP BY label ORDER BY label""".stripMargin,

    "q47_linear_score" ->
      s"""SELECT vec_id,
         | round(0.5 + list_dot_product(CAST(embedding AS DOUBLE[]),
         |   CAST($q47Weights AS DOUBLE[])), 4) AS score
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q41_schema_infer" ->
      """WITH stats AS (
        |  SELECT 'doc_id' AS column_name, count(doc_id) AS nn,
        |    count(DISTINCT doc_id) AS nd,
        |    count(TRY_CAST(doc_id AS DOUBLE)) = count(doc_id) AS num FROM documents
        |  UNION ALL
        |  SELECT 'text', count(text), count(DISTINCT text),
        |    count(TRY_CAST(text AS DOUBLE)) = count(text) FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(lang), count(DISTINCT lang),
        |    count(TRY_CAST(lang AS DOUBLE)) = count(lang) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(source), count(DISTINCT source),
        |    count(TRY_CAST(source AS DOUBLE)) = count(source) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars),
        |    count(TRY_CAST(n_chars AS DOUBLE)) = count(n_chars) FROM documents)
        |SELECT column_name, nd AS n_distinct,
        |  round(nd * 1.0 / nn, 6) AS pct_unique,
        |  CASE
        |    WHEN nn = 0 THEN 'drop'
        |    WHEN num AND nd * 1.0 / nn >= 0.10 THEN 'numeric'
        |    WHEN nd * 1.0 / nn < 0.10 THEN 'categorical'
        |    ELSE 'text' END AS kind
        |FROM stats ORDER BY column_name""".stripMargin,

    "q42_onehot_vocab" ->
      """SELECT v AS value, CAST(row_number() OVER (ORDER BY n DESC, v ASC) - 1 AS INT) AS index
        |FROM (SELECT lang AS v, count(*) AS n FROM documents
        |      WHERE lang IS NOT NULL GROUP BY lang) t
        |ORDER BY index""".stripMargin,

    "q43_numeric_stats" ->
      """SELECT round(quantile_cont(n_chars, 0.5), 6) AS median,
        | round(avg(n_chars), 6) AS mean,
        | round(stddev_pop(n_chars), 6) AS std_pop
        |FROM documents""".stripMargin,

    "q44_multihot_vocab" ->
      """SELECT v AS token, CAST(row_number() OVER (ORDER BY n DESC, v ASC) - 1 AS INT) AS index
        |FROM (
        |  SELECT v, count(*) AS n FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS v
        |    FROM documents) u
        |  GROUP BY v) t
        |ORDER BY n DESC, v ASC LIMIT 20""".stripMargin,

    "q45_variance_keep" ->
      """WITH v AS (SELECT var_pop(n_chars) AS v0, var_pop(5.0) AS v1,
        |  var_pop(doc_id % 2) AS v2 FROM documents)
        |SELECT CAST(i AS INT) AS kept_index
        |FROM (VALUES (0), (1), (2)) t(i), v
        |WHERE (i = 0 AND v0 > 0) OR (i = 1 AND v1 > 0) OR (i = 2 AND v2 > 0)
        |ORDER BY kept_index""".stripMargin,

    "q46_linear_predict" ->
      """SELECT vec_id,
        | CASE WHEN list_sum(CAST(embedding[33:64] AS DOUBLE[]))
        |        > list_sum(CAST(embedding[1:32] AS DOUBLE[]))
        |      THEN 1 ELSE 0 END AS pred
        |FROM embeddings ORDER BY vec_id""".stripMargin
  )
}
