package graft.encode

import org.apache.spark.ml.feature.{HashingTF, NGram, RegexTokenizer}
import org.apache.spark.sql.{functions, Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.AssembleVectors

/** Type-inferring feature-union encoder (reference `Encoderizer`,
  * `encoder.py` + `_defaults.py`): probe each column, pick an encoder
  * per inferred kind, fit all encoders, transform to one assembled
  * feature vector. Width metadata supports `featureOrigin` (output index →
  * producing stage) and `extract` (sub-encoder by name), mirroring
  * `encoder.py:88-110, 209-230, 379-387`.
  *
  * Inference rules (`encoder.py:344-377`): all-null → drop; array →
  * multihot; map → key-expansion; castable-to-numeric → numeric UNLESS
  * distinct ratio < catThreshold (10%) → categorical one-hot; remaining
  * strings → hashed text n-grams ('small'/'medium'/'large' grids,
  * `_defaults.py:89-204`).
  *
  * Scale: `fit` is at most two Spark queries for any mix of columns — the
  * inference stats of every column joined to the numeric moments of every
  * column that can turn out numeric, then one grouped query for every
  * vocabulary. Numeric standardization is
  * expression-only (codegen); categorical and multihot vocabularies are
  * freq-ordered and capped in Spark; text hashing uses Spark ML HashingTF
  * (no vocab state at all); blocks are assembled by the codegen'd
  * [[graft.functions.AssembleVectors]], so `transform` runs no Spark job.
  * Nothing here collects row data to the driver beyond vocabularies.
  */
object Encoderizer {

  /** Column ref that survives DOTTED names and backticks: `col("a.b")`
    * parses as nested-field access and fails to resolve a literal column
    * named "a.b"; backticks (doubled inside the name) make it a literal
    * identifier. Every reference to a user column goes through it.
    */
  private def qcol(n: String): Column = col(s"`${n.replace("`", "``")}`")

  final case class ColumnSpec(name: String, kind: String)

  final case class ColumnStats(name: String, nRows: Long, nNonNull: Long,
                               nDistinct: Long, numericCastable: Boolean) {
    def pctUnique: Double = if (nNonNull == 0) 0.0 else nDistinct.toDouble / nNonNull
  }

  // ---- fit-query helpers ----------------------------------------------
  // `stats`, `fitStage` and `fit` build their queries from these, so the
  // one- and two-query paths cannot drift apart.

  /** Types with a legal cast to double. try_cast only exists for LEGAL
    * casts: date/binary/struct/… to double is an ANALYSIS error, not a
    * runtime null — those probe as non-numeric instead of crashing fit on
    * any frame with e.g. a date column. Timestamp→double IS legal (epoch
    * seconds), so timestamp columns probe numeric.
    */
  private def doubleCastable(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case _: NumericType | StringType | BooleanType | TimestampType => true
      case _ => false
    }

  // try_cast, not cast: under ANSI mode a malformed string would throw
  // instead of yielding null.
  private def asDouble(c: String): Column = qcol(c).try_cast("double")

  /** Per column: non-null count, distinct count, numeric-castable count. */
  private def statAggs(df: DataFrame, c: String): Seq[Column] = Seq(
    count(qcol(c)), countDistinct(qcol(c)),
    count(if (doubleCastable(df, c)) asDouble(c) else lit(null).cast("double")))

  private def readStats(r: Row, at: Int, c: String, n: Long): ColumnStats = {
    val nn = r.getLong(at)
    ColumnStats(c, n, nn, r.getLong(at + 1),
      numericCastable = nn > 0 && r.getLong(at + 2) == nn)
  }

  /** Per column: exact median, mean, population std and non-null count of
    * `try_cast(c as double)`. NOTE on percentile: EXACT, by choice — it is
    * the reference's SimpleImputer(median) semantics and what the q43
    * oracle pins; its aggregation buffers the column's values, so at a
    * scale where that matters swap to percentile_approx KNOWINGLY
    * (imputation tolerates an approximate median — exact is parity, not
    * necessity).
    */
  private def momentAggs(c: String): Seq[Column] = {
    val v = asDouble(c)
    Seq(percentile(v, lit(0.5)), avg(v), stddev_pop(v), count(v))
  }

  /** The numeric stage from [[momentAggs]] at `at`. The reference pipeline
    * is SimpleImputer(median) THEN StandardScaler: the scaler fits on the
    * median-IMPUTED column, so with nulls present the moments include the
    * imputed entries via a closed-form correction (no second pass); the
    * null-free branch keeps the aggregate values bit-identical.
    */
  private def readNumeric(r: Row, at: Int, c: String, n: Long): NumericStage = {
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val med = d(at)
    val meanNN = d(at + 1)
    val stdNN = d(at + 2)
    val nn = r.getLong(at + 3)
    val (mean, std) =
      if (n == 0 || nn == n) (meanNN, stdNN)
      else {
        val m = (nn * meanNN + (n - nn) * med) / n
        val ex2 = (nn * (stdNN * stdNN + meanNN * meanNN) +
          (n - nn) * med * med) / n
        (m, math.sqrt(math.max(0.0, ex2 - m * m)))
      }
    NumericStage(c, med, mean, std)
  }

  /** One row: the row count, then [[statAggs]] per column. */
  private def statsQuery(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)), cols.flatMap(statAggs(df, _)): _*)

  /** One row: the row count, then [[momentAggs]] per column. Kept apart
    * from [[statsQuery]]: Spark plans the distinct counts through an
    * Expand whose partial aggregation falls back to sorting past 128
    * keys, which re-orders the sums and moves a mean by a few ulps.
    */
  private def momentsQuery(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)), cols.flatMap(momentAggs): _*)

  private val vocabKinds = Set("categorical", "multihot", "map")
  private val kinds = vocabKinds ++ Set("drop", "numeric", "text")

  /** Every vocabulary of `specs` (categorical, multihot and map kinds) from
    * ONE grouped query: each row's values of every vocab column are tagged
    * with the column's position and exploded in one scan, counted per
    * (column, value), ranked per column — categorical and multihot by
    * (count desc, value asc), the StringIndexer order; map keys by key
    * asc — and cut at `maxVocab` in Spark, so the driver holds at most
    * `maxVocab` entries per column.
    */
  private def vocabularies(df: DataFrame, specs: Seq[ColumnSpec],
                           maxVocab: Int): Map[String, Seq[String]] =
    if (specs.isEmpty) Map.empty
    else {
      val none = array().cast("array<string>")
      val tagged = specs.zipWithIndex.map { case (s, i) =>
        val values = s.kind match {
          case "categorical" => array(qcol(s.name).cast("string"))
          case "multihot" => coalesce(qcol(s.name).cast("array<string>"), none)
          case "map" => coalesce(map_keys(qcol(s.name)).cast("array<string>"), none)
        }
        functions.transform(values, v => struct(lit(i).as("i"), v.as("v")))
      }
      val isMap = specs.indices.filter(specs(_).kind == "map")
      // explode KEEPS null members: without the filter a null would
      // become a vocab entry — a permanently-zero slot VocabVector can
      // never set, and a JString(null) in the persisted model
      val counts = df.select(explode(flatten(array(tagged: _*))).as("e"))
        .select(col("e.i").as("i"), col("e.v").as("v"))
        .filter(col("v").isNotNull)
        .groupBy("i", "v").agg(count(lit(1)).as("n"))
      val freq = if (isMap.isEmpty) col("n")
        else when(col("i").isin(isMap: _*), lit(0L)).otherwise(col("n"))
      val rank = row_number().over(
        Window.partitionBy("i").orderBy(freq.desc, col("v").asc))
      val rows = counts.select(col("i"), col("v"), rank.as("r"))
        .filter(col("r") <= maxVocab)
        .collect()
      val byCol = rows.groupBy(_.getInt(0)).view
        .mapValues(_.sortBy(_.getInt(2)).map(_.getString(1)).toSeq).toMap
      specs.zipWithIndex.map { case (s, i) =>
        s.name -> byCol.getOrElse(i, Seq.empty)
      }.toMap
    }

  def stats(df: DataFrame, cols: Seq[String]): Seq[ColumnStats] = {
    val r = statsQuery(df, cols).head()
    cols.zipWithIndex.map { case (c, i) => readStats(r, 1 + 3 * i, c, r.getLong(0)) }
  }

  def inferSpec(df: DataFrame, s: ColumnStats, catThreshold: Double): ColumnSpec = {
    val kind = df.schema(s.name).dataType match {
      case _ if s.nNonNull == 0    => "drop"
      case _: MapType              => "map"
      case _: ArrayType            => "multihot"
      case _ if s.numericCastable && s.pctUnique >= catThreshold => "numeric"
      case _ if s.pctUnique < catThreshold                       => "categorical"
      case _                       => "text"
    }
    ColumnSpec(s.name, kind)
  }

  def inferSpecs(df: DataFrame, cols: Seq[String],
                 catThreshold: Double = 0.10): Seq[ColumnSpec] = {
    val st = stats(df, cols)
    st.map(inferSpec(df, _, catThreshold))
  }

  // ---- stages -------------------------------------------------------

  /** A fitted stage emits one `array<double>`/Vector column of fixed width. */
  trait FittedStage extends Serializable {
    def name: String
    def width: Int
    /** Adds `outCol` to df. */
    def transform(df: DataFrame, outCol: String): DataFrame
  }

  /** Numeric: median-impute + standardize, pure expressions (reference
    * `numeric_encoder`: SimpleImputer(median) + StandardScaler).
    */
  final case class NumericStage(name: String, median: Double, mean: Double,
                                std: Double) extends FittedStage {
    val width = 1
    def transform(df: DataFrame, outCol: String): DataFrame = {
      // try_cast, matching fit: under ANSI a malformed value imputes the
      // median (as the fit-side stats promised) instead of throwing.
      val v = coalesce(asDouble(name), lit(median))
      val scaled = if (std == 0.0) v - mean else (v - mean) / std
      df.withColumn(outCol, array(scaled))
    }
  }

  /** Categorical one-hot over a frequency-ordered vocabulary (StringIndexer
    * order: freq desc, value asc); unseen/null → all-zero row (the
    * reference's CountVectorizer-binary behavior, `_defaults.py:41-61`).
    */
  final case class OneHotStage(name: String, vocab: Seq[String]) extends FittedStage {
    val width = vocab.size
    // ONE fused hash-lookup expression, not width × CASE WHEN columns:
    // the composed form hits Janino's 64 KB cap past ~500 vocab entries,
    // silently drops the stage to interpreted evaluation, and then pays
    // O(vocab) per row — see graft.functions.VocabVector for numbers.
    def transform(df: DataFrame, outCol: String): DataFrame =
      df.withColumn(outCol,
        graft.functions.VocabVector(qcol(name).cast("string"), vocab))
  }

  /** Multi-hot over an array column with a frequency-ordered vocabulary
    * (reference `MultihotEncoder`; unseen labels silently ignored).
    */
  final case class MultihotStage(name: String, vocab: Seq[String]) extends FittedStage {
    val width = vocab.size
    // fused hash-lookup per member (null array → zero vector inside the
    // expression), replacing width × array_contains scans — O(members)
    // per row instead of O(vocab × members), and no 64 KB codegen cliff
    def transform(df: DataFrame, outCol: String): DataFrame =
      df.withColumn(outCol,
        graft.functions.VocabVector(qcol(name).cast("array<string>"), vocab))
  }

  /** Map/dict key-expansion (reference `dict_encoder` DictVectorizer):
    * one numeric output per fitted key, missing key → 0.
    */
  final case class MapStage(name: String, keys: Seq[String]) extends FittedStage {
    val width = keys.size
    // one pass over the row's OWN entries (each looked up in the fitted
    // key index), replacing width × element_at probes. try_cast, not
    // cast: a map<string,string> column (inference matches ANY MapType)
    // with a non-numeric value would otherwise THROW under ANSI at
    // transform time — try_cast nulls the bad entry and VocabVector
    // skips null values, the same malformed-value discipline as the
    // numeric stage.
    def transform(df: DataFrame, outCol: String): DataFrame =
      df.withColumn(outCol, graft.functions.VocabVector(
        qcol(name).try_cast("map<string,double>"), keys))
  }

  /** Hashed text n-grams (reference `HashingVectorizerChunked` + size
    * grids): word grams via tokenize + NGram + HashingTF, plus optional
    * character grams (`_defaults.py` char_wb analyzers of the medium/
    * large configs) via the TextFunctions shingle HOF. Stateless — no
    * vocabulary — which is exactly why it scales to 100 TB of text.
    */
  final case class TextHashStage(name: String, nGramRange: (Int, Int),
                                 numFeatures: Int,
                                 charNGramRange: Option[(Int, Int)] = None)
    extends FittedStage {
    private def wordSizes = nGramRange._2 - nGramRange._1 + 1
    private def charSizes = charNGramRange.map(r => r._2 - r._1 + 1).getOrElse(0)
    val width: Int = numFeatures * (wordSizes + charSizes)
    def transform(df: DataFrame, outCol: String): DataFrame = {
      val (hashed, blocks, tmpCols) = hashBlocks(df)
      hashed.withColumn(outCol, AssembleVectors(blocks.map(col), outCol, width))
        .drop(tmpCols: _*)
    }

    /** `df` plus one hashed-gram vector column per gram size (word grams,
      * then char grams), their names in block order, and every temp column
      * to drop.
      */
    private[graft] def hashBlocks(df: DataFrame): (DataFrame, Seq[String], Seq[String]) = {
      // temp-name suffix: bump until no fixed temp name collides with a
      // user column — a frame already holding e.g. "_txt_text" would
      // otherwise have that column silently overwritten and then dropped
      val sfx = Iterator.from(0)
        .map(i => if (i == 0) name else s"${name}_x$i")
        .find { cand =>
          val prefixes = Seq("_txt_", "_tok_", "_g", "_h", "_cg", "_ch")
          !df.columns.exists(c => prefixes.exists(p =>
            c.startsWith(p) && c.endsWith(cand)))
        }.get
      // null-coalesce AND cast to string into a TEMP column: overwriting
      // the user's column would leak the mutation into the returned
      // frame, and the cast makes the text stage total over ANY input
      // type — inference's fallback can route a high-cardinality date/
      // binary column here, and RegexTokenizer rejects non-string input
      val txt = s"_txt_$sfx"
      val tok = new RegexTokenizer().setInputCol(txt).setOutputCol(s"_tok_$sfx")
        .setPattern("\\s+").setToLowercase(true)
      var out = tok.transform(df.withColumn(txt,
        coalesce(qcol(name).cast("string"), lit(""))))
      var tmpCols = Seq(txt, s"_tok_$sfx")
      val wordCols = (nGramRange._1 to nGramRange._2).map { g =>
        val gcol = s"_g${g}_$sfx"
        val hcol = s"_h${g}_$sfx"
        out =
          if (g == 1) out.withColumn(gcol, col(s"_tok_$sfx"))
          else new NGram().setN(g).setInputCol(s"_tok_$sfx").setOutputCol(gcol)
            .transform(out)
        out = new HashingTF().setInputCol(gcol).setOutputCol(hcol)
          .setNumFeatures(numFeatures).transform(out)
        tmpCols ++= Seq(gcol, hcol)
        hcol
      }
      val charCols = charNGramRange.toSeq.flatMap { case (lo, hi) =>
        (lo to hi).map { g =>
          val gcol = s"_cg${g}_$sfx"
          val hcol = s"_ch${g}_$sfx"
          out = out.withColumn(gcol,
            graft.text.TextFunctions.charNGrams(lower(col(txt)), g))
          out = new HashingTF().setInputCol(gcol).setOutputCol(hcol)
            .setNumFeatures(numFeatures).transform(out)
          tmpCols ++= Seq(gcol, hcol)
          hcol
        }
      }
      (out, wordCols ++ charCols, tmpCols)
    }
  }

  // ---- fit ----------------------------------------------------------

  /** Size grids (reference `_defaults.py:89-204`): 'small' = word 1-2
    * grams; 'medium' adds char 3-4 grams; 'large' = word 1-3 + char 2-5
    * grams (the char_wb analyzers of the reference, hashed).
    */
  def textParams(size: String): ((Int, Int), Int, Option[(Int, Int)]) = size match {
    case "small"  => ((1, 2), 1 << 16, None)
    case "medium" => ((1, 2), 1 << 18, Some((3, 4)))
    case "large"  => ((1, 3), 1 << 20, Some((2, 5)))
    case other    => throw new IllegalArgumentException(s"unknown size: $other")
  }

  def fitStage(df: DataFrame, spec: ColumnSpec, size: String,
               maxVocab: Int = 1 << 16): Option[FittedStage] =
    fitStages(df, Seq(spec), size, maxVocab, Map.empty).headOption

  /** The stages of `specs` (in order, dropped columns left out). `moments`
    * holds the numeric stages already read off the stats query; the
    * remaining numeric specs share one aggregate, and every vocabulary
    * one grouped query.
    */
  private def fitStages(df: DataFrame, specs: Seq[ColumnSpec], size: String,
                        maxVocab: Int,
                        moments: Map[String, NumericStage]): Seq[FittedStage] = {
    specs.find(s => !kinds(s.kind))
      .foreach(s => throw new IllegalArgumentException(s"unknown kind: ${s.kind}"))
    val numeric = specs.filter(s => s.kind == "numeric" && !moments.contains(s.name))
      .map(_.name)
    val fitted = moments ++ (if (numeric.isEmpty) Map.empty else {
      val r = momentsQuery(df, numeric).head()
      numeric.zipWithIndex.map { case (c, i) =>
        c -> readNumeric(r, 1 + 4 * i, c, r.getLong(0))
      }.toMap
    })
    val vocabs = vocabularies(df, specs.filter(s => vocabKinds(s.kind)), maxVocab)
    specs.flatMap { s =>
      s.kind match {
        case "drop" => None
        case "numeric" => Some(fitted(s.name))
        case "categorical" => Some(OneHotStage(s.name, vocabs(s.name)))
        case "multihot" => Some(MultihotStage(s.name, vocabs(s.name)))
        case "map" => Some(MapStage(s.name, vocabs(s.name)))
        case "text" =>
          val (range, feats, charRange) = textParams(size)
          Some(TextHashStage(s.name, range, feats, charRange))
      }
    }
  }

  final case class EncoderizerModel(stages: Seq[FittedStage],
                                    featuresCol: String,
                                    weights: Map[String, Double] = Map.empty)
      extends Serializable {
    def width: Int = stages.map(_.width).sum
    private def offsets: Seq[(String, Int, Int)] = {
      val cum = stages.scanLeft(0)(_ + _.width)
      stages.zip(cum).map { case (s, off) => (s.name, off, off + s.width) }
    }
    /** Output feature index → producing stage name (`feature_origin`). */
    def featureOrigin(index: Int): String =
      offsets.find { case (_, lo, hi) => index >= lo && index < hi }
        .map(_._1)
        .getOrElse(throw new IndexOutOfBoundsException(s"$index >= $width"))
    /** Sub-encoder by stage names (`Encoderizer.extract`). */
    def extract(names: Seq[String]): EncoderizerModel =
      EncoderizerModel(stages.filter(s => names.contains(s.name)), featuresCol,
        weights.view.filterKeys(names.contains).toMap)

    def transform(df: DataFrame): DataFrame = {
      // VectorAssembler's own check on the output column
      require(!df.columns.contains(featuresCol),
        s"Output column $featuresCol already exists.")
      var out = df
      val blocks = stages.zipWithIndex.map { case (s, i) =>
        val c = s"_enc_$i"
        out = s.transform(out, c)
        // `transformer_weights` (reference `encoder.py:112`, FeatureUnion
        // semantics): scale the stage's whole output block.
        val w = weights.getOrElse(s.name, 1.0)
        out.schema(c).dataType match {
          case _ if w == 1.0 => col(c)
          case _: ArrayType  => functions.transform(col(c), e => e * w)
          // codegen'd, sparsity-preserving [[graft.functions.ScaleVector]]
          // — never densifies the 2^18-wide hashed-text vectors
          case _             => graft.functions.ScaleVector(col(c), w)
        }
      }
      out.select((df.columns.map(qcol).toSeq :+
        AssembleVectors(blocks, featuresCol, width)): _*)
    }
  }

  def fit(df: DataFrame, cols: Seq[String], size: String = "small",
          catThreshold: Double = 0.10,
          overrides: Map[String, String] = Map.empty,
          featuresCol: String = "features",
          transformerWeights: Map[String, Double] = Map.empty): EncoderizerModel = {
    // query 1: the inference stats of every column, joined to the
    // moments of every column that can come out numeric (castable, or
    // forced) — two single-row aggregates, one query
    val numeric = cols.filter(c => overrides.get(c) match {
      case Some(kind) => kind == "numeric"
      case None => doubleCastable(df, c)
    })
    val r = (if (numeric.isEmpty) statsQuery(df, cols)
      else statsQuery(df, cols).crossJoin(momentsQuery(df, numeric))).head()
    val n = r.getLong(0)
    val specs = cols.zipWithIndex.map { case (c, i) =>
      val inferred = inferSpec(df, readStats(r, 1 + 3 * i, c, n), catThreshold)
      overrides.get(c).map(k => inferred.copy(kind = k)).getOrElse(inferred)
    }
    val at = 2 + 3 * cols.size
    val moments = numeric.zipWithIndex.map { case (c, i) =>
      c -> readNumeric(r, at + 4 * i, c, n)
    }.toMap
    // query 2: every vocabulary
    EncoderizerModel(fitStages(df, specs, size, 1 << 16, moments), featuresCol,
      transformerWeights)
  }
}
