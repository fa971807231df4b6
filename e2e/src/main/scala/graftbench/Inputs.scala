package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always gives the same inputs;
  * the engine only ever sees the files written here.
  */
object Inputs {
  /** Id offset between corpus copies (the scale generator's offset: a
    * multiple of 100, so `doc_id mod 100` sampling is copy-invariant).
    */
  val CopyOffset = 10000000L

  /** Documents schema of the streaming reader (`Streams.readDocuments`). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Writes `df` as ONE parquet file at `file` (the flat layout the
    * streaming file source and `Tables.load` read).
    */
  def writeFlat(df: DataFrame, file: Path): Unit = {
    val tmp = file.resolveSibling("_tmp_" + file.getFileName)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().orElseThrow()
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Dirs.delete(tmp)
  }

  /** Writes one flat parquet file per value of the integer column `b`
    * (dropped from the files), named by `name`, with ONE Spark job.
    */
  def writeGroups(df: DataFrame, dir: Path, name: Int => String): Unit = {
    val tmp = dir.resolve("_tmp_groups")
    df.repartition(col("b")).write.mode("overwrite").partitionBy("b").parquet(tmp.toString)
    val groups = Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.startsWith("b="))
    groups.foreach { g =>
      val b = g.getFileName.toString.drop(2).toInt
      val part = Files.list(g).filter(_.toString.endsWith(".parquet")).findFirst().orElseThrow()
      Files.move(part, dir.resolve(name(b)), StandardCopyOption.REPLACE_EXISTING)
    }
    Dirs.delete(tmp)
  }

  // ---- train_covtype -------------------------------------------------

  /** covtype's class shares (7 classes, two dominant). */
  val CoverShares: Array[Double] =
    Array(0.3646, 0.4876, 0.0615, 0.0047, 0.0163, 0.0299, 0.0354)
  val NumericCols: Seq[String] = Seq("elevation", "aspect", "slope", "h_hydrology",
    "v_hydrology", "h_roadways", "hillshade_9am", "hillshade_noon", "hillshade_3pm",
    "h_fire_points")
  val Wilderness = 4
  val Soils = 40

  /** A covtype-shaped frame: 10 numeric columns, a 4-level and a 40-level
    * categorical, and an imbalanced 7-class label. Class-conditional
    * means make the label learnable but not separable. The class model is
    * the same for every seed (so each seed poses an equally hard problem
    * and the fits do comparable work); the seed draws the rows. The first
    * rows cover every categorical level, so the encoded width is always
    * 10 + 4 + 40 = 54.
    */
  def covtype(spark: SparkSession, seed: Long, rows: Int): DataFrame = {
    val model = new Random(54L)
    val nC = CoverShares.length
    val mu = Array.fill(nC, NumericCols.size)(model.nextGaussian() * 0.6)
    val scale = NumericCols.indices.map(j => 10.0 + 50.0 * j).toArray
    def weights(k: Int) = Array.fill(nC, k)(math.pow(model.nextDouble(), 2) + 0.02)
    val wW = weights(Wilderness)
    val wS = weights(Soils)
    val rnd = new Random(seed)
    val cum = CoverShares.scanLeft(0.0)(_ + _).tail
    def draw(w: Array[Double]): Int = {
      var u = rnd.nextDouble() * w.sum
      var i = 0
      while (i < w.length - 1 && u >= w(i)) { u -= w(i); i += 1 }
      i
    }
    val data = (0 until rows).map { r =>
      val u = rnd.nextDouble()
      val c = math.min(nC - 1, cum.indexWhere(u < _) match { case -1 => nC - 1; case i => i })
      val nums = NumericCols.indices.map(j => (mu(c)(j) + rnd.nextGaussian()) * scale(j))
      val w = if (r < Wilderness) r else draw(wW(c))
      val s = if (r < Soils) r else draw(wS(c))
      Row.fromSeq(Seq(r.toLong) ++ nums ++ Seq(s"w$w", s"soil$s", c))
    }
    val schema = StructType(
      StructField("row_id", LongType) +: NumericCols.map(StructField(_, DoubleType)) :+
        StructField("wilderness", StringType) :+ StructField("soil", StringType) :+
        StructField("cover", IntegerType))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
  }

  // ---- corpora -------------------------------------------------------

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val digits = "0123456789"
  /** Letters of the quality gate's stopwords present in the corpus
    * ("the", "a"). The cipher fixes them, so a stopword stays a stopword
    * and no other word can become one.
    */
  private val fixed = "thea"

  val Alphabet: String = lower + lower.toUpperCase + digits

  /** Seeded substitution cipher for corpus copy `copy` (identity for copy
    * 0): the scale generator's `cipherPerm` fairness model — length- and
    * structure-preserving, so duplicate structure repeats inside a copy
    * while cross-copy shingle and span collisions stay at noise. The
    * permutation leaves the stopword letters in place and maps upper case
    * like lower case, so the quality gate and the case-folded fingerprints
    * give every copy the same verdicts.
    */
  def cipher(seed: Long, copy: Int): String =
    if (copy == 0) Alphabet
    else {
      val rnd = new Random(seed * 1000003L + copy * 104729L)
      val free = lower.filterNot(fixed.contains(_))
      val perm = free.zip(rnd.shuffle(free.toVector)).toMap
      val lo = lower.map(c => perm.getOrElse(c, c))
      lo + lo.toUpperCase + rnd.shuffle(digits.toVector).mkString
    }

  /** `copies` cipher copies of `base`, ids offset by [[CopyOffset]]. */
  def corpus(base: DataFrame, seed: Long, copies: Int): DataFrame =
    (0 until copies).map { c =>
      base.withColumn("doc_id", col("doc_id") + lit(c * CopyOffset))
        .withColumn("text", translate(col("text"), Alphabet, cipher(seed, c)))
    }.reduce(_ unionByName _)

  /** A seeded unit-variance vector of `dim` dimensions for `id`. */
  def vector(seed: Long, id: Long, dim: Int): Array[Float] = {
    val rnd = new Random(seed * 7919L + id)
    Array.fill(dim)(rnd.nextGaussian().toFloat)
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def fresh(p: Path): Path = { delete(p); Files.createDirectories(p) }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
