package graft

import org.apache.spark.ml.feature.AssemblerBridge
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{AssembleVectors, ScaleVector}

/** `AssembleVectors` against VectorAssembler's own per-row kernel: the same
  * serialized vector (type byte, size, indices, value bits) for random
  * blocks — VectorUDT sparse and dense, and `array<double>` — of width 1
  * to 2^16, with zeros, `-0.0`, NaN, ±Inf and transformer weights, through
  * both the interpreted and the generated path.
  */
object VectorAssemblyProperties extends Properties("vector assembly") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(300)

  private val valueGen: Gen[Double] = Gen.frequency(
    4 -> Gen.oneOf(0.0, -0.0),
    4 -> Gen.choose(-3.0, 3.0),
    1 -> Gen.oneOf(1.0, -1.0, Double.MinPositiveValue),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  private val widthGen: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(1, 16),
    3 -> Gen.choose(17, 2048),
    1 -> Gen.choose(2049, 1 << 16))

  /** A block: its vector value, whether it is fed as `array<double>`, and a
    * transformer weight (1.0 = none).
    */
  final case class Block(v: Vector, asArray: Boolean, w: Double) {
    override def toString: String = {
      val kind = if (asArray) "array" else v.getClass.getSimpleName
      s"$kind(size=${v.size}, active=${v.toSparse.indices.take(8).mkString(",")}…, w=$w)"
    }
  }

  val blockGen: Gen[Block] = for {
    width <- widthGen
    nnz <- Gen.choose(0, math.min(width, 40))
    at <- Gen.pick(nnz, 0 until width).map(_.sorted.toArray)
    vs <- Gen.listOfN(nnz, valueGen).map(_.toArray)
    form <- Gen.frequency(3 -> "sparse", 2 -> "dense", 2 -> "array")
    w <- Gen.frequency(4 -> Gen.const(1.0), 1 -> Gen.oneOf(0.0, -0.5, 2.5, 1e-300))
  } yield {
    val sparse = Vectors.sparse(width, at, vs)
    Block(if (form == "sparse") sparse else sparse.toDense, form == "array", w)
  }

  /** The block as a weighted vector, as the Encoderizer feeds it: vectors
    * through `ScaleVector` (indices kept, values multiplied), arrays
    * through an element-wise multiply before `array_to_vector`.
    */
  private def weighted(b: Block): Vector = b.v match {
    case s: org.apache.spark.ml.linalg.SparseVector =>
      Vectors.sparse(s.size, s.indices, s.values.map(_ * b.w))
    case d => Vectors.dense(d.toArray.map(_ * b.w))
  }

  property("assemble_vectors = VectorAssembler.assemble, bit for bit") =
    forAll(Gen.choose(1, 6).flatMap(Gen.listOfN(_, blockGen))) { blocks =>
      val input = new GenericInternalRow(blocks.map { b =>
        if (b.asArray) new GenericArrayData(weighted(b).toArray)
        else VectorAssemblerOracle.serialize(b.v)
      }.toArray[Any])
      val children: Seq[Expression] = blocks.zipWithIndex.map { case (b, i) =>
        if (b.asArray) BoundReference(i, ArrayType(DoubleType, containsNull = false), true)
        else {
          val ref = BoundReference(i, SQLDataTypes.VectorType, nullable = true)
          if (b.w == 1.0) ref else ScaleVector(ref, b.w)
        }
      }
      val expr = AssembleVectors(children)
      val want = VectorAssemblerOracle.fields(AssemblerBridge.assemble(blocks.map(weighted)))
      val interpreted = VectorAssemblerOracle.fields(expr.eval(input).asInstanceOf[InternalRow])
      val generated = VectorAssemblerOracle.fields(
        GenerateUnsafeProjection.generate(Seq(expr)).apply(input).getStruct(0, 4))
      (Prop(interpreted == want) :| s"interpreted $interpreted\nwant $want") &&
        (Prop(generated == want) :| s"generated $generated\nwant $want")
    }

}

/** Whole frames against `VectorAssembler.transform` over the same blocks:
  * the assembled column row by row, and the `ml_attr` size of the two
  * columns. Fewer cases than [[VectorAssemblyProperties]]: each one runs
  * Spark jobs.
  */
object VectorAssemblyFrameProperties extends Properties("vector assembly frames") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(25)

  // the master of the specs that share this test JVM: whichever runs
  // first creates the context the others get
  private lazy val spark = SparkSession.builder().master("local[8]")
    .config("spark.ui.enabled", "false").getOrCreate()

  property("assembled column = VectorAssembler.transform, with its ml_attr size") =
    Prop.forAllNoShrink(Gen.choose(1, 4).flatMap(Gen.listOfN(_,
        VectorAssemblyProperties.blockGen.map(_.copy(asArray = false))))) { blocks =>
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      // row 0 holds the generated blocks; rows 1 and 2 a -0.0 and a NaN
      val rows = (0 until 3).map { r =>
        Row.fromSeq(r.toLong +: blocks.map { b =>
          if (r == 0) b.v else Vectors.sparse(b.v.size, Array(r % b.v.size),
            Array(if (r == 1) -0.0 else Double.NaN))
        })
      }
      val names = blocks.indices.map(i => s"b$i")
      val schema = StructType(StructField("id", LongType) +:
        names.map(StructField(_, SQLDataTypes.VectorType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val scaled = df.select(col("id") +: blocks.zip(names).map { case (b, n) =>
        (if (b.w == 1.0) col(n) else ScaleVector(col(n), b.w)).as(n)
      }: _*)
      val got = scaled.select(col("id"),
        AssembleVectors(names.map(col), "f", blocks.map(_.v.size).sum))
      val want = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(names.toArray).setOutputCol("f").transform(scaled)
      def attrs(d: org.apache.spark.sql.DataFrame) =
        org.apache.spark.ml.attribute.AttributeGroup.fromStructField(d.schema("f")).size
      val g = VectorAssemblerOracle.collect(got, "id", "f")
      val w = VectorAssemblerOracle.collect(want, "id", "f")
      (Prop(g == w) :| s"got $g\nwant $w") &&
        (Prop(attrs(got) == attrs(want)) :| s"ml_attr ${attrs(got)} vs ${attrs(want)}")
    }
}
