package graft

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector}
import org.apache.spark.sql.{functions, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, UserDefinedType}

import graft.encode.Encoderizer.{EncoderizerModel, TextHashStage}

/** The Encoderizer transform as it was built on Spark ML's
  * `VectorAssembler`, kept test-side as the oracle of the codegen'd
  * [[graft.functions.AssembleVectors]] path: same stages, same weights,
  * blocks made vectors with `array_to_vector`, assembled by
  * VectorAssembler (which reads the first row to size the blocks).
  */
object VectorAssemblerOracle {

  private def q(n: String) = col(s"`${n.replace("`", "``")}`")

  def text(stage: TextHashStage, df: DataFrame, outCol: String): DataFrame = {
    val (hashed, blocks, tmpCols) = stage.hashBlocks(df)
    new VectorAssembler().setInputCols(blocks.toArray).setOutputCol(outCol)
      .transform(hashed).drop(tmpCols: _*)
  }

  def transform(model: EncoderizerModel, df: DataFrame): DataFrame = {
    var out = df
    val blocks = model.stages.zipWithIndex.map { case (s, i) =>
      val c = s"_enc_$i"
      out = s match {
        case t: TextHashStage => text(t, out, c)
        case other => other.transform(out, c)
      }
      val w = model.weights.getOrElse(s.name, 1.0)
      out.schema(c).dataType match {
        case _: ArrayType if w == 1.0 => array_to_vector(col(c)).as(c)
        case _: ArrayType =>
          array_to_vector(functions.transform(col(c), e => e * w)).as(c)
        case _ if w == 1.0 => col(c).as(c)
        case _ => graft.functions.ScaleVector(col(c), w).as(c)
      }
    }
    val names = model.stages.indices.map(i => s"_enc_$i")
    new VectorAssembler().setInputCols(names.toArray).setOutputCol(model.featuresCol)
      .transform(out.select((df.columns.map(q).toSeq ++ blocks): _*))
      .drop(names: _*)
  }

  private val udt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]

  def serialize(v: Vector): InternalRow = udt.serialize(v).asInstanceOf[InternalRow]

  /** A serialized vector as comparable fields: type byte, size (sparse
    * only), indices (sparse only) and the raw bits of every value.
    */
  def fields(r: InternalRow): (Byte, Option[Int], Option[Seq[Int]], Seq[Long]) = (
    r.getByte(0),
    if (r.isNullAt(1)) None else Some(r.getInt(1)),
    if (r.isNullAt(2)) None else Some(r.getArray(2).toIntArray().toSeq),
    r.getArray(3).toDoubleArray().toSeq.map(java.lang.Double.doubleToRawLongBits))

  def fields(v: Vector): (Byte, Option[Int], Option[Seq[Int]], Seq[Long]) =
    fields(serialize(v))

  /** `features` of every row, keyed by `id`, as [[fields]]. */
  def collect(df: DataFrame, id: String, features: String)
      : Map[String, (Byte, Option[Int], Option[Seq[Int]], Seq[Long])] =
    df.select(col(id).cast("string"), col(features)).collect()
      .map(r => r.getString(0) -> fields(r.getAs[Vector](1))).toMap
}
