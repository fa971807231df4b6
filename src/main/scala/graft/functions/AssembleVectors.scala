package graft.functions

import org.apache.spark.SparkException
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, UserDefinedType}
import org.apache.spark.unsafe.Platform

/** Concatenate vector blocks into one ml `Vector` — Spark ML's
  * `VectorAssembler` (handleInvalid = "error") as ONE codegen'd
  * expression, bit-identical to it:
  *
  *  - blocks are VectorUDT columns or `array<double>` columns (an array
  *    block is the dense vector `array_to_vector` would make of it);
  *  - an entry is kept iff `value != 0.0`: `0.0` and `-0.0` are dropped,
  *    NaN and ±Inf kept (`Vector.foreachNonZero`);
  *  - the output size is the sum of the blocks' own sizes, and the output
  *    is sparse iff a sparse vector takes fewer bytes than a dense one
  *    (`Vector.compressedWithNNZ`), else dense with `+0.0` gaps;
  *  - a null block fails the row with VectorAssembler's own error.
  *
  * What it drops is VectorAssembler's cost: no Spark job reads the first
  * row to learn block sizes (the caller knows the width and passes it as
  * the column's `ml_attr` size), and no boxed `Row` of `Vector`s is built
  * per row — the blocks' serialized structs are read in place and the
  * output struct is written directly.
  */
case class AssembleVectors(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = SQLDataTypes.VectorType
  // never null (a null block throws), but declared nullable as
  // VectorAssembler's output column is, so the output schema is the same
  override def nullable: Boolean = true

  private def isVector(t: DataType): Boolean = t match {
    case udt: UserDefinedType[_] =>
      udt.userClass == classOf[org.apache.spark.ml.linalg.Vector]
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType).find {
      case ArrayType(DoubleType, _) => false
      case t => !isVector(t)
    } match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"assemble_vectors needs ml VectorUDT or array<double> blocks, got " +
          t.simpleString(10))
    }

  override def eval(input: InternalRow): Any = {
    val out = new VectorAssembly
    children.foreach { c =>
      val v = c.eval(input)
      if (v == null) VectorAssembly.nullBlock()
      else c.dataType match {
        case _: ArrayType => out.addArray(v.asInstanceOf[ArrayData])
        case _ => out.addVector(v.asInstanceOf[InternalRow])
      }
    }
    out.result()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[VectorAssembly].getName
    val out = ctx.addMutableState(cls, "assembly", v => s"$v = new $cls();",
      forceInline = true)
    val adds = children.map { c =>
      val e = c.genCode(ctx)
      val add = c.dataType match {
        case _: ArrayType => s"$out.addArray(${e.value});"
        case _ => s"$out.addVector(${e.value});"
      }
      s"""
         |${e.code}
         |if (${e.isNull}) $cls.nullBlock(); else $add
       """.stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(adds, "assembleBlocks")
    ev.copy(code =
      code"""
         |$out.reset();
         |$body
         |${CodeGenerator.javaType(dataType)} ${ev.value} = $out.result();
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AssembleVectors =
    copy(children = newChildren)
}

object AssembleVectors {
  /** Column API: the blocks assembled into the column `outCol`, whose
    * `ml_attr` metadata carries `width` attributes — the size
    * VectorAssembler would record, known here without reading a row.
    */
  def apply(blocks: Seq[Column], outCol: String, width: Int): Column =
    GraftSqlBridge.column(AssembleVectors(blocks.map(GraftSqlBridge.expression)))
      .as(outCol, new AttributeGroup(outCol, width).toMetadata())
}

/** One row's assembly, shared by the interpreted and generated paths. The
  * generated code keeps one per task and `reset()`s it per row; the entry
  * buffers grow and are reused, and `result()` copies out what it returns.
  */
final class VectorAssembly {
  private var indices = new Array[Int](64)
  private var values = new Array[Double](64)
  private var nnz = 0
  private var size = 0

  def reset(): Unit = { nnz = 0; size = 0 }

  private def reserve(n: Int): Unit = if (nnz + n > indices.length) {
    val cap = math.max(nnz + n, indices.length * 2)
    indices = java.util.Arrays.copyOf(indices, cap)
    values = java.util.Arrays.copyOf(values, cap)
  }

  @inline private def put(i: Int, v: Double): Unit =
    if (v != 0.0) { indices(nnz) = size + i; values(nnz) = v; nnz += 1 }

  /** A VectorUDT block in its serialized form:
    * `struct<type:tinyint, size:int, indices:array<int>, values:array<double>>`,
    * type 0 = sparse, 1 = dense.
    */
  def addVector(v: InternalRow): Unit = {
    val vs = v.getArray(3)
    val n = vs.numElements()
    reserve(n)
    if (v.getByte(0) == 0) {
      val is = v.getArray(2)
      var k = 0
      while (k < n) { put(is.getInt(k), vs.getDouble(k)); k += 1 }
      size += v.getInt(1)
    } else {
      var k = 0
      while (k < n) { put(k, vs.getDouble(k)); k += 1 }
      size += n
    }
  }

  /** An `array<double>` block, read as a dense vector. A null element has
    * no vector form (`array_to_vector` fails on it too).
    */
  def addArray(a: ArrayData): Unit = {
    val n = a.numElements()
    reserve(n)
    var k = 0
    while (k < n) {
      if (a.isNullAt(k)) throw new SparkException(
        s"null element at index $k of an array<double> vector block")
      put(k, a.getDouble(k))
      k += 1
    }
    size += n
  }

  /** The assembled vector, serialized; sparse iff
    * `12 * nnz + 28 < 8 * size + 12` — the byte sizes
    * `Vectors.getSparseSize`/`getDenseSize` compare.
    */
  def result(): InternalRow = {
    val row = new GenericInternalRow(4)
    if (12L * nnz + 28L < 8L * size + 12L) {
      row.setByte(0, 0)
      row.setInt(1, size)
      row.update(2, UnsafeArrayData.fromPrimitiveArray(
        indices, Platform.INT_ARRAY_OFFSET, nnz, 4))
      row.update(3, UnsafeArrayData.fromPrimitiveArray(
        values, Platform.DOUBLE_ARRAY_OFFSET, nnz, 8))
    } else {
      val dense = new Array[Double](size)
      var k = 0
      while (k < nnz) { dense(indices(k)) = values(k); k += 1 }
      row.setByte(0, 1)
      row.setNullAt(1)
      row.setNullAt(2)
      row.update(3, UnsafeArrayData.fromPrimitiveArray(dense))
    }
    row
  }
}

object VectorAssembly {
  /** VectorAssembler's error for a null block (handleInvalid = "error"). */
  def nullBlock(): Nothing = throw new SparkException(
    "Encountered null while assembling a row with handleInvalid = \"error\". Consider\n" +
      "removing nulls from dataset or using handleInvalid = \"keep\" or \"skip\".")
}
