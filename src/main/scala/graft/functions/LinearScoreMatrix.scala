package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** All linear class scores of a feature row in ONE fused expression:
  * `result(c) = bias_c + Σ_j W(c)(j) · x(j)` with the weight matrix held
  * row-major as a single referenced double[] (each row `stride` long,
  * bias LAST — the LogRegModel layout).
  *
  * One LinearScore column per class is the same huge-method JIT cliff as
  * the per-plane SRP signature build (SrpBandKeys): past a few dozen
  * classes the generated projection's inlined dot loops outgrow the
  * JVM's ~8 KB JIT threshold and the stage silently runs interpreted.
  * One compact double loop stays JIT-compiled at any class count.
  *
  * Rows shorter than `stride - 1` score only the present prefix
  * (LinearScore's rule); null elements are skipped; a null row is null.
  */
case class LinearScoreMatrix(child: Expression, weights: Doubles,
                             nClasses: Int)
  extends UnaryExpression {

  require(nClasses > 0 && weights.length % nClasses == 0,
    s"weights length ${weights.length} is not a multiple of $nClasses classes")
  private val stride = weights.length / nClasses // d + 1, bias last

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"linear_score_matrix needs array<double>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), stride - 1)
    val out = new Array[Double](nClasses)
    var c = 0
    while (c < nClasses) {
      val base = c * stride
      var s = weights(base + stride - 1)
      var j = 0
      while (j < n) {
        if (!x.isNullAt(j)) s += weights(base + j) * x.getDouble(j)
        j += 1
      }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("weights", weights.values, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), ${stride - 1});
         |double[] $out = new double[$nClasses];
         |for (int $c = 0; $c < $nClasses; $c++) {
         |  int $base = $c * $stride;
         |  double $s = $wRef[$base + ${stride - 1}];
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!$x.isNullAt($j)) $s += $wRef[$base + $j] * $x.getDouble($j);
         |  }
         |  $out[$c] = $s;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LinearScoreMatrix =
    copy(child = newChild)
}

object LinearScoreMatrix {
  /** Column API over a k × (d+1) weight matrix (bias last per row). */
  def apply(c: Column, weights: Array[Array[Double]]): Column = {
    require(weights.nonEmpty && weights.map(_.length).distinct.length == 1,
      "weight rows must be non-empty and equal length")
    GraftSqlBridge.column(LinearScoreMatrix(GraftSqlBridge.expression(c),
      new Doubles(weights.flatten), weights.length))
  }
}
