package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Nearest-centroid argmin in ONE fused expression: the centroid matrix
  * rides along as a referenced row-major `double[]` (rows sorted by cell
  * id ascending) and each input row does a single narrow
  * `k × dim` squared-Euclidean loop on its scan partition — the
  * assignment is a per-row map with ZERO shuffle.
  *
  * This replaces `appendToIvfIndex`'s original
  * `crossJoin(broadcast(centroids)) → zip_with/aggregate distance →
  * row_number().over(Window.partitionBy(id))` plan, whose window
  * exchange carried batch × cells candidate rows (up to 4096× the batch
  * bytes with auto-sized cells) before keeping `_rn = 1`. Same fix
  * family as [[LinearScoreMatrix]] (argmin instead of scores) and
  * [[SrpBandKeys]]: a compact double loop stays JIT-compiled at any
  * cell count where per-cell column fan-out would blow the ~8 KB
  * huge-method threshold.
  *
  * Semantics: ties break to the LOWEST cell id (strict `<` over
  * ascending-id rows — the determinism the window's
  * `orderBy(_cdist, _cell)` provided). Null/missing input elements
  * contribute 0.0 to the dot position (i.e. distance picks up the
  * centroid coordinate squared); a null row is null. Callers that need
  * exact-dimension semantics must guard sizes themselves — the
  * expression scores whatever prefix/padding it is handed rather than
  * silently producing null (the nulls-first-window misassignment bug
  * this fusion also removes).
  */
case class NearestCentroid(child: Expression, centroids: Doubles,
                           cellIds: Ints, dim: Int)
  extends UnaryExpression {

  require(dim > 0 && cellIds.length > 0 &&
    centroids.length == cellIds.length * dim,
    s"centroid matrix ${centroids.length} != ${cellIds.length} cells × $dim")

  private val k = cellIds.length

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid needs array<double>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var j = 0
      while (j < n) {
        val xj = if (x.isNullAt(j)) 0.0 else x.getDouble(j)
        val diff = xj - centroids(base + j)
        d += diff * diff
        j += 1
      }
      while (j < dim) { // short row: missing coords read as 0.0
        val diff = centroids(base + j)
        d += diff * diff
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    cellIds(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids.values, "double[]")
    val idRef = ctx.addReferenceObj("cellIds", cellIds.values, "int[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val base = ctx.freshName("base")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $dim);
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $k; $c++) {
         |  int $base = $c * $dim;
         |  double $d = 0.0;
         |  int $j = 0;
         |  for (; $j < $n; $j++) {
         |    double $diff = ($x.isNullAt($j) ? 0.0 : $x.getDouble($j))
         |      - $cRef[$base + $j];
         |    $d += $diff * $diff;
         |  }
         |  for (; $j < $dim; $j++) {
         |    double $diff = $cRef[$base + $j];
         |    $d += $diff * $diff;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $idRef[$best];
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** Column API over (cellId, centroid) pairs; rows are re-sorted by cell
    * id so the strict-`<` argmin reproduces the lowest-id tie-break.
    */
  def apply(c: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    require(centroids.nonEmpty, "empty centroid set")
    val dim = centroids.head._2.length
    require(centroids.forall(_._2.length == dim),
      "centroid rows must be equal length")
    val sorted = centroids.sortBy(_._1)
    GraftSqlBridge.column(NearestCentroid(GraftSqlBridge.expression(c),
      new Doubles(sorted.iterator.flatMap(_._2).toArray),
      new Ints(sorted.map(_._1).toArray), dim))
  }
}
