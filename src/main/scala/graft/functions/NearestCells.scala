package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Top-`nProbe` nearest centroids in ONE fused expression — the probe
  * list counterpart of [[NearestCentroid]] (which is the `nProbe = 1`
  * case). The centroid matrix rides along as a referenced row-major
  * `double[]` and each input row runs a single `k × dim`
  * squared-Euclidean loop with an `nProbe`-slot insertion sort — a
  * per-row map with ZERO shuffle.
  *
  * This replaces the query-side
  * `crossJoin(broadcast(centroids)) → _cdist → row_number().over(
  * Window.partitionBy(query_id)) ≤ nProbe` plan in `ivfTopK`/batch
  * probing: the window's hash exchange carries queries × cells rows —
  * fine for a handful of probe vectors, but a 1M-query batch at 4096
  * auto-sized cells is 4×10⁹ exchanged rows for what is per-row
  * arithmetic. Same fix family as [[LinearScoreMatrix]]/[[SrpBandKeys]]:
  * the compact loop stays JIT-compiled at any cell count.
  *
  * Semantics match the window plan exactly: cells ordered by ascending
  * distance, ties broken by ascending cell id (insertion with strict
  * `<` over ascending-id rows), output = the `nProbe` winning cell ids
  * IN RANK ORDER. Short/over-long input rows score the overlapping
  * prefix (missing coords read as 0.0), as in [[NearestCentroid]];
  * callers guard exact dimensions themselves. A null row is null.
  */
case class NearestCells(child: Expression, centroids: Doubles,
                        cellIds: Ints, dim: Int, nProbe: Int)
  extends UnaryExpression {

  require(dim > 0 && cellIds.length > 0 &&
    centroids.length == cellIds.length * dim,
    s"centroid matrix ${centroids.length} != ${cellIds.length} cells × $dim")
  require(nProbe > 0, s"nProbe must be positive, got $nProbe")

  private val k = cellIds.length
  private val p = math.min(nProbe, k)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells needs array<double>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    val bestD = Array.fill(p)(Double.MaxValue)
    val bestC = new Array[Int](p)
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
      if (d < bestD(p - 1)) { // strict <: ties keep the earlier (lower) id
        var s = p - 1
        while (s > 0 && d < bestD(s - 1)) {
          bestD(s) = bestD(s - 1); bestC(s) = bestC(s - 1); s -= 1
        }
        bestD(s) = d; bestC(s) = c
      }
      c += 1
    }
    // NaN distances never insert (NaN < x is false); unfilled slots keep
    // Double.MaxValue — truncate them rather than emit a garbage cell id
    // that downstream explode+join would duplicate
    var filled = 0
    while (filled < p && bestD(filled) != Double.MaxValue) filled += 1
    new GenericArrayData(Array.tabulate(filled)(i => cellIds(bestC(i))))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids.values, "double[]")
    val idRef = ctx.addReferenceObj("cellIds", cellIds.values, "int[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val bestD = ctx.freshName("bestD")
      val bestC = ctx.freshName("bestC")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val base = ctx.freshName("base")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $dim);
         |double[] $bestD = new double[$p];
         |int[] $bestC = new int[$p];
         |java.util.Arrays.fill($bestD, Double.MAX_VALUE);
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
         |  if ($d < $bestD[$p - 1]) {
         |    int $s = $p - 1;
         |    while ($s > 0 && $d < $bestD[$s - 1]) {
         |      $bestD[$s] = $bestD[$s - 1]; $bestC[$s] = $bestC[$s - 1]; $s--;
         |    }
         |    $bestD[$s] = $d; $bestC[$s] = $c;
         |  }
         |}
         |int ${s}f = 0;
         |while (${s}f < $p && $bestD[${s}f] != Double.MAX_VALUE) { ${s}f++; }
         |int[] $out = new int[${s}f];
         |for (int $i = 0; $i < ${s}f; $i++) { $out[$i] = $idRef[$bestC[$i]]; }
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {
  /** Column API over (cellId, centroid) pairs; rows are re-sorted by cell
    * id ascending so the strict-`<` insertion reproduces the
    * lowest-id-on-tie ordering of the window plan it replaces.
    */
  def apply(c: Column, centroids: Seq[(Int, Seq[Double])], nProbe: Int): Column = {
    require(centroids.nonEmpty, "empty centroid set")
    val dim = centroids.head._2.length
    require(centroids.forall(_._2.length == dim),
      "centroid rows must be equal length")
    val sorted = centroids.sortBy(_._1)
    GraftSqlBridge.column(NearestCells(GraftSqlBridge.expression(c),
      new Doubles(sorted.iterator.flatMap(_._2).toArray),
      new Ints(sorted.map(_._1).toArray), dim, nProbe))
  }
}
