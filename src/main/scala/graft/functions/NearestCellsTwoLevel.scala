package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Top-`nProbe` nearest cells of a TWO-LEVEL (product-quantized, IMI-
  * style) coarse quantizer — the [[NearestCells]] counterpart for
  * indexes whose cell count exceeds the flat-codebook cap. A cell is a
  * pair (c1, c2) of sub-centroids over the vector's two dim-halves, with
  * id `c1 * k2 + c2`; its distance is `d1(c1) + d2(c2)`, which for
  * concatenated halves IS the full squared Euclidean to the concatenated
  * centroid — the same metric the one-level path ranks by, so assignment
  * (per-half argmin, see the quantizer's assign column) and probing
  * agree structurally: the per-half argmin pair is always the
  * lexicographically-first sum-minimal cell, hence every vector's own
  * cell is its rank-1 probe (the planted-twin oracle premise).
  *
  * Cost: k1·dim1 + k2·dim2 flops for the half-distance tables, then a
  * k1·k2 ADDITION sweep with an nProbe-slot insertion sort — at 16.7M
  * cells that is ~64× cheaper per query than a flat 16.7M × dim loop,
  * and the codebooks are 2·√cells·dim doubles instead of cells·dim
  * (2 MB vs 8.5 GB at the cap). Per-row map, ZERO shuffle.
  *
  * Semantics mirror [[NearestCells]] exactly: ascending (distance, cell
  * id) order via strict `<` insertion over ascending-id sweep, output in
  * rank order, short rows score the overlapping prefix (missing coords
  * read 0.0), NaN distances never insert (empty output for an all-NaN
  * row), null row is null.
  */
case class NearestCellsTwoLevel(child: Expression,
                                cents1: Doubles, cents2: Doubles,
                                dim1: Int, dim2: Int, nProbe: Int)
  extends UnaryExpression with CodegenFallback {

  require(dim1 > 0 && dim2 > 0 && cents1.length > 0 && cents2.length > 0 &&
    cents1.length % dim1 == 0 && cents2.length % dim2 == 0,
    s"codebooks ${cents1.length}/${cents2.length} not multiples of " +
      s"$dim1/$dim2")
  require(nProbe > 0, s"nProbe must be positive, got $nProbe")

  private val k1 = cents1.length / dim1
  private val k2 = cents2.length / dim2
  private val p = math.min(nProbe.toLong, k1.toLong * k2).toInt

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells_2l needs array<double>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nEl = x.numElements()
    val d1 = NearestCellsTwoLevel.halfDists(x, nEl, 0, dim1, cents1.values, k1)
    val d2 = NearestCellsTwoLevel.halfDists(x, nEl, dim1, dim2, cents2.values, k2)
    val bestD = Array.fill(p)(Double.MaxValue)
    val bestC = new Array[Int](p)
    var c1 = 0
    while (c1 < k1) {
      val a = d1(c1)
      var c2 = 0
      while (c2 < k2) {
        val d = a + d2(c2)
        if (d < bestD(p - 1)) { // strict <: ties keep the earlier (lower) id
          var s = p - 1
          while (s > 0 && d < bestD(s - 1)) {
            bestD(s) = bestD(s - 1); bestC(s) = bestC(s - 1); s -= 1
          }
          bestD(s) = d; bestC(s) = c1 * k2 + c2
        }
        c2 += 1
      }
      c1 += 1
    }
    var filled = 0
    while (filled < p && bestD(filled) != Double.MaxValue) filled += 1
    new GenericArrayData(Array.tabulate(filled)(bestC(_)))
  }

  // CodegenFallback (interpreted eval) is deliberate: this expression
  // sits on the QUERY side of a probe (a handful to a few million rows),
  // not on the corpus scan — the k1·k2 primitive sweep inside eval
  // dominates any per-row boxing, and keeping ONE eval path guarantees
  // probe/driver numeric identity (Similarity.TwoLevelQuantizer calls
  // halfDists directly).

  override protected def withNewChildInternal(
      newChild: Expression): NearestCellsTwoLevel = copy(child = newChild)
}

object NearestCellsTwoLevel {

  /** Squared-Euclidean distances of one dim-half of `x` (elements
    * [off, off+dim)) against a row-major codebook — the ONE half-distance
    * kernel shared by the expression eval and the driver-side ranking in
    * `Similarity.TwoLevelQuantizer` (identical accumulation order =
    * identical ULPs = probe ranking can never disagree with assignment).
    * Missing/null coords read 0.0, as in [[NearestCentroid]].
    */
  private[graft] def halfDists(x: ArrayData, nEl: Int, off: Int, dim: Int,
                               cents: Array[Double], k: Int): Array[Double] = {
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var j = 0
      while (j < dim) {
        val src = off + j
        val xj = if (src < nEl && !x.isNullAt(src)) x.getDouble(src) else 0.0
        val diff = xj - cents(base + j)
        d += diff * diff
        j += 1
      }
      out(c) = d
      c += 1
    }
    out
  }

  /** Same kernel over a plain double[] (driver-side queries). */
  private[graft] def halfDistsArr(x: Array[Double], off: Int, dim: Int,
                                  cents: Array[Double], k: Int): Array[Double] = {
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var j = 0
      while (j < dim) {
        val src = off + j
        val xj = if (src < x.length) x(src) else 0.0
        val diff = xj - cents(base + j)
        d += diff * diff
        j += 1
      }
      out(c) = d
      c += 1
    }
    out
  }

  def apply(c: Column, cents1: Array[Array[Double]],
            cents2: Array[Array[Double]], nProbe: Int): Column = {
    require(cents1.nonEmpty && cents2.nonEmpty, "empty codebook")
    val d1 = cents1.head.length
    val d2 = cents2.head.length
    GraftSqlBridge.column(NearestCellsTwoLevel(GraftSqlBridge.expression(c),
      new Doubles(cents1.flatten), new Doubles(cents2.flatten), d1, d2, nProbe))
  }
}
