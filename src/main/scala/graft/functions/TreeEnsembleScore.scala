package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.exec.{CART, GBT}

/** All tree-ensemble output slots of a feature row in ONE fused,
  * codegen'd expression — the `TreeScore` family that retires the
  * per-row boxed UDFs on the data-parallel scoring paths (the regime
  * that exists precisely for 100 TB inputs, where every fold-task and
  * boosting stage re-scans the full distributed frame).
  *
  * The ensemble is held as flat referenced primitive arrays (the
  * `ModelIO.treeToJson` columnar layout): node `i` is a leaf iff
  * `left(i) < 0`; otherwise route left iff `x(feature(i)) <= threshold(i)`
  * — exactly `CART.TreeModel.leaf`. Per tree `t`, starting at node
  * `treeStart(t)`, the reached leaf's `stride`-wide value row is added
  * into the output at offset `treeOut(t)` scaled by `treeWeight(t)`;
  * `bias` seeds the accumulator and `outDiv` divides at the end, so each
  * model family's exact floating-point order is reproducible:
  *
  *  - single CART tree: 1 tree, weight 1, bias 0, outDiv 1 → the leaf
  *    value vector (= `TreeModel.predictProba`);
  *  - forest: T trees, weight 1, outDiv = T → mean of per-tree leaf
  *    vectors, summed in tree order then divided — bit-identical to
  *    `ForestModel.predictProba`'s `acc += p; acc /= T`;
  *  - GBT raw scores: stage-major trees with stride 1, `treeOut` = the
  *    class slot, weight = lr, bias = prior → `GBTModel.rawScores`'
  *    `out(c) += lr * stage(c).predict(x)` in the same order;
  *  - leaf-id mode: stride-1 "values" holding `leafId.toDouble` →
  *    `TreeModel.leafIndex` as a one-element array (the GBT Newton
  *    refit's grouping key).
  *
  * One compact double loop over referenced arrays: generated code size
  * is CONSTANT in ensemble size and depth (the data lives in reference
  * objects, not the source text), so there is no huge-method JIT cliff
  * at production tree counts — the same reasoning as
  * [[LinearScoreMatrix]] vs per-class inlined columns.
  *
  * Feature reads outside the row (short array) or null elements read as
  * NaN, which routes RIGHT (`NaN <= t` is false) — deterministic; the
  * retired UDF route threw on such rows, so any well-formed input agrees
  * bit-for-bit. A null row is null.
  */
case class TreeEnsembleScore(child: Expression,
                             feature: Ints, threshold: Doubles,
                             left: Ints, right: Ints,
                             leafValue: Doubles,
                             treeStart: Ints, treeOut: Ints,
                             treeWeight: Doubles,
                             bias: Doubles, stride: Int, outDiv: Double)
  extends UnaryExpression {

  private val nTrees = treeStart.length
  private val nOut = bias.length
  require(stride > 0 && nOut > 0, "stride and output width must be positive")
  require(treeOut.length == nTrees && treeWeight.length == nTrees,
    "treeStart/treeOut/treeWeight must be aligned")
  require(leafValue.length == feature.length * stride,
    s"leafValue carries ${leafValue.length} doubles for " +
      s"${feature.length} nodes at stride $stride")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tree_ensemble_score needs array<double>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Double](nOut)
    System.arraycopy(bias.values, 0, out, 0, nOut)
    var t = 0
    while (t < nTrees) {
      var i = treeStart(t)
      while (left(i) >= 0) {
        val f = feature(i)
        val xv = if (f < n && !x.isNullAt(f)) x.getDouble(f) else Double.NaN
        i = if (xv <= threshold(i)) left(i) else right(i)
      }
      val w = treeWeight(t)
      val base = i * stride
      val o = treeOut(t)
      var j = 0
      while (j < stride) { out(o + j) += w * leafValue(base + j); j += 1 }
      t += 1
    }
    if (outDiv != 1.0) {
      var j = 0
      while (j < nOut) { out(j) /= outDiv; j += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("feature", feature.values, "int[]")
    val thrRef = ctx.addReferenceObj("threshold", threshold.values, "double[]")
    val lRef = ctx.addReferenceObj("left", left.values, "int[]")
    val rRef = ctx.addReferenceObj("right", right.values, "int[]")
    val vRef = ctx.addReferenceObj("leafValue", leafValue.values, "double[]")
    val tsRef = ctx.addReferenceObj("treeStart", treeStart.values, "int[]")
    val toRef = ctx.addReferenceObj("treeOut", treeOut.values, "int[]")
    val twRef = ctx.addReferenceObj("treeWeight", treeWeight.values, "double[]")
    val bRef = ctx.addReferenceObj("bias", bias.values, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val i = ctx.freshName("i")
      val f = ctx.freshName("f")
      val xv = ctx.freshName("xv")
      val w = ctx.freshName("w")
      val base = ctx.freshName("base")
      val o = ctx.freshName("o")
      val j = ctx.freshName("j")
      s"""
         |int $n = $x.numElements();
         |double[] $out = new double[$nOut];
         |System.arraycopy($bRef, 0, $out, 0, $nOut);
         |for (int $t = 0; $t < $nTrees; $t++) {
         |  int $i = $tsRef[$t];
         |  while ($lRef[$i] >= 0) {
         |    int $f = $fRef[$i];
         |    double $xv = ($f < $n && !$x.isNullAt($f))
         |      ? $x.getDouble($f) : Double.NaN;
         |    $i = ($xv <= $thrRef[$i]) ? $lRef[$i] : $rRef[$i];
         |  }
         |  double $w = $twRef[$t];
         |  int $base = $i * $stride;
         |  int $o = $toRef[$t];
         |  for (int $j = 0; $j < $stride; $j++) {
         |    $out[$o + $j] += $w * $vRef[$base + $j];
         |  }
         |}
         |${if (outDiv != 1.0)
             s"for (int $j = 0; $j < $nOut; $j++) { $out[$j] /= $outDiv; }"
           else ""}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TreeEnsembleScore =
    copy(child = newChild)
}

object TreeEnsembleScore {

  /** Flat preorder node arrays of one tree (the `ModelIO.treeToJson`
    * walk), child ids offset by `off`; leaf value rows padded/truncated
    * to `stride` (internal nodes contribute a zero row). `leafIdMode`
    * stores `leafId.toDouble` as the stride-1 value instead.
    */
  private final class Flat(stride: Int, leafIdMode: Boolean) {
    val feature = scala.collection.mutable.ArrayBuffer.empty[Int]
    val threshold = scala.collection.mutable.ArrayBuffer.empty[Double]
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    val value = scala.collection.mutable.ArrayBuffer.empty[Double]
    val treeStart = scala.collection.mutable.ArrayBuffer.empty[Int]

    def add(t: CART.TreeModel): Unit = {
      treeStart += feature.length
      walk(t.root)
    }
    private def walk(nd: CART.Node): Int = {
      val id = feature.length
      feature += nd.feature; threshold += nd.threshold
      left += -1; right += -1
      var j = 0
      if (leafIdMode) value += (if (nd.isLeaf) nd.leafId.toDouble else 0.0)
      else while (j < stride) {
        value += (if (nd.value != null && j < nd.value.length) nd.value(j) else 0.0)
        j += 1
      }
      if (!nd.isLeaf) {
        val l = walk(nd.left); val r = walk(nd.right)
        left(id) = l; right(id) = r
      }
      id
    }
  }

  private def build(c: Column, flat: Flat, treeOut: Array[Int],
                    treeWeight: Array[Double], bias: Array[Double],
                    stride: Int, outDiv: Double): Column =
    GraftSqlBridge.column(TreeEnsembleScore(GraftSqlBridge.expression(c),
      new Ints(flat.feature.toArray), new Doubles(flat.threshold.toArray),
      new Ints(flat.left.toArray), new Ints(flat.right.toArray),
      new Doubles(flat.value.toArray), new Ints(flat.treeStart.toArray),
      new Ints(treeOut), new Doubles(treeWeight), new Doubles(bias), stride,
      outDiv))

  /** Leaf value vector of one tree: `TreeModel.predictProba` for a
    * classifier (length k), `Array(prediction)` for a regressor.
    */
  def tree(c: Column, t: CART.TreeModel): Column = {
    val stride = math.max(1, t.nClasses)
    val flat = new Flat(stride, leafIdMode = false)
    flat.add(t)
    build(c, flat, Array(0), Array(1.0), new Array[Double](stride), stride, 1.0)
  }

  /** `Array(TreeModel.leafIndex(x).toDouble)` — the Newton-refit
    * grouping key without a per-row UDF.
    */
  def leafId(c: Column, t: CART.TreeModel): Column = {
    val flat = new Flat(1, leafIdMode = true)
    flat.add(t)
    build(c, flat, Array(0), Array(1.0), Array(0.0), 1, 1.0)
  }

  /** `ForestModel.predictProba`: per-tree leaf vectors summed in tree
    * order, divided by the tree count at the end — the model's exact
    * float order. Regression (nClasses == 0) yields `Array(mean pred)`.
    */
  def forestProba(c: Column, m: graft.search.ForestModel): Column = {
    val stride = math.max(1, m.nClasses)
    val flat = new Flat(stride, leafIdMode = false)
    m.trees.foreach(flat.add)
    build(c, flat,
      new Array[Int](m.trees.length),
      Array.fill(m.trees.length)(1.0),
      new Array[Double](stride), stride, m.trees.length.toDouble)
  }

  /** `GBTModel.rawScores`: prior + lr * per-stage-class tree predictions,
    * accumulated stage-major (the model's own loop order, so the sums
    * round identically).
    */
  def gbtRaw(c: Column, m: GBT.GBTModel): Column = {
    val flat = new Flat(1, leafIdMode = false)
    val outs = scala.collection.mutable.ArrayBuffer.empty[Int]
    m.trees.foreach { stage =>
      stage.zipWithIndex.foreach { case (t, cls) =>
        flat.add(t); outs += cls
      }
    }
    build(c, flat, outs.toArray, Array.fill(outs.length)(m.lr),
      m.prior.clone(), 1, 1.0)
  }
}
