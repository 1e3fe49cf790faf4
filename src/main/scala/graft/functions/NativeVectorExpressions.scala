package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Whole-stage-codegen'd kernels for the vector paths, exposed as
  * `VectorFunctions.{dot, sqDist, mahalanobis}` (and composed there into
  * euclidean / norm2 / cosine). Each emits a primitive loop over the
  * ArrayData buffers with zero allocation per row — at O(n²) pair volume
  * (near-dup, ANN) a `zip_with` fold's intermediate arrays dominated.
  *
  * Inputs must be array<double> (checked at analysis: the loops read
  * elements with `getDouble`). NULL semantics: unequal array lengths or
  * a null element yield NULL.
  */
abstract class BinaryDoubleArrayFold extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq.fill(2)(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  protected def scalarAccumulate(x: Double, y: Double): Double

  /** Java source accumulating into `acc` from element vars `x`,`y`. */
  protected def accumulateCode(acc: String, x: String, y: String): String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += scalarAccumulate(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    ${accumulateCode(acc, s"$a.getDouble($i)", s"$b.getDouble($i)")}
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
}

/** Σ a_i·b_i with no per-row allocation. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryDoubleArrayFold {
  protected def scalarAccumulate(x: Double, y: Double): Double = x * y
  protected def accumulateCode(acc: String, x: String, y: String): String =
    s"$acc += $x * $y;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dot_native"
}

/** Σ (a_i−b_i)² with no per-row allocation (squared Euclidean). */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryDoubleArrayFold {
  protected def scalarAccumulate(x: Double, y: Double): Double = (x - y) * (x - y)
  protected def accumulateCode(acc: String, x: String, y: String): String =
    s"double __t = $x - $y; $acc += __t * __t;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "sqdist_native"
}

/** Diagonal-σ Mahalanobis distance (zero-σ dims skipped,
  * code/bfr.py:119-126) as one codegen'd ternary kernel; BFR's k-way
  * assignment ([[NearestMahaExpr]]) repeats its per-dimension ops.
  * Length mismatches yield NULL like the binary kernels.
  */
case class MahalanobisExpr(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq.fill(3)(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def nullSafeEval(p: Any, c: Any, sd: Any): Any = {
    val xp = p.asInstanceOf[ArrayData]
    val xc = c.asInstanceOf[ArrayData]
    val xs = sd.asInstanceOf[ArrayData]
    val n = xp.numElements()
    if (n != xc.numElements() || n != xs.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xp.isNullAt(i) || xc.isNullAt(i) || xs.isNullAt(i)) return null
      val s = xs.getDouble(i)
      if (s != 0.0) {
        val z = (xp.getDouble(i) - xc.getDouble(i)) / s
        acc += z * z
      }
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, c, sd) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val sv = ctx.freshName("sv")
      val z = ctx.freshName("z")
      s"""
         |int $n = $p.numElements();
         |if ($n != $c.numElements() || $n != $sd.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($p.isNullAt($i) || $c.isNullAt($i) || $sd.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $sv = $sd.getDouble($i);
         |    if ($sv != 0.0) {
         |      double $z = ($p.getDouble($i) - $c.getDouble($i)) / $sv;
         |      $acc += $z * $z;
         |    }
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($acc); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "mahalanobis_native"
}

/** Argmin-cell assignment against a LITERAL center matrix in ONE codegen
  * loop — the large-k quantizer path (IVF k=256+). `Model.distances`
  * builds k separate kernels, which is ideal at BFR/k-means scale
  * (k ≤ ~16, each stays in whole-stage codegen) but generates k methods'
  * worth of code at k=256; this kernel is O(1) generated code for any k,
  * with the flattened matrix shipped once per task as a reference
  * object, not per-row literals.
  *
  * Tie rule matches `Model.labelFor` exactly: strict `<` — first minimum
  * wins. NULL semantics mirror the binary kernels: wrong dimensionality
  * or a null element yields NULL.
  */
case class ArgMinSqDistExpr(child: Expression, centers: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private val k = centers.length
  private val d = centers.headOption.map(_.length).getOrElse(0)
  @transient private lazy val flat: Array[Double] = centers.flatten

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != d) return null
    val xv = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (x.isNullAt(i)) return null
      xv(i) = x.getDouble(i)
      i += 1
    }
    var best = -1
    var bestD = Double.MaxValue
    var j = 0
    while (j < k) {
      var s = 0.0
      val off = j * d
      var t = 0
      while (t < d) { val z = xv(t) - flat(off + t); s += z * z; t += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val flatRef = ctx.addReferenceObj("centersFlat", flat, "double[]")
      val xv = ctx.freshName("xv")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val off = ctx.freshName("off")
      val s = ctx.freshName("s")
      val z = ctx.freshName("z")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      s"""
         |if ($a.numElements() != $d) { ${ev.isNull} = true; }
         |else {
         |  double[] $xv = new double[$d];
         |  for (int $i = 0; $i < $d; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $xv[$i] = $a.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    int $best = -1; double $bestD = Double.MAX_VALUE;
         |    for (int $j = 0; $j < $k; $j++) {
         |      double $s = 0.0;
         |      int $off = $j * $d;
         |      for (int $t = 0; $t < $d; $t++) {
         |        double $z = $xv[$t] - $flatRef[$off + $t]; $s += $z * $z;
         |      }
         |      if ($s < $bestD) { $bestD = $s; $best = $j; }
         |    }
         |    ${ev.value} = $best;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "argmin_sqdist_native"
}

/** Min squared distance against a LITERAL center matrix in one codegen
  * loop — the value twin of [[ArgMinSqDistExpr]] (identical scan order
  * and strict-`<` first-min semantics, returning the winning distance
  * instead of its index). Used by `Model.assign(withDist = true)` at
  * census-scaled quantizer k, where an `array_min` over k separate
  * kernels would generate k methods' worth of code.
  */
case class MinSqDistExpr(child: Expression, centers: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private val k = centers.length
  private val d = centers.headOption.map(_.length).getOrElse(0)
  @transient private lazy val flat: Array[Double] = centers.flatten

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != d) return null
    val xv = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (x.isNullAt(i)) return null
      xv(i) = x.getDouble(i)
      i += 1
    }
    var bestD = Double.MaxValue
    var j = 0
    while (j < k) {
      var s = 0.0
      val off = j * d
      var t = 0
      while (t < d) { val z = xv(t) - flat(off + t); s += z * z; t += 1 }
      if (s < bestD) bestD = s
      j += 1
    }
    bestD
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val flatRef = ctx.addReferenceObj("centersFlat", flat, "double[]")
      val xv = ctx.freshName("xv")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val off = ctx.freshName("off")
      val s = ctx.freshName("s")
      val z = ctx.freshName("z")
      val bestD = ctx.freshName("bestD")
      s"""
         |if ($a.numElements() != $d) { ${ev.isNull} = true; }
         |else {
         |  double[] $xv = new double[$d];
         |  for (int $i = 0; $i < $d; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $xv[$i] = $a.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    double $bestD = Double.MAX_VALUE;
         |    for (int $j = 0; $j < $k; $j++) {
         |      double $s = 0.0;
         |      int $off = $j * $d;
         |      for (int $t = 0; $t < $d; $t++) {
         |        double $z = $xv[$t] - $flatRef[$off + $t]; $s += $z * $z;
         |      }
         |      if ($s < $bestD) { $bestD = $s; }
         |    }
         |    ${ev.value} = $bestD;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "min_sqdist_native"
}

/** Fused BFR assignment kernel: nearest summary under the diagonal-σ
  * Mahalanobis distance against LITERAL (center, std) matrices, packed as
  * `(bestIndex << 1) | keepBit` in one codegen loop. Exactly replicates
  * the previous composition `array_min(array(maha_0..maha_{k-1}))` +
  * `array_position` + `best < threshold`:
  *
  *  - per-summary distance accumulates dimensions in order, skipping
  *    zero-σ dims, sqrt at the end — the same double ops in the same
  *    order as [[MahalanobisExpr]], so distances are bit-identical;
  *  - the min scan uses Double.compare (first strict minimum wins; NaN
  *    orders greatest) — `array_min`/`array_position` semantics; the
  *    distances are sqrt-nonnegative so the -0.0 corner cannot arise;
  *  - NULL iff the feature array is NULL, mis-dimensioned, or carries a
  *    NULL element — when any per-summary distance would have been NULL,
  *    ALL of them were (one shared feature input), so the composed
  *    label/keep were NULL too.
  *
  * Exists because the composed form embedded k·2·d literal leaves in the
  * plan (k=10, d=64 → ~1,300 nodes) and BFR builds 2-3 fresh such plans
  * per round — Catalyst analysis/optimization of those trees, re-run per
  * action, dominated the bench's BFR wall time. Here the matrices ride
  * along as reference objects: O(1) plan size and generated code for any
  * k, like [[ArgMinSqDistExpr]].
  */
case class NearestMahaExpr(child: Expression,
                           centers: Array[Array[Double]],
                           stds: Array[Array[Double]],
                           threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private val k = centers.length
  private val d = centers.headOption.map(_.length).getOrElse(0)
  require(centers.nonEmpty, "nearest-summary kernel needs at least one summary")
  require(stds.length == k && stds.forall(_.length == d),
    "centers/stds shape mismatch")
  @transient private lazy val ctrFlat: Array[Double] = centers.flatten
  @transient private lazy val stdFlat: Array[Double] = stds.flatten

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != d) return null
    val xv = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (x.isNullAt(i)) return null
      xv(i) = x.getDouble(i)
      i += 1
    }
    var best = -1
    var bestD = 0.0
    var j = 0
    while (j < k) {
      var acc = 0.0
      val off = j * d
      var t = 0
      while (t < d) {
        val s = stdFlat(off + t)
        if (s != 0.0) { val z = (xv(t) - ctrFlat(off + t)) / s; acc += z * z }
        t += 1
      }
      val dist = math.sqrt(acc)
      if (best < 0 || java.lang.Double.compare(dist, bestD) < 0) {
        bestD = dist; best = j
      }
      j += 1
    }
    val keep = java.lang.Double.compare(bestD, threshold) < 0
    ((best.toLong << 1) | (if (keep) 1L else 0L)).asInstanceOf[Any]
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ctrRef = ctx.addReferenceObj("nmCenters", ctrFlat, "double[]")
      val stdRef = ctx.addReferenceObj("nmStds", stdFlat, "double[]")
      val xv = ctx.freshName("xv")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val sv = ctx.freshName("sv")
      val z = ctx.freshName("z")
      val dist = ctx.freshName("dist")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      // a non-finite threshold (the hard cap's α = ∞) has no Java literal
      val thr = if (threshold.isInfinite || threshold.isNaN)
        s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(threshold)}L)"
      else threshold.toString
      s"""
         |if ($a.numElements() != $d) { ${ev.isNull} = true; }
         |else {
         |  double[] $xv = new double[$d];
         |  for (int $i = 0; $i < $d; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $xv[$i] = $a.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    int $best = -1; double $bestD = 0.0;
         |    for (int $j = 0; $j < $k; $j++) {
         |      double $acc = 0.0;
         |      int $off = $j * $d;
         |      for (int $t = 0; $t < $d; $t++) {
         |        double $sv = $stdRef[$off + $t];
         |        if ($sv != 0.0) {
         |          double $z = ($xv[$t] - $ctrRef[$off + $t]) / $sv;
         |          $acc += $z * $z;
         |        }
         |      }
         |      double $dist = java.lang.Math.sqrt($acc);
         |      if ($best < 0 || java.lang.Double.compare($dist, $bestD) < 0) {
         |        $bestD = $dist; $best = $j;
         |      }
         |    }
         |    ${ev.value} =
         |      (((long) $best) << 1) |
         |      (java.lang.Double.compare($bestD, $thr) < 0 ? 1L : 0L);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "nearest_maha_native"
}

object NativeVectorFunctions {
  private def toCol(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Codegen'd argmin cell against a literal center matrix — the
    * large-k quantizer assignment kernel (one loop, O(1) generated code
    * in k). Ties: first minimum, matching `KMeans.Model.labelFor`.
    */
  def argMinSqDistNative(features: Column, centers: Array[Array[Double]]): Column =
    toCol(ArgMinSqDistExpr(expr(features), centers))

  /** Codegen'd min squared distance against a literal center matrix —
    * the value twin of [[argMinSqDistNative]] for `withDist` assignment
    * at census-scaled quantizer k.
    */
  def minSqDistNative(features: Column, centers: Array[Array[Double]]): Column =
    toCol(MinSqDistExpr(expr(features), centers))

  /** Fused BFR nearest-summary kernel: `(bestIndex << 1) | keepBit`
    * against literal (center, std) matrices — see [[NearestMahaExpr]].
    */
  def nearestMahaNative(features: Column, centers: Array[Array[Double]],
                        stds: Array[Array[Double]], threshold: Double): Column =
    toCol(NearestMahaExpr(expr(features), centers, stds, threshold))
}
