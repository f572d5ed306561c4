package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * Whole-stage-codegen'd (doGenCode emits a fused primitive loop — no
  * boxing, no UDF serialization), which is what makes brute-force ANN
  * scans viable: at 100 TB the similarity kernel runs inside the same
  * generated loop as the scan and top-k.
  *
  * Numeric contract: each float is widened to double, then dot/norms
  * accumulate in doubles in index order — bit-identical to the DuckDB
  * oracle's `sum(CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE))` form.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity needs two array<float> args, got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.sim(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The generated loop above, for interpreted eval and the driver-side SemDeDup. */
  def sim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Cosine similarity of a float vector against a double vector (the
  * IVF centroid path: corpus/query vectors are float, fitted centroids
  * are double). Same accumulate order as [[CosineSimilarity]] and as the
  * oracle's `aggregate(zip_with(...))` form — bit-identical results. */
case class CosineSimilarityFD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity_fd needs (array<float>, array<double>), got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarityFD.sim(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityFD =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityFD {
  /** The generated loop above, for interpreted eval and the driver-side k-means. */
  def sim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Cosine similarity of two double vectors (fitted fine centroids vs
  * fitted coarse centroids in the two-level IVF assignment). Same
  * accumulate order and zero-denominator contract as
  * [[CosineSimilarity]]/[[CosineSimilarityFD]]. */
case class CosineSimilarityDD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity_dd needs (array<double>, array<double>), got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityDD =
    copy(left = newLeft, right = newRight)
}

/** Element-wise ordered sum of a vector field across an array of
  * structs: `xs: array<struct<…, f: array<float|double>, …>>` →
  * `array<double>[dim]` with out(d) = Σ_i xs(i).f(d), the i-loop in
  * ELEMENT ORDER — bit-identical to the per-dimension SQL fold
  * `aggregate(xs, 0D, (acc, m) -> acc + m.f[d])` (IEEE addition order
  * per dimension is the same), which is the form the DuckDB oracles
  * keep.
  *
  * Replaces the `transform(sequence(0, dim-1), d -> aggregate(xs, …))`
  * HOF tree in the Lloyd centroid update: HOFs evaluate interpreted
  * (CodegenFallback path) with per-element boxing, so the old form
  * cost dim × |xs| boxed lambda invocations per row — the dominant CPU
  * of every k-means consumer (IVF fit/refit, SemDeDup). One native
  * pass touches each value once, inside whole-stage codegen.
  *
  * Rows whose `f` is shorter than `dim` throw (same as ANSI-mode
  * `m.f[d]` out-of-range); the call sites always pass fixed-width
  * vectors.
  */
case class VecStructSumExpr(child: Expression, field: String, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StructType

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val (ordinal, nFields, isFloat) = {
    val st = child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val i = st.fieldIndex(field)
    val et = st(i).dataType.asInstanceOf[ArrayType].elementType
    (i, st.size, et == FloatType)
  }

  override def nullSafeEval(input: Any): Any =
    VecStructSumExpr.sum(input.asInstanceOf[ArrayData], ordinal, nFields,
      isFloat, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.VecStructSumExpr.sum(" +
        s"$c, $ordinal, $nFields, $isFloat, $dim)")

  override protected def withNewChildInternal(newChild: Expression): VecStructSumExpr =
    copy(child = newChild)
}

object VecStructSumExpr {
  /** Per-row kernel — static so generated code calls it directly. */
  def sum(xs: ArrayData, ord: Int, nFields: Int, isFloat: Boolean,
      dim: Int): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Double](dim)
    var i = 0
    while (i < n) {
      val vec = xs.getStruct(i, nFields).getArray(ord)
      // explicit range check: UnsafeArrayData reads out of range are
      // undefined, while the SQL fold this replaces throws under ANSI
      if (vec.numElements() < dim)
        throw new ArrayIndexOutOfBoundsException(dim - 1)
      var d = 0
      if (isFloat) {
        while (d < dim) { out(d) += vec.getFloat(d).toDouble; d += 1 }
      } else {
        while (d < dim) { out(d) += vec.getDouble(d); d += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def column(c: Column, field: String, dim: Int): Column =
    org.apache.spark.sql.GraftNative.column(VecStructSumExpr(
      org.apache.spark.sql.GraftNative.expression(c), field, dim))
}

/** Weighted ordered sum of a vector field across an array of structs:
  * out(d) = Σ_i xs(i).wField * xs(i).vecField(d), the i-loop in element
  * order — bit-identical to the per-dimension fold
  * `aggregate(xs, 0D, (acc, m) -> acc + m.w * m.v[d])` (same multiply,
  * same IEEE addition order per dimension). The power-iteration step of
  * [[graft.operators.Pca]]: the SQL HOF form cost dim × |xs| interpreted
  * boxed lambda calls per chunk row. */
case class VecStructWeightedSumExpr(child: Expression, vecField: String,
    wField: String, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StructType

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val (vecOrd, wOrd, nFields) = {
    val st = child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    (st.fieldIndex(vecField), st.fieldIndex(wField), st.size)
  }

  override def nullSafeEval(input: Any): Any =
    VecStructWeightedSumExpr.sum(input.asInstanceOf[ArrayData], vecOrd,
      wOrd, nFields, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.VecStructWeightedSumExpr.sum(" +
        s"$c, $vecOrd, $wOrd, $nFields, $dim)")

  override protected def withNewChildInternal(
      newChild: Expression): VecStructWeightedSumExpr = copy(child = newChild)
}

object VecStructWeightedSumExpr {
  def sum(xs: ArrayData, vecOrd: Int, wOrd: Int, nFields: Int,
      dim: Int): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Double](dim)
    var i = 0
    while (i < n) {
      val row = xs.getStruct(i, nFields)
      val w = row.getDouble(wOrd)
      val vec = row.getArray(vecOrd)
      if (vec.numElements() < dim)
        throw new ArrayIndexOutOfBoundsException(dim - 1)
      var d = 0
      while (d < dim) { out(d) += w * vec.getDouble(d); d += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def column(c: Column, vecField: String, wField: String, dim: Int): Column =
    org.apache.spark.sql.GraftNative.column(VecStructWeightedSumExpr(
      org.apache.spark.sql.GraftNative.expression(c), vecField, wField, dim))
}

/** Ordered sum of a scalar double field across an array of structs:
  * Σ_i xs(i).field in element order — bit-identical to
  * `aggregate(xs, 0D, (acc, m) -> acc + m.f)`. The scalar chunk folds of
  * [[graft.operators.Pca]] (per-chunk variance partials). */
case class ScalarStructSumExpr(child: Expression, field: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StructType

  override def dataType: DataType = DoubleType

  @transient private lazy val (ordinal, nFields) = {
    val st = child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    (st.fieldIndex(field), st.size)
  }

  override def nullSafeEval(input: Any): Any =
    ScalarStructSumExpr.sum(input.asInstanceOf[ArrayData], ordinal, nFields)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ScalarStructSumExpr.sum(" +
        s"$c, $ordinal, $nFields)")

  override protected def withNewChildInternal(
      newChild: Expression): ScalarStructSumExpr = copy(child = newChild)
}

object ScalarStructSumExpr {
  def sum(xs: ArrayData, ord: Int, nFields: Int): Double = {
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += xs.getStruct(i, nFields).getDouble(ord); i += 1 }
    acc
  }

  def column(c: Column, field: String): Column =
    org.apache.spark.sql.GraftNative.column(ScalarStructSumExpr(
      org.apache.spark.sql.GraftNative.expression(c), field))
}

/** Ordered dot product of a centered row against a direction:
  * Σ_d (v(d) − mu(d)) · p(d), d ascending — bit-identical to
  * `aggregate(sequence(0, dim-1), 0D, (acc, d) -> acc + (v[d]-mu[d])*p[d])`.
  * All three args array<double>. The per-row projection of
  * [[graft.operators.Pca]] — the SQL HOF ran dim interpreted boxed
  * lambda calls per corpus row per pass. */
case class CenteredDotExpr(first: Expression, second: Expression,
    third: Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any, mu: Any, p: Any): Any =
    CenteredDotExpr.dot(v.asInstanceOf[ArrayData], mu.asInstanceOf[ArrayData],
      p.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, mu, p) =>
      s"graft.functions.expressions.CenteredDotExpr.dot($v, $mu, $p, $dim)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): CenteredDotExpr = copy(first = f, second = s, third = t)
}

object CenteredDotExpr {
  def dot(v: ArrayData, mu: ArrayData, p: ArrayData, dim: Int): Double = {
    if (v.numElements() < dim || mu.numElements() < dim ||
        p.numElements() < dim)
      throw new ArrayIndexOutOfBoundsException(dim - 1)
    var acc = 0.0
    var d = 0
    while (d < dim) {
      acc += (v.getDouble(d) - mu.getDouble(d)) * p.getDouble(d); d += 1
    }
    acc
  }

  def column(v: Column, mu: Column, p: Column, dim: Int): Column =
    org.apache.spark.sql.GraftNative.column(CenteredDotExpr(
      org.apache.spark.sql.GraftNative.expression(v),
      org.apache.spark.sql.GraftNative.expression(mu),
      org.apache.spark.sql.GraftNative.expression(p), dim))
}

/** Squared norm of the centered row: Σ_d (v(d) − mu(d))², d ascending —
  * bit-identical to the HOF fold with the same subtract-multiply. */
case class CenteredNorm2Expr(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any, mu: Any): Any =
    CenteredNorm2Expr.norm2(v.asInstanceOf[ArrayData],
      mu.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, mu) =>
      s"graft.functions.expressions.CenteredNorm2Expr.norm2($v, $mu, $dim)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CenteredNorm2Expr =
    copy(left = newLeft, right = newRight)
}

object CenteredNorm2Expr {
  def norm2(v: ArrayData, mu: ArrayData, dim: Int): Double = {
    if (v.numElements() < dim || mu.numElements() < dim)
      throw new ArrayIndexOutOfBoundsException(dim - 1)
    var acc = 0.0
    var d = 0
    while (d < dim) {
      val x = v.getDouble(d) - mu.getDouble(d)
      acc += x * x; d += 1
    }
    acc
  }

  def column(v: Column, mu: Column, dim: Int): Column =
    org.apache.spark.sql.GraftNative.column(CenteredNorm2Expr(
      org.apache.spark.sql.GraftNative.expression(v),
      org.apache.spark.sql.GraftNative.expression(mu), dim))
}

/** Element-wise difference out(d) = a(d) − b(d) over array<double> —
  * bit-identical to `transform(sequence(0, dim-1), d -> a[d] - b[d])`. */
case class VecSubExpr(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    VecSubExpr.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.VecSubExpr.sub($a, $b, $dim)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubExpr =
    copy(left = newLeft, right = newRight)
}

object VecSubExpr {
  def sub(a: ArrayData, b: ArrayData, dim: Int): ArrayData = {
    if (a.numElements() < dim || b.numElements() < dim)
      throw new ArrayIndexOutOfBoundsException(dim - 1)
    val out = new Array[Double](dim)
    var d = 0
    while (d < dim) { out(d) = a.getDouble(d) - b.getDouble(d); d += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def column(a: Column, b: Column, dim: Int): Column =
    org.apache.spark.sql.GraftNative.column(VecSubExpr(
      org.apache.spark.sql.GraftNative.expression(a),
      org.apache.spark.sql.GraftNative.expression(b), dim))
}

/** Remove a scaled direction: out(d) = v(d) − w · p(d) — bit-identical
  * to `transform(sequence(0, dim-1), d -> v[d] - w * p[d])` (the
  * all-but-the-top whitening transform). `w` is a scalar double. */
case class AxpySubExpr(first: Expression, second: Expression,
    third: Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any, w: Any, p: Any): Any =
    AxpySubExpr.axpy(v.asInstanceOf[ArrayData], w.asInstanceOf[Double],
      p.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, w, p) =>
      s"graft.functions.expressions.AxpySubExpr.axpy($v, $w, $p, $dim)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): AxpySubExpr = copy(first = f, second = s, third = t)
}

object AxpySubExpr {
  def axpy(v: ArrayData, w: Double, p: ArrayData, dim: Int): ArrayData = {
    if (v.numElements() < dim || p.numElements() < dim)
      throw new ArrayIndexOutOfBoundsException(dim - 1)
    val out = new Array[Double](dim)
    var d = 0
    while (d < dim) { out(d) = v.getDouble(d) - w * p.getDouble(d); d += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def column(v: Column, w: Column, p: Column, dim: Int): Column =
    org.apache.spark.sql.GraftNative.column(AxpySubExpr(
      org.apache.spark.sql.GraftNative.expression(v),
      org.apache.spark.sql.GraftNative.expression(w),
      org.apache.spark.sql.GraftNative.expression(p), dim))
}

/** Squared L2 between two equal-length double arrays, folded in index
  * order — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, (acc,v) -> acc+v)`
  * (same subtract/multiply per index, same addition order). The
  * assignment inner loop of [[graft.operators.ProductQuant]] — the SQL
  * HOF pair ran interpreted per (row × codebook-entry) pair. Unequal
  * lengths throw loudly (the SQL zip_with would null-pad and poison the
  * fold; every call site passes fixed-width subvectors). */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any =
    SqDistExpr.sqDist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.SqDistExpr.sqDist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

object SqDistExpr {
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"sq_dist arity mismatch: $n vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d; i += 1
    }
    acc
  }

  def column(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftNative.column(SqDistExpr(
      org.apache.spark.sql.GraftNative.expression(a),
      org.apache.spark.sql.GraftNative.expression(b)))
}

/** ADC table-lookup sum: Σ over code structs of dt(j·nCodes + cluster),
  * in element order — bit-identical to
  * `aggregate(cs, 0D, (acc, c) -> acc + dt[c.j * nCodes + c.cluster])`,
  * including the null contract (a null table entry nulls the sum, as
  * `acc + NULL` does). The per-(candidate × query) scoring loop of the
  * PQ scan. */
case class AdcSumExpr(left: Expression, right: Expression, nCodes: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(cs: Any, dt: Any): Any =
    AdcSumExpr.adc(cs.asInstanceOf[ArrayData], dt.asInstanceOf[ArrayData],
      nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, dt) => {
      val v = ctx.freshName("v")
      s"""
         |java.lang.Double $v = graft.functions.expressions.AdcSumExpr.adc(
         |  $cs, $dt, $nCodes);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $v.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumExpr =
    copy(left = newLeft, right = newRight)
}

object AdcSumExpr {
  def adc(cs: ArrayData, dt: ArrayData, nCodes: Int): java.lang.Double = {
    val n = cs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val c = cs.getStruct(i, 2)
      val idx = c.getInt(0) * nCodes + c.getInt(1)
      if (idx < 0 || idx >= dt.numElements())
        throw new ArrayIndexOutOfBoundsException(idx)
      if (dt.isNullAt(idx)) return null
      acc += dt.getDouble(idx)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def column(cs: Column, dt: Column, nCodes: Int): Column =
    org.apache.spark.sql.GraftNative.column(AdcSumExpr(
      org.apache.spark.sql.GraftNative.expression(cs),
      org.apache.spark.sql.GraftNative.expression(dt), nCodes))
}

/** Squared norm of a float vector, widened per element and folded in
  * index order — bit-identical to
  * `aggregate(vec, 0D, (a, x) -> a + cast(x as double) * x)`. The
  * per-row zero-norm guard of the SemDeDup witness pass. */
case class Norm2FExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    Norm2FExpr.norm2(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.Norm2FExpr.norm2($c)")

  override protected def withNewChildInternal(newChild: Expression): Norm2FExpr =
    copy(child = newChild)
}

object Norm2FExpr {
  def norm2(v: ArrayData): Double = {
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      acc += x * x; i += 1
    }
    acc
  }

  def column(v: Column): Column =
    org.apache.spark.sql.GraftNative.column(Norm2FExpr(
      org.apache.spark.sql.GraftNative.expression(v)))
}
