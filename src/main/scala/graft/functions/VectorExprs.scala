package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the embedding dot product — the hot
  * scalar of every similarity-search query. The higher-order
  * `aggregate(zip_with(...))` form it replaces is interpreted (HOFs
  * don't participate in whole-stage codegen) and allocates a zipped
  * struct array per row-pair; this is a codegen'd tight loop over the
  * UnsafeArrayData buffers (SURVEY.md §7.3: preference (b), a custom
  * Expression with doGenCode, before any UDF).
  *
  * Float semantics mirror the HOF form exactly: each element is widened
  * to double BEFORE the multiply, products accumulate in ascending
  * index order — so query results (and the DuckDB oracle floats) are
  * bit-identical to the previous implementation. Element types may be
  * float or double independently per side (the LSH hyperplanes are
  * double literals against float embeddings). NULL result on length
  * mismatch or any NULL element, matching zip_with + aggregate. */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e) match {
      case FloatType | DoubleType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<float|double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    def getter(e: Expression, v: String, i: String): String =
      if (elemType(e) == FloatType) s"(double) $v.getFloat($i)"
      else s"$v.getDouble($i)"
    // The loop lives in its own generated function with a mutable null
    // flag, keeping each call site to two statements — inlining the
    // loop into a consume method that already carries large literal
    // arrays (the LSH hyperplanes) pushed Janino past its method-size
    // limit and silently dropped the whole stage to interpreted mode.
    val nullFlag = ctx.addMutableState("boolean", "dotProductNull")
    val fn = ctx.freshName("dotProduct")
    val arrCls = classOf[ArrayData].getName
    val fnName = ctx.addNewFunction(fn,
      s"""
         |private double $fn($arrCls a, $arrCls b) {
         |  $nullFlag = false;
         |  final int n = a.numElements();
         |  if (n != b.numElements()) { $nullFlag = true; return 0.0; }
         |  double s = 0.0;
         |  for (int i = 0; i < n; i++) {
         |    if (a.isNullAt(i) || b.isNullAt(i)) {
         |      $nullFlag = true; return 0.0;
         |    }
         |    s += ${getter(left, "a", "i")} * ${getter(right, "b", "i")};
         |  }
         |  return s;
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"""
         |${ev.value} = $fnName($l, $r);
         |${ev.isNull} = $nullFlag;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Signed sparse projection Σ_k emb[dims(k)]·signs(k) with the
  * hyperplane spec baked into the expression — one compact loop instead
  * of a chain of element_at·sign terms. The LSH bucket computation
  * (16 tables × 4 planes × 8 terms) as element_at chains generated
  * > 64 KB of Java in a single fused Generate stage once the stage's
  * other expressions stopped being CodegenFallback; this keeps each
  * plane to one two-statement call site. Multiplication order matches
  * the element_at form (emb·sign); terms accumulate in ascending k. */
case class SparseSignedDotExpr(child: Expression, dims: Seq[Int],
                               signs: Seq[Double])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(dims.length == signs.length)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sparse_signed_dot needs array<float|double>, got ${t.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    var s = 0.0
    var k = 0
    while (k < dims.length) {
      val d = dims(k)
      if (d >= a.numElements() || a.isNullAt(d)) return null
      val x = if (isFloat) a.getFloat(d).toDouble else a.getDouble(d)
      s += x * signs(k)
      k += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val dimsRef = ctx.addReferenceObj("dims", dims.toArray,
      "int[]")
    val signsRef = ctx.addReferenceObj("signs", signs.toArray,
      "double[]")
    val nullFlag = ctx.addMutableState("boolean", "sparseDotNull")
    val getter =
      if (isFloat) "(double) a.getFloat(d)" else "a.getDouble(d)"
    val fn = ctx.freshName("sparseSignedDot")
    val arrCls = classOf[ArrayData].getName
    val fnName = ctx.addNewFunction(fn,
      s"""
         |private double $fn($arrCls a) {
         |  $nullFlag = false;
         |  double s = 0.0;
         |  for (int k = 0; k < $dimsRef.length; k++) {
         |    final int d = $dimsRef[k];
         |    if (d >= a.numElements() || a.isNullAt(d)) {
         |      $nullFlag = true; return 0.0;
         |    }
         |    s += $getter * $signsRef[k];
         |  }
         |  return s;
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $fnName($c);
         |${ev.isNull} = $nullFlag;
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): SparseSignedDotExpr = copy(child = newChild)
}

/** Squared L2 distance Σ (a_i − b_i)² — the hot scalar of the IVF
  * quantizer's points×k assignment scan (EmbedQueries.lloyd). Same
  * posture as [[DotProductExpr]]: replaces the interpreted
  * `aggregate(zip_with(...))` fold with a codegen'd tight loop whose
  * float semantics are identical (widen-to-double per element, subtract,
  * square, accumulate in ascending order) — results and oracle floats
  * are bit-identical to the HOF form. */
case class L2DistSqExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e) match {
      case FloatType | DoubleType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_dist_sq needs array<float|double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    def getter(e: Expression, v: String, i: String): String =
      if (elemType(e) == FloatType) s"(double) $v.getFloat($i)"
      else s"$v.getDouble($i)"
    val nullFlag = ctx.addMutableState("boolean", "l2DistNull")
    val fn = ctx.freshName("l2DistSq")
    val arrCls = classOf[ArrayData].getName
    val fnName = ctx.addNewFunction(fn,
      s"""
         |private double $fn($arrCls a, $arrCls b) {
         |  $nullFlag = false;
         |  final int n = a.numElements();
         |  if (n != b.numElements()) { $nullFlag = true; return 0.0; }
         |  double s = 0.0;
         |  for (int i = 0; i < n; i++) {
         |    if (a.isNullAt(i) || b.isNullAt(i)) {
         |      $nullFlag = true; return 0.0;
         |    }
         |    final double d =
         |      ${getter(left, "a", "i")} - ${getter(right, "b", "i")};
         |    s += d * d;
         |  }
         |  return s;
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"""
         |${ev.value} = $fnName($l, $r);
         |${ev.isNull} = $nullFlag;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistSqExpr =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the native vector expressions. */
object Vectors {
  /** Codegen'd dot product over array<float|double> columns. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProductExpr(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd signed sparse projection Σ emb[dims(k)]·signs(k)
    * (0-based dims). */
  def sparseSignedDot(emb: Column, dims: Seq[Int],
                      signs: Seq[Double]): Column =
    GraftBridge.column(
      SparseSignedDotExpr(GraftBridge.expression(emb), dims, signs))

  /** Codegen'd squared L2 distance over array<float|double> columns. */
  def l2DistSq(a: Column, b: Column): Column =
    GraftBridge.column(
      L2DistSqExpr(GraftBridge.expression(a), GraftBridge.expression(b)))
}
