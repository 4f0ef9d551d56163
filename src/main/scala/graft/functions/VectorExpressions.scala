package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Whole-stage-codegen'd vector kernels for the similarity-search surface.
  *
  * The brute-force ANN path evaluates |corpus| × |queries| dot products —
  * the hottest loop in the engine — so unlike the schema-recursive
  * converter (where CodegenFallback is the right call), these generate
  * tight primitive loops via doGenCode: no boxing, no lambda dispatch, and
  * they stay inside the surrounding WholeStageCodegen span instead of
  * forcing an eval() island like `aggregate(zip_with(...))` higher-order
  * functions do.
  *
  * Summation is a strict left-to-right fold, matching both the
  * `functions.aggregate` formulation and DuckDB's list_dot_product, so
  * results are bit-identical to the oracle-checked baseline.
  *
  * PRECONDITION (all kernels, double and long): array ELEMENTS must be
  * non-null. The kernels null-check the array arguments themselves
  * (nullSafeEval/nullSafeCodeGen) but read slots with getDouble/getLong,
  * which is undefined over null elements — a per-slot isNullAt branch in
  * the hottest loop in the engine would price every call for a case no
  * call site produces. Every registered call site builds its arrays from
  * non-null source columns (embeddings.vec; transform(...) over them),
  * where element nulls are impossible; a NEW call site whose element
  * nullability is not provable must filter/coalesce elements first.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
}

/** dot(a, b) = Σ a_i · b_i over min(len) elements, left-to-right. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖); 0.0 when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2sq_q(a, b) = Σ (a_i − b_i)² over min(len) elements — the EXACT
  * integer squared distance on the 10³ quantization grid (array<bigint>
  * inputs, bigint result). The silhouette/margin sweeps evaluate it
  * |sample| × |corpus| times; as an `aggregate(zip_with(...))`
  * higher-order function the fold is an eval() island — this kernel
  * keeps the loop inside WholeStageCodegen like its double cousins
  * above. Overflow bound: |q| ≤ 2¹⁰ per element ⇒ per-term ≤ 2²² and
  * 64-dim sums ≤ 2²⁸ — int64 headroom of 2³⁵ vectors' worth. */
case class L2SquaredQ(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_l2sq_q"
  override def dataType: DataType = LongType

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dv = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $dv = $a.getLong($i) - $b.getLong($i);
         |  $acc += $dv * $dv;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorExpressions {
  import ColumnBridge.{column, expression}

  def vec_dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def vec_cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def vec_l2sq_q(a: Column, b: Column): Column =
    column(L2SquaredQ(expression(a), expression(b)))
}
