package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Element-type dispatch shared by the vector expressions: each side may be
  * ARRAY<FLOAT> (stored embeddings) or ARRAY<DOUBLE> (computed centroids —
  * see x_kmeans_train). Reading a double slot with getFloat would silently
  * return garbage, so the accessor is chosen from the child's dataType. */
private[functions] object VecAccess {
  def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  def get(a: ArrayData, i: Int, double: Boolean): Double =
    if (double) a.getDouble(i) else a.getFloat(i).toDouble
  def gen(arr: String, i: String, double: Boolean): String =
    if (double) s"$arr.getDouble($i)" else s"((double) $arr.getFloat($i))"
}

/** Native Catalyst expression for the embedding-similarity hot path.
  *
  * Why a custom Expression (SURVEY.md §2.11 ladder): the built-in way to dot
  * two float arrays is `aggregate(zip_with(...))`, but SQL higher-order
  * functions are interpreted — they sit outside whole-stage codegen and
  * allocate a lambda frame per element. `GraftDot` generates a tight
  * primitive loop instead; callers build it with the typed
  * `graft.functions.dot` Column builder, so no session registers it. Semantics match the HOF left fold exactly
  * (ascending index, double accumulator) so results are bit-identical and
  * remain comparable to the DuckDB oracle.
  */
case class GraftDot(left: Expression, right: Expression)
  extends BinaryExpression {
  // inputs are ARRAY<FLOAT> or ARRAY<DOUBLE> by construction at the call
  // sites (VecAccess dispatches per side); ExpectsInputTypes is
  // unavailable outside org.apache.spark (private API)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xd = VecAccess.isDouble(left)
    val yd = VecAccess.isDouble(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += VecAccess.get(x, i, xd) * VecAccess.get(y, i, yd)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${VecAccess.gen(x, i, VecAccess.isDouble(left))}
         |        * ${VecAccess.gen(y, i, VecAccess.isDouble(right))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance — same rationale and loop shape as GraftDot. */
case class GraftL2(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xd = VecAccess.isDouble(left)
    val yd = VecAccess.isDouble(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = VecAccess.get(x, i, xd) - VecAccess.get(y, i, yd)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val dd = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dd = ${VecAccess.gen(x, i, VecAccess.isDouble(left))}
         |             - ${VecAccess.gen(y, i, VecAccess.isDouble(right))};
         |  $acc += $dd * $dd;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftL2 =
    copy(left = newLeft, right = newRight)
}
