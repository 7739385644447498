package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expressions for the hot inner loops of the similarity
  * operators (SURVEY §4.2): Spark's higher-order functions
  * (`zip_with`/`aggregate`) evaluate their lambdas interpreted, one boxed
  * element at a time — a 64-dim dot product per joined pair dominated the
  * brute-force cosine profile. `doGenCode` compiles the loop to primitive
  * Java inside whole-stage codegen (measured ~20× on the cosine top-k).
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = Math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += x.getLong(i) * y.getLong(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayOps {
  /** Exact integer dot product of two `ARRAY<BIGINT>` columns. */
  def longArrayDot(a: Column, b: Column): Column =
    Bridge.column(LongArrayDot(Bridge.expression(a), Bridge.expression(b)))

  /** The nProbe nearest IVF cell indices of a vector — see
    * [[NearestCellsExpr]]. */
  def nearestCells(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    Bridge.column(NearestCellsExpr(Bridge.expression(vec), centroids, nProbe))
}
