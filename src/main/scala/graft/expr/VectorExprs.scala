package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two float-array columns.
  *
  * Semantics are bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, (acc,x) -> acc+x)`:
  * left-to-right accumulation of exact double products of float32 values —
  * the form the DuckDB oracle mirrors. The expression exists purely for
  * speed: the higher-order-function version allocates a zipped ArrayData
  * per row-pair, which dominates quadratic similarity joins; this loops the
  * two ArrayData buffers directly inside whole-stage codegen (no
  * allocation, no virtual calls per element).
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "vec_dot requires two array<float> arguments")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FloatVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.FloatVecDot.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {

  /** Sequential fold, exact float→double products — oracle-portable. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}
