package graft.expr

import com.google.common.hash.Hashing

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BigQuery-parity FARM_FINGERPRINT as a native Catalyst expression
  * (ref: stg_order.sql:88-102, stg_product.sql:40-41, mart_dim_customer.sql:67).
  *
  * Wraps Guava's FarmHash Fingerprint64 — the same function BigQuery uses —
  * so surrogate keys produced here match a BigQuery deployment bit-for-bit
  * (verified: farm_fingerprint('abc') = 2640714258260161385). Implements
  * `doGenCode` so the hash stays inside whole-stage codegen; no UDF
  * serialization or row boxing on the hot path.
  */
case class FarmFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"farm_fingerprint requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "farm_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    FarmFingerprint.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.FarmFingerprint.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): FarmFingerprint =
    copy(child = newChild)
}

object FarmFingerprint {

  /** Static entry point shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long =
    Hashing.farmHashFingerprint64().hashBytes(s.getBytes).asLong()
}
