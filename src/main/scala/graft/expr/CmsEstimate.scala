package graft.expr

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.CountMinSketch

/** Point-frequency probe against a serialized [[CountMinSketch]], as a
  * native codegen expression: `cms_estimate(sketchBytes, key) -> bigint`.
  *
  * This is the broadcast-frequency primitive for per-key counts too large
  * to keep as exact state: a CMS over 10¹² events is a few MB regardless of
  * key cardinality — small enough to ride the closure to every task — and
  * its one-sided error (estimate ≥ true count, w.h.p. within ε·N) makes it
  * a sound PREFILTER: keys the sketch puts under a threshold are
  * definitively below it, so only the surviving candidate sliver proceeds
  * to an exact verify aggregation (see `approx_heavy_hitters`). The first
  * argument must be a foldable non-null binary literal (the serialized
  * sketch); it is deserialized ONCE per executor into a transient field and
  * referenced directly from generated code — never per row.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || !left.foldable || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        "cms_estimate requires (foldable binary, bigint), got " +
          s"(${left.dataType.catalogString} foldable=${left.foldable}, " +
          s"${right.dataType.catalogString})")
    else if (left.eval(null) == null)
      // reject a null-folding sketch HERE: letting it through would NPE
      // inside CountMinSketch.readFrom at execution with an opaque stack
      TypeCheckResult.TypeCheckFailure(
        "cms_estimate requires a non-null serialized sketch literal")
    else
      TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  @transient private lazy val sketch: CountMinSketch = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
  }

  override protected def nullSafeEval(cmsBytes: Any, value: Any): Any =
    sketch.estimateCount(value.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cms = ctx.addReferenceObj("cmSketch", sketch, classOf[CountMinSketch].getName)
    nullSafeCodeGen(ctx, ev, (_, v) =>
      s"${ev.value} = $cms.estimateCount(java.lang.Long.valueOf($v));")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {

  /** Serialize a built sketch for embedding as the expression's literal. */
  def serialize(cms: CountMinSketch): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    bos.toByteArray
  }
}
