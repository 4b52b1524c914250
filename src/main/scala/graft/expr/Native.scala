package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{aggregate, column, eagerExpression, expression}

/** The engine's native expressions as Column constructors — the DataFrame
  * path, bound directly with no function registry, so they work in any
  * session (a `newSession()` child included) with no setup. SQL-text
  * clients reach the same classes by name through [[graft.GraftExtensions]].
  */
object Native {

  def farmFingerprint(s: Column): Column = column(FarmFingerprint(expression(s)))

  def vecDot(a: Column, b: Column): Column =
    column(FloatVecDot(expression(a), expression(b)))

  def vecDotHalf(a: Column, b: Column): Column =
    column(HalfVecDot(expression(a), expression(b)))

  def vecPackHalf(v: Column): Column = column(PackHalfVec(expression(v)))

  def vecArgTop2(ord: Column, id: Column): Column =
    aggregate(ArgTop2(expression(ord), expression(id)))

  /** `cap` must be an integer literal in [2, 64] (the buffer width is
    * plan-static); anything else throws here, as SQL text fails analysis. */
  def vecArgTopN(ord: Column, id: Column, cap: Column): Column =
    aggregate(ArgTopN.fromArgs(Seq(expression(ord), expression(id), eagerExpression(cap))))

  def bloomMightContain(bloom: Column, hash: Column): Column =
    column(BloomMightContain(expression(bloom), expression(hash)))

  def cmsEstimate(sketch: Column, key: Column): Column =
    column(CmsEstimate(expression(sketch), expression(key)))
}
