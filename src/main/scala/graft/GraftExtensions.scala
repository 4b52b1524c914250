package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expr.{ArgTop2, ArgTopN, BloomMightContain, CmsEstimate, FarmFingerprint, FloatVecDot, HalfVecDot, PackHalfVec}

/** Cluster-deployment registration of the engine's native expressions:
  * `--conf spark.sql.extensions=graft.GraftExtensions` makes
  * `farm_fingerprint`, `vec_dot` and the rest callable by name from SQL
  * text in EVERY session on the cluster (JDBC/Thrift included). It serves
  * SQL-text clients only: DataFrame code binds the same Expression classes
  * directly through [[graft.expr.Native]], so plans and codegen are
  * identical on both paths.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs =>
      if (exprs.length == n) build(exprs)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name,
          "expectedNum" -> n.toString, "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** The injected function descriptions: the `spark.sql.extensions`
    * deployment and the specs' SQL-text sessions bind these same tuples.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("farm_fingerprint"),
      new ExpressionInfo(classOf[FarmFingerprint].getName, "farm_fingerprint"),
      arity("farm_fingerprint", 1)(exprs => FarmFingerprint(exprs.head))),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      arity("vec_dot", 2)(exprs => FloatVecDot(exprs.head, exprs(1)))),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      arity("bloom_might_contain", 2)(exprs => BloomMightContain(exprs.head, exprs(1)))),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      arity("cms_estimate", 2)(exprs => CmsEstimate(exprs.head, exprs(1)))),
    (FunctionIdentifier("vec_arg_top2"),
      new ExpressionInfo(classOf[ArgTop2].getName, "vec_arg_top2"),
      arity("vec_arg_top2", 2)(exprs => ArgTop2(exprs.head, exprs(1)))),
    (FunctionIdentifier("vec_arg_topn"),
      new ExpressionInfo(classOf[ArgTopN].getName, "vec_arg_topn"),
      arity("vec_arg_topn", 3)(ArgTopN.fromArgs)),
    (FunctionIdentifier("vec_pack_half"),
      new ExpressionInfo(classOf[PackHalfVec].getName, "vec_pack_half"),
      arity("vec_pack_half", 1)(exprs => PackHalfVec(exprs.head))),
    (FunctionIdentifier("vec_dot_half"),
      new ExpressionInfo(classOf[HalfVecDot].getName, "vec_dot_half"),
      arity("vec_dot_half", 2)(exprs => HalfVecDot(exprs.head, exprs(1)))))
}
