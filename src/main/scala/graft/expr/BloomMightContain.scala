package graft.expr

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a serialized [[BloomFilter]] sketch, as a native
  * codegen expression: `bloom_might_contain(filterBytes, hash64)`.
  *
  * This is the broadcast-membership primitive for filters too large to ship
  * as a hash-join build side: a decontamination list of 10⁸ eval
  * fingerprints is a multi-GB hash relation but a ~100 MB bloom at 1% fpp —
  * small enough to ride the closure to every task. The sketch guarantees NO
  * false negatives, so `false` rows are definitively clean and never join;
  * `true` rows (members + the fpp sliver) proceed to an exact verify join.
  * The first argument must be a foldable binary literal (the serialized
  * sketch); it is deserialized ONCE per executor into a transient field and
  * referenced directly from generated code — never per row.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || !left.foldable || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain requires (foldable binary, bigint), got " +
          s"(${left.dataType.catalogString} foldable=${left.foldable}, " +
          s"${right.dataType.catalogString})")
    else if (left.eval(null) == null)
      // reject a null-folding sketch HERE: letting it through would NPE
      // inside BloomFilter.readFrom at execution with an opaque stack
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain requires a non-null serialized sketch literal")
    else
      TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter: BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override protected def nullSafeEval(bloomBytes: Any, value: Any): Any =
    filter.mightContainLong(value.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", filter, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (_, v) => s"${ev.value} = $bf.mightContainLong($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {

  /** Serialize a built sketch for embedding as the expression's literal. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
