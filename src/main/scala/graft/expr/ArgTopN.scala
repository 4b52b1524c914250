package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Argmax-top-N aggregate: per group, the `cap` best (ord, id) rows under
  * (ord DESC, id ASC) as a fixed-length array of struct(cs, cid), best
  * first, null-padded past the group's row count — exactly the
  * `row_number() OVER (ORDER BY ord DESC, id ASC) <= cap` selection
  * WITHOUT the window.
  *
  * Why this exists (round 14): the IMI probe search's region count is now
  * DERIVED from the cell count (nprobe = f(k), the FAISS billion-scale
  * discipline — a fixed two-region probe left the 10⁷ emission-band
  * recall ceiling at 0.9217, under the 0.95 floor the governance gate
  * enforces; SCALE.md round 13). A derived region count needs a top-N
  * descent beam and a top-N region emission, and — like [[ArgTop2]],
  * which this generalizes — the selection must collapse the candidate
  * relation in the map-side HashAggregate, never through a window sort
  * (the 0.4 TB sorter-cliff lesson of the 10⁷ probe, round 9).
  *
  * Why IMPERATIVE, not declarative (the round-14 lesson this class
  * embodies): a DeclarativeAggregate top-N needs merge expressions that
  * rank 2·cap buffer slots — O(cap³) expression nodes whose generated
  * Java breaches the JVM's 64 KB method limit at cap = 16 ("Code grows
  * beyond 64 KB", measured at sf0.1), and Catalyst's subexpression
  * elimination cannot rescue code living inside CaseWhen branches. The
  * HyperLogLogPlusPlus discipline applies instead: a plain
  * [[ImperativeAggregate]] over a FIXED-WIDTH PRIMITIVE buffer still
  * qualifies for HashAggregateExec (the UnsafeRow fast path — the
  * planner keys on the buffer schema's mutability, not on the function
  * being declarative), the candidate relation still collapses map-side
  * inside the scan stage, and update/merge are O(cap) branch-light Scala
  * the JIT compiles once — no generated-code size to manage at any cap.
  *
  * Buffer layout: 2·cap fields — (score: Double, id: Long) per rank,
  * null score = empty slot; filled ranks are a prefix. Update is an
  * in-place sorted insert (scan for the insertion rank, shift the tail
  * one slot down); merge inserts the ≤cap entries of the input buffer
  * the same way.
  *
  * Ordering: Spark's double ordering (`SQLOrderingUtil.compareDoubles`:
  * NaN above every number, −0.0 = 0.0), the order of the row_number
  * twins in Spark and DuckDB and of [[ArgTop2]]'s GreaterThan. Ids are
  * unique per group (each candidate row carries a distinct id), so
  * (ord DESC, id ASC) is a strict total order and the top-N is unique
  * regardless of row arrival or partial-merge order. Null ords are
  * skipped, as the twins' callers filter them.
  */
case class ArgTopN(ord: Expression, id: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate {

  require(cap >= 2 && cap <= 64, s"vec_arg_topn capacity out of [2,64]: $cap")

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = true

  private val entryType = StructType(Seq(
    StructField("cs", DoubleType, nullable = true),
    StructField("cid", LongType, nullable = true)))

  override def dataType: DataType = ArrayType(entryType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (ord.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_arg_topn requires (double ord, bigint id) arguments")

  override def prettyName: String = "vec_arg_topn"

  override def aggBufferSchema: StructType = StructType(
    (1 to cap).flatMap(r => Seq(
      StructField(s"c$r", DoubleType, nullable = true),
      StructField(s"i$r", LongType, nullable = true))))

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    aggBufferSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)

  override def initialize(buffer: InternalRow): Unit = {
    var r = 0
    while (r < cap) {
      buffer.setNullAt(mutableAggBufferOffset + 2 * r)
      buffer.setNullAt(mutableAggBufferOffset + 2 * r + 1)
      r += 1
    }
  }

  /** (c, i) ranks strictly before slot r of `buffer` (empty slots always
    * lose): higher ord, ties to lower id.
    */
  private def beats(buffer: InternalRow, base: Int, r: Int, c: Double, i: Long): Boolean = {
    if (buffer.isNullAt(base + 2 * r)) return true
    val o = SQLOrderingUtil.compareDoubles(c, buffer.getDouble(base + 2 * r))
    o > 0 || (o == 0 && i < buffer.getLong(base + 2 * r + 1))
  }

  /** In-place sorted insert of (c, i) into the buffer's rank slots. */
  private def insert(buffer: InternalRow, c: Double, i: Long): Unit = {
    val base = mutableAggBufferOffset
    // insertion rank = first slot the row beats (cap = none)
    var pos = 0
    while (pos < cap && !beats(buffer, base, pos, c, i)) pos += 1
    if (pos == cap) return
    // shift [pos, cap-2] down one slot, bottom-up
    var r = cap - 1
    while (r > pos) {
      if (buffer.isNullAt(base + 2 * (r - 1))) {
        buffer.setNullAt(base + 2 * r)
        buffer.setNullAt(base + 2 * r + 1)
      } else {
        buffer.setDouble(base + 2 * r, buffer.getDouble(base + 2 * (r - 1)))
        buffer.setLong(base + 2 * r + 1, buffer.getLong(base + 2 * (r - 1) + 1))
      }
      r -= 1
    }
    buffer.setDouble(base + 2 * pos, c)
    buffer.setLong(base + 2 * pos + 1, i)
  }

  override def update(buffer: InternalRow, input: InternalRow): Unit = {
    val c = ord.eval(input)
    if (c != null) {
      val i = id.eval(input)
      if (i != null) insert(buffer, c.asInstanceOf[Double], i.asInstanceOf[Long])
    }
  }

  override def merge(buffer: InternalRow, inputBuffer: InternalRow): Unit = {
    var r = 0
    while (r < cap && !inputBuffer.isNullAt(inputAggBufferOffset + 2 * r)) {
      insert(buffer,
        inputBuffer.getDouble(inputAggBufferOffset + 2 * r),
        inputBuffer.getLong(inputAggBufferOffset + 2 * r + 1))
      r += 1
    }
  }

  override def eval(buffer: InternalRow): Any = {
    val base = mutableAggBufferOffset
    if (buffer.isNullAt(base)) return null
    val out = new Array[Any](cap)
    var r = 0
    while (r < cap) {
      if (!buffer.isNullAt(base + 2 * r))
        out(r) = InternalRow(buffer.getDouble(base + 2 * r),
          buffer.getLong(base + 2 * r + 1))
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgTopN =
    copy(ord = newChildren(0), id = newChildren(1))
}

object ArgTopN {
  /** Builder for SQL text and [[Native.vecArgTopN]] alike: the third
    * argument must be an integer literal (the buffer width is plan-static).
    */
  def fromArgs(exprs: Seq[Expression]): ArgTopN = exprs(2) match {
    case Literal(v: Int, IntegerType) => ArgTopN(exprs(0), exprs(1), v)
    case other => throw new IllegalArgumentException(
      s"vec_arg_topn capacity must be an integer literal, got: $other")
  }
}
