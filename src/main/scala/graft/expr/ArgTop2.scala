package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, CreateNamedStruct, EqualTo, Expression, GreaterThan, If, IsNull, LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Argmax-top-2 aggregate: per group, the ids of the best and second-best
  * rows under (ord DESC, id ASC) — exactly the `row_number() OVER (ORDER
  * BY ord DESC, id ASC) <= 2` selection, WITHOUT the window.
  *
  * Why this exists (round 9): nearest/second-nearest-centroid assignment
  * is an argmax over the vector×centroid candidate relation — n·k rows
  * for the flat chain, n·√k for the coarse chain. A Window spelling
  * forces the whole candidate relation through a SORT (row_number's
  * required ordering) before any row can be dropped; at n = 10⁷ the
  * coarse chain's candidate sort is ~1.4·10⁹ rows × ~300 B ≈ 0.4 TB of
  * sorter traffic per pass — a spill cliff no disk on the probe box
  * survives, and pure waste at any scale since only 2 of every ~√k rows
  * matter. As an aggregate the candidate relation collapses in the
  * partial (map-side) HashAggregate ABOVE the broadcast join, inside the
  * same codegen stage that produced it: nothing is sorted, and only one
  * 4-slot buffer per vector ever reaches the exchange.
  *
  * Buffer: 4 primitive slots (c1, i1, c2, i2; null c1 = empty, null c2 =
  * one entry) — deliberately fixed-width so HashAggregateExec's UnsafeRow
  * fast path applies (a struct/binary buffer would demote the whole
  * aggregation to SortAggregate and reintroduce the sort this class
  * exists to remove).
  *
  * Determinism: the candidate relation has unique ids per group, so the
  * (ord, id) order is total and the top-2 is unique regardless of row
  * arrival or partial-merge order — the oracle's row_number twin is
  * replayed exactly.
  *
  * Ordering: GreaterThan and EqualTo on doubles follow Spark's SQL
  * ordering (NaN above every number and equal to itself, −0.0 = 0.0), so
  * a NaN ord ranks FIRST, as it does in the row_number twins under ORDER
  * BY ord DESC (Spark and DuckDB alike); [[ArgTopN]] orders the same way.
  *
  * Why both this and [[ArgTopN]]: HashAggregateExec whole-stage-codegens
  * a DeclarativeAggregate but not an ImperativeAggregate (on Spark 4.1.2
  * `max` plans as `*(1) HashAggregate`, `approx_count_distinct` with no
  * `*(n)`). The two-level picks run this one fused into the broadcast
  * join that produces their candidates; ArgTopN at width 2 would split
  * that stage. ArgTopN serves the derived-width beams, whose declarative
  * spelling outgrows the 64 KB method limit.
  */
case class ArgTop2(ord: Expression, id: Expression) extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = true),
    StructField("cell2", LongType, nullable = true),
    // the winning and runner-up ord values (round 11): the margin s1 − s2
    // is the FAISS-style boundary-ness signal the nprobe=2 search gates
    // its second-region probe on — the buffer tracks both scores anyway,
    // so exposing them is free (getField consumers of cell/cell2 are
    // unaffected)
    StructField("s1", DoubleType, nullable = true),
    StructField("s2", DoubleType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (ord.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_arg_top2 requires (double ord, bigint id) arguments")

  override def prettyName: String = "vec_arg_top2"

  private lazy val c1 = AttributeReference("c1", DoubleType)()
  private lazy val i1 = AttributeReference("i1", LongType)()
  private lazy val c2 = AttributeReference("c2", DoubleType)()
  private lazy val i2 = AttributeReference("i2", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(c1, i1, c2, i2)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, DoubleType), Literal.create(null, LongType),
    Literal.create(null, DoubleType), Literal.create(null, LongType))

  /** (co, io) ranks strictly before (cb, ib): higher ord, ties to lower id. */
  private def better(co: Expression, io: Expression,
      cb: Expression, ib: Expression): Expression =
    Or(GreaterThan(co, cb), And(EqualTo(co, cb), LessThan(io, ib)))

  override lazy val updateExpressions: Seq[Expression] = {
    val skip = IsNull(ord)
    val beat1 = Or(IsNull(c1), better(ord, id, c1, i1))
    val beat2 = Or(IsNull(c2), better(ord, id, c2, i2))
    Seq(
      If(skip, c1, If(beat1, ord, c1)),
      If(skip, i1, If(beat1, id, i1)),
      // new best demotes the old best to second; otherwise the row
      // challenges the second slot directly. First row: beat1 with c1
      // null leaves c2 = old c1 = null — a 1-entry buffer, as required.
      If(skip, c2, If(beat1, c1, If(beat2, ord, c2))),
      If(skip, i2, If(beat1, i1, If(beat2, id, i2))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val aEmpty = IsNull(c1.left)
    val bEmpty = IsNull(c1.right)
    val aFirst = better(c1.left, i1.left, c1.right, i1.right)
    // best-with-null-skip over the two second-place candidates: the
    // loser's FIRST entry and the winner's second entry
    def bestC(xc: Expression, xi: Expression, yc: Expression, yi: Expression) =
      If(IsNull(xc), yc, If(IsNull(yc), xc, If(better(xc, xi, yc, yi), xc, yc)))
    def bestI(xc: Expression, xi: Expression, yc: Expression, yi: Expression) =
      If(IsNull(xc), yi, If(IsNull(yc), xi, If(better(xc, xi, yc, yi), xi, yi)))
    Seq(
      If(aEmpty, c1.right, If(bEmpty, c1.left, If(aFirst, c1.left, c1.right))),
      If(aEmpty, i1.right, If(bEmpty, i1.left, If(aFirst, i1.left, i1.right))),
      If(aEmpty, c2.right, If(bEmpty, c2.left,
        If(aFirst, bestC(c2.left, i2.left, c1.right, i1.right),
          bestC(c2.right, i2.right, c1.left, i1.left)))),
      If(aEmpty, i2.right, If(bEmpty, i2.left,
        If(aFirst, bestI(c2.left, i2.left, c1.right, i1.right),
          bestI(c2.right, i2.right, c1.left, i1.left)))))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(c1), Literal.create(null, dataType),
      CreateNamedStruct(Seq(
        Literal("cell"), i1,
        Literal("cell2"), If(IsNull(c2), Literal.create(null, LongType), i2),
        Literal("s1"), c1,
        Literal("s2"), If(IsNull(c2), Literal.create(null, DoubleType), c2))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgTop2 =
    copy(ord = newChildren(0), id = newChildren(1))
}
