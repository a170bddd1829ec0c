package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Concat, CreateArray, Expression, If, IsNull, Literal, Or, SortArray}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Sorted per-group value list, CAPPED: counts every input row (nulls
  * included), but the moment the running count exceeds `cap` the list
  * buffer collapses to NULL and stays NULL — so a group with millions of
  * members costs a counter and a null, never an unbounded array in an
  * aggregation buffer. Evaluates to the sorted array for groups with ≤
  * `cap` rows, NULL for overflowed groups.
  *
  * Built for the winnowing pair stage
  * ([[graft.operators.Dedup.substringDupPairs]]): the df cap and
  * the per-hash id list in ONE aggregation over ONE exchange. The
  * alternatives both lose — plain `collect_list` then filter materializes
  * the unbounded list first (a corpus-wide boilerplate fingerprint
  * present in millions of documents OOMs one reducer), and a separate
  * count aggregate + semi-join back re-shuffles the fingerprint table (a
  * second full exchange, measured ~1.2 s per winnowing key at sf0.1).
  *
  * Count-vs-list semantics mirror the DuckDB oracle's `dfreq` CTE
  * (`count(*)` over a DISTINCT (id, h) projection): the COUNT includes a
  * null-id fingerprint row — it still counts toward document frequency —
  * while null values never enter the LIST (null ids cannot pair). Null
  * rows count AT MOST ONCE per group (the buffer carries a hasNull flag
  * and the count increments only on the first null, subtracting the
  * double-count on a both-sides-null merge), because SQL `DISTINCT`
  * treats NULLs as equal and collapses them to one row — so the
  * aggregate now matches the oracle even on a caller that feeds
  * duplicate null ids, not just under the winnowing corpus contract.
  * A declarative aggregate, so both partial and final stages stay
  * expression-codegen'd; buffers are (long, boolean, array) — the
  * planner picks sort-based aggregation for the array buffer, which is
  * exactly as scale-safe (one exchange, spillable sort) and bounded per
  * group by construction.
  */
case class CappedSortedList(child: Expression, cap: Int)
  extends DeclarativeAggregate
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(cap >= 1, s"cap must be >= 1, got $cap")

  private lazy val arrType = ArrayType(child.dataType, containsNull = true)
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()
  private lazy val hasNull =
    AttributeReference("hasNull", BooleanType, nullable = false)()
  private lazy val ids = AttributeReference("ids", arrType, nullable = true)()

  private def emptyArr: Expression =
    Literal.create(new GenericArrayData(Array.empty[Any]), arrType)
  private def nullArr: Expression = Literal.create(null, arrType)

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(cnt, hasNull, ids)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(false), emptyArr)

  override lazy val updateExpressions: Seq[Expression] = {
    // a null child increments only the FIRST time (SQL DISTINCT collapses
    // equal-null rows to one); non-null children are unique by the caller
    // contract and always count
    val newCnt = org.apache.spark.sql.catalyst.expressions.Add(cnt,
      If(And(IsNull(child), hasNull), Literal(0L), Literal(1L)))
    val appended = If(IsNull(child), ids, Concat(Seq(ids, CreateArray(Seq(child)))))
    Seq(
      newCnt,
      Or(hasNull, IsNull(child)),
      If(Or(IsNull(ids),
        org.apache.spark.sql.catalyst.expressions.GreaterThan(newCnt, Literal(cap.toLong))),
        nullArr, appended))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // both partial buffers having seen a null means the null was counted
    // twice — subtract the duplicate
    val newCnt = org.apache.spark.sql.catalyst.expressions.Subtract(
      org.apache.spark.sql.catalyst.expressions.Add(cnt.left, cnt.right),
      If(And(hasNull.left, hasNull.right), Literal(1L), Literal(0L)))
    Seq(
      newCnt,
      Or(hasNull.left, hasNull.right),
      If(Or(Or(IsNull(ids.left), IsNull(ids.right)),
        org.apache.spark.sql.catalyst.expressions.GreaterThan(newCnt, Literal(cap.toLong))),
        nullArr, Concat(Seq(ids.left, ids.right))))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(ids), nullArr, SortArray(ids, Literal(true)))

  override def dataType: DataType = arrType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_capped_sorted_list"

  override protected def withNewChildInternal(newChild: Expression): CappedSortedList =
    copy(child = newChild)
}

object CappedSortedList {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.Bridge

  /** Column wrapper (classic-mode bridge): aggregate column for
    * `groupBy(...).agg(...)`. */
  def cappedSortedList(c: Column, cap: Int): Column =
    Bridge.column(
      CappedSortedList(Bridge.expression(c), cap).toAggregateExpression())
}
