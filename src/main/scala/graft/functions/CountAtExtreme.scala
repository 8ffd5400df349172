package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** The number of rows holding the least (or greatest) non-null value of a
  * LONG column; 0 when every value is NULL.
  *
  * The buffer is (extreme, rows at it) — a monoid: two partial buffers
  * keep the better extreme, or add their counts when the extremes tie.
  * So the count combines map-side in the same hash aggregation as
  * `min`/`max` (a declarative aggregate, it stays inside whole-stage
  * codegen), and a group-by computing it shuffles one row per task and
  * group whatever the number of distinct values. Counting per value
  * first and picking the extreme after would shuffle every distinct
  * (group, value) pair.
  */
case class CountAtExtreme(child: Expression, least: Boolean)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"count_at_extreme needs a LONG input, got ${other.catalogString}")
  }

  private lazy val extreme = AttributeReference("extreme", LongType)()
  private lazy val rows = AttributeReference("rows", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(extreme, rows)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, LongType), Literal(0L))

  private def pick(a: Expression, b: Expression): Expression =
    if (least) Least(Seq(a, b)) else Greatest(Seq(a, b))

  /** Rows at the new extreme: each side's count where its extreme is it
    * (a NULL extreme never equals, and its count is 0 anyway).
    */
  private def fold(e1: Expression, n1: Expression, e2: Expression, n2: Expression) = {
    val at = pick(e1, e2)
    Seq(at, Add(If(EqualTo(e1, at), n1, Literal(0L)), If(EqualTo(e2, at), n2, Literal(0L))))
  }

  override lazy val updateExpressions: Seq[Expression] =
    fold(extreme, rows, child, Literal(1L))
  override lazy val mergeExpressions: Seq[Expression] =
    fold(extreme.left, rows.left, extreme.right, rows.right)
  override lazy val evaluateExpression: Expression = rows

  override protected def withNewChildInternal(newChild: Expression): CountAtExtreme =
    copy(child = newChild)

  override def prettyName: String = "count_at_extreme"
}

object CountAtExtreme {
  def apply(c: Column, least: Boolean): Column =
    GraftBridge.column(
      CountAtExtreme(GraftBridge.expression(c), least).toAggregateExpression())
}
