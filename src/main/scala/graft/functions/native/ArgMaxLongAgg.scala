package graft.functions.native

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, ExpectsInputTypes, Expression, GreaterThan, If, IsNotNull, LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** `graft_argmax_long(ord, tie)` — the BIGINT `tie` value of the row
  * with the largest DOUBLE `ord`, ties broken toward the SMALLEST
  * `tie`. The deterministic argmax every assignment path needs
  * (nearest centroid / codeword by cosine, c_id tie-break), as a
  * DeclarativeAggregate with a PRIMITIVE (double, long) buffer.
  *
  * Why this exists: the two expressible alternatives both lose the
  * fast aggregation path —
  *  - `row_number() over (partition by key order by ord desc, tie)`
  *    then `rn = 1` sorts the whole candidate fan-out per partition;
  *  - `max(struct(ord, -tie))` has a struct buffer, which demotes the
  *    plan to SortAggregate (measured: slower than the window it was
  *    meant to replace).
  * With primitive buffer slots this aggregate runs in HashAggregateExec
  * with map-side partial aggregation: an nlist-way candidate fan-out
  * collapses to one row per key before the exchange, and no sort ever
  * forms.
  *
  * Comparison semantics are EXACTLY the window sort's: Spark's
  * double comparison is NaN-largest (nan-safe compare) and
  * `NaN = NaN` is true, so a NaN similarity wins over any finite one
  * and ties (including NaN ties) resolve to the smallest `tie` —
  * bit-identical row selection to `order by ord desc, tie asc` limit 1.
  * Null `ord` rows are skipped (the window's `desc` puts nulls last —
  * same outcome whenever any non-null ord exists in the group).
  * Callers guarantee tie < Long.MaxValue (the initial buffer value)
  * and at least one non-null ord per group — true for every centroid
  * table (bounded non-negative ids, non-null similarities).
  */
case class ArgMaxLongAgg(left: Expression, right: Expression)
  extends DeclarativeAggregate with BinaryLike[Expression]
  with ExpectsInputTypes {

  private def ord: Expression = left
  private def tie: Expression = right

  override def prettyName: String = "graft_argmax_long"
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  private lazy val bOrd =
    AttributeReference("bOrd", DoubleType, nullable = false)()
  private lazy val bTie =
    AttributeReference("bTie", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bOrd, bTie)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(Double.NegativeInfinity), Literal(Long.MaxValue))

  /** (o, t) beats (curO, curT)? — the window's (ord desc, tie asc)
    * rule: strictly larger ord, or equal ord (NaN-safe) and smaller
    * tie. A real row always beats the initial buffer: ord = −∞ ties
    * the initial −∞ and every real tie is below Long.MaxValue. */
  private def beats(o: Expression, t: Expression,
                    curO: Expression, curT: Expression): Expression =
    Or(GreaterThan(o, curO), And(EqualTo(o, curO), LessThan(t, curT)))

  override lazy val updateExpressions: Seq[Expression] = {
    val good = And(IsNotNull(ord), beats(ord, tie, bOrd, bTie))
    Seq(If(good, ord, bOrd), If(good, tie, bTie))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val good = beats(bOrd.left, bTie.left, bOrd.right, bTie.right)
    Seq(If(good, bOrd.left, bOrd.right), If(good, bTie.left, bTie.right))
  }

  override lazy val evaluateExpression: Expression = bTie

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
