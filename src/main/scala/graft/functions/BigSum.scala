package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  Add, AttributeReference, Cast, Expression, GreaterThan, GreaterThanOrEqual,
  If, IsNull, LessThan, LessThanOrEqual, Literal, Or
}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

/** Exact SUM of a LONG expression into DECIMAL(38,0), with the per-row work
  * kept on the primitive-long fast path.
  *
  * `sum(CAST(x AS DECIMAL(38,0)))` makes every row pay a 128-bit decimal
  * add (and, for moment sums, a decimal multiply feeding it) — the
  * aggregation stage of a moment-statistics query is pure decimal ALU. A
  * plain `sum(longCol)` is the fast codegen path but silently wraps past
  * 2^63, which a 100 TB table with ~10^14-sized per-row products reaches.
  *
  * This aggregate keeps both properties: the buffer is (acc DECIMAL(38,0),
  * lo LONG); each row does one long add plus two range compares, and only
  * when |lo| crosses 2^62 does the buffer spill lo into acc with a decimal
  * add — once every ~2^62/|x| rows, amortized to nothing. A single addend
  * of |x| >= 2^62 takes the decimal add directly. Merge and final
  * evaluation are decimal (per-partition counts, not per-row). Numerically
  * identical to the decimal sum for every input (spec: [[BigSumSpec]]),
  * overflow-safe for any row count whose true sum fits DECIMAL(38,0).
  *
  * Contract differences from SQL SUM, acceptable for its call sites
  * (non-null metric columns under a non-empty scan): NULL inputs count as
  * 0 and the empty-input result is 0, not NULL.
  */
case class BigSum(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private val dec = DecimalType(38, 0)
  // |lo| beyond this spills into acc; 2^62 leaves headroom of 2^62 for the
  // next row's addend (larger addends bypass lo entirely)
  private val spillAt = 1L << 62

  override def dataType: DataType = dec
  override def nullable: Boolean = false
  override def prettyName: String = "big_sum"

  private lazy val acc = AttributeReference("acc", dec, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(acc, lo)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(Decimal(0), dec), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = If(IsNull(child), Literal(0L), child)
    // an addend of |x| >= 2^62 could overflow the long add itself (|lo| is
    // up to 2^62), so it goes straight into acc and lo stays as it was;
    // every other addend keeps |lo + x| < 2^63
    val big = Or(
      GreaterThanOrEqual(x, Literal(spillAt)),
      LessThanOrEqual(x, Literal(-spillAt)))
    val newLo = Add(lo, If(big, Literal(0L), x))
    val spill = Or(
      GreaterThan(newLo, Literal(spillAt)),
      LessThan(newLo, Literal(-spillAt)))
    Seq(
      If(big, Add(acc, Cast(x, dec)),
        If(spill, Add(acc, Cast(newLo, dec)), acc)),
      If(spill, Literal(0L), newLo))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    // fold the right side's whole value into acc; keeping only the left
    // lo bounds |lo| at 2^62 + one addend through any merge chain
    Add(Add(acc.left, acc.right), Cast(lo.right, dec)),
    lo.left)

  override lazy val evaluateExpression: Expression = Add(acc, Cast(lo, dec))

  override protected def withNewChildInternal(newChild: Expression): BigSum =
    copy(child = newChild)
}

object BigSum {

  /** `big_sum(col)` as a Column (col must already be LONG): the exact
    * DECIMAL(38,0) sum of its values. Unlike SQL SUM, a NULL input counts
    * as 0 and an empty input (or all-NULL group) sums to 0, never NULL —
    * meant for non-null metric columns under a non-empty scan.
    */
  def of(c: Column): Column =
    Bridge.column(BigSum(Bridge.expression(c)).toAggregateExpression())
}
