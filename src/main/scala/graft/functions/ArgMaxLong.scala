package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, Expression, GreaterThan, If, IsNotNull, IsNull, Literal, Not, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** `argmax_long(v, o1, o2)`: the value of `v` on the row whose
  * ordering pair `(o1, o2)` is lexicographically largest — exactly
  * `max_by(v, struct(o1, o2))` for BIGINT inputs, but with a FLAT
  * all-primitive aggregation buffer (three longs + an init flag)
  * instead of max_by's struct-typed buffer.
  *
  * Why it exists (round-17, guide §2.3/§4): `max_by(v, struct(..))`
  * carries its ordering key as a struct in the aggregation buffer, and
  * HashAggregateExec only supports mutable primitive buffer types —
  * so every consumer (x06/x09's hourly-latest rule) planned as
  * SortAggregate, sorting EVERY scan partition by the group key in
  * the partial pass. A 64-bit packed key is unsafe here (micros need
  * ~2^51, leaving too few bits for event_id at any interesting
  * scale); flattening the pair into two buffer columns restores the
  * hash path with no packing bound at all.
  *
  * Semantics match `max_by(v, struct(o1, o2))` exactly:
  *  - lexicographic comparison with NULL-smallest field ordering
  *    (Spark's interpreted struct ordering: a NULL field loses to any
  *    non-NULL value, two NULLs tie);
  *  - the struct wrapper is never NULL, so every input row
  *    participates (an all-NULL ordering pair still beats "no row");
  *  - an empty group evaluates to NULL;
  *  - ties keep the first-seen row — unreachable when (o1, o2) is
  *    unique within a group, which every gated consumer guarantees
  *    ((us, event_id) is unique per event).
  */
case class ArgMaxLong(valueExpr: Expression, ord1: Expression,
    ord2: Expression) extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(valueExpr, ord1, ord2)
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "argmax_long"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${ArgMaxLong.Signature} got " +
        children.map(_.dataType.sql.toLowerCase).mkString("(", ", ", ")"))

  private lazy val bv = AttributeReference("bv", LongType)()
  private lazy val b1 = AttributeReference("b1", LongType)()
  private lazy val b2 = AttributeReference("b2", LongType)()
  private lazy val bInit = AttributeReference("bInit", BooleanType,
    nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bv, b1, b2, bInit)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, LongType),
    Literal.create(null, LongType),
    Literal.create(null, LongType),
    Literal(false))

  /** (x1, x2) > (y1, y2) lexicographically, NULL fields smallest —
    * the interpreted ordering GreaterThan uses on struct values. */
  private def lexGt(x1: Expression, x2: Expression,
      y1: Expression, y2: Expression): Expression = {
    val gt1 = Or(And(IsNull(y1), IsNotNull(x1)),
      And(And(IsNotNull(x1), IsNotNull(y1)), GreaterThan(x1, y1)))
    val eq1 = EqualNullSafe(x1, y1)
    val gt2 = Or(And(IsNull(y2), IsNotNull(x2)),
      And(And(IsNotNull(x2), IsNotNull(y2)), GreaterThan(x2, y2)))
    Or(gt1, And(eq1, gt2))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val take = Or(Not(bInit), lexGt(ord1, ord2, b1, b2))
    Seq(
      If(take, valueExpr, bv),
      If(take, ord1, b1),
      If(take, ord2, b2),
      Literal(true))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(bInit.right,
      Or(Not(bInit.left), lexGt(b1.right, b2.right, b1.left, b2.left)))
    Seq(
      If(take, bv.right, bv.left),
      If(take, b1.right, b1.left),
      If(take, b2.right, b2.left),
      Or(bInit.left, bInit.right))
  }

  override lazy val evaluateExpression: Expression = bv

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgMaxLong =
    copy(valueExpr = newChildren(0), ord1 = newChildren(1),
      ord2 = newChildren(2))
}

object ArgMaxLong {
  val Signature = "argmax_long(bigint, bigint, bigint)"

  /** The SQL builder: a wrong arity fails analysis naming [[Signature]]
    * (argument types are checked by `checkInputDataTypes`). */
  def build(exprs: Seq[Expression]): ArgMaxLong =
    if (exprs.length == 3) ArgMaxLong(exprs(0), exprs(1), exprs(2))
    else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map("functionName" -> s"`$Signature`", "expectedNum" -> "3",
        "actualNum" -> exprs.length.toString,
        "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
}
