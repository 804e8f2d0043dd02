package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types.{BooleanType, DataType}

/** `max_by`/`min_by` with a TWO-KEY LEXICOGRAPHIC ordering carried in
  * PRIMITIVE aggregation-buffer slots — the codegen-fast replacement for
  * `max_by(v, struct(o1, o2))`.
  *
  * Why it exists (measured, BASELINE.md r16 (ProbeAnn) at ×100 / 160M candidate rows):
  * a struct-typed ordering makes the aggregate's buffer schema contain a
  * StructType, which is not an UnsafeRow-mutable field type — the whole
  * HashAggregate drops off the codegen fast path and every input row pays
  * an object-projection + interpreted struct comparison. Same data, same
  * argmax: `max_by(cell, struct(cos, -cell))` 395 s vs a primitive-ordered
  * `max_by` 11.8 s (33×). This aggregate keeps the exact two-key tie rule
  * while every buffer slot (seen, o1, o2, v) stays a flat mutable field.
  *
  * Semantics: among input rows whose BOTH ordering keys are non-null, pick
  * the value of the lexicographically greatest (`isMin = false`) or least
  * (`isMin = true`) (o1, o2) pair; null when no qualifying row. Doubles
  * compare with Spark's SQL ordering (NaN greatest; -0.0 TIES with 0.0 —
  * nanSafeCompareDoubles short-circuits on ==, and UnsafeRow normalizes
  * -0.0 anyway), matching what the struct ordering used. Ties beyond (o1,
  * o2) don't exist for callers that make o2 a total tiebreaker (ids, as in
  * assignCells and the PQ encode). A caller may also pass the value itself
  * as o2 (`maxByLex(v, o1, v)`, `Progress`'s A3 pick): rows tied on both
  * keys then carry the same value, so the pick is deterministic, and a null
  * value never qualifies, so it loses to any present one. Buffer stays
  * flat-mutable only for fixed-size value types (numeric/boolean/
  * timestamp); var-length values (strings)
  * would re-demote the buffer — keep those on the struct form. */
case class LexArgExtreme(valueExpr: Expression, ord1: Expression,
                         ord2: Expression, isMin: Boolean)
  extends DeclarativeAggregate with TernaryLike[Expression] {

  override def first: Expression = valueExpr
  override def second: Expression = ord1
  override def third: Expression = ord2
  override def nullable: Boolean = true
  override def dataType: DataType = valueExpr.dataType
  override def prettyName: String = if (isMin) "graft_min_by_lex" else "graft_max_by_lex"

  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val b1 = AttributeReference("o1", ord1.dataType)()
  private lazy val b2 = AttributeReference("o2", ord2.dataType)()
  private lazy val bv = AttributeReference("v", valueExpr.dataType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(seen, b1, b2, bv)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(false),
    Literal.create(null, ord1.dataType),
    Literal.create(null, ord2.dataType),
    Literal.create(null, valueExpr.dataType))

  private def beats(x1: Expression, x2: Expression,
                    y1: Expression, y2: Expression): Expression = {
    def gt(a: Expression, b: Expression): Expression =
      if (isMin) LessThan(a, b) else GreaterThan(a, b)
    Or(gt(x1, y1), And(EqualTo(x1, y1), gt(x2, y2)))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(ord1), IsNotNull(ord2))
    val take = And(valid, Or(Not(seen), beats(ord1, ord2, b1, b2)))
    Seq(
      Or(seen, take),
      If(take, ord1, b1),
      If(take, ord2, b2),
      If(take, valueExpr, bv))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val takeRight = And(seen.right,
      Or(Not(seen.left), beats(b1.right, b2.right, b1.left, b2.left)))
    Seq(
      Or(seen.left, seen.right),
      If(takeRight, b1.right, b1.left),
      If(takeRight, b2.right, b2.left),
      If(takeRight, bv.right, bv.left))
  }

  override lazy val evaluateExpression: Expression = bv

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): LexArgExtreme =
    copy(valueExpr = newFirst, ord1 = newSecond, ord2 = newThird)
}

object LexArgExtreme {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Value at the lexicographically greatest (ord1, ord2). */
  def maxByLex(value: Column, ord1: Column, ord2: Column): Column =
    Bridge.column(LexArgExtreme(Bridge.expression(value),
      Bridge.expression(ord1), Bridge.expression(ord2),
      isMin = false).toAggregateExpression())

  /** Value at the lexicographically least (ord1, ord2). */
  def minByLex(value: Column, ord1: Column, ord2: Column): Column =
    Bridge.column(LexArgExtreme(Bridge.expression(value),
      Bridge.expression(ord1), Bridge.expression(ord2),
      isMin = true).toAggregateExpression())
}
