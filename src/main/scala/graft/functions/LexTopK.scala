package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Grouped top-k as a SORT-FREE hash aggregate: [[LexArgExtreme]]'s k-slot
  * generalization. Keeps the k values at the lexicographically greatest
  * (least, `isMin`) (ord1, ord2) pairs in 3k PRIMITIVE aggregation-buffer
  * slots, best-first, so the whole reduction stays on the HashAggregate
  * codegen fast path — no struct/array buffer fields, no demotion to
  * ObjectHashAggregate/SortAggregate.
  *
  * The trade vs the window form
  * (`row_number().over(partitionBy(g).orderBy(o)) <= k`, planned as
  * Sort → WindowGroupLimit(Partial) → Exchange → Sort →
  * WindowGroupLimit(Final) → Window) is GROUP CARDINALITY, and it was
  * measured, not guessed (BASELINE.md r17 (ProbeTopN)): this
  * aggregate replaces both full-partition O(n log n) sorts with one hash
  * probe + ≤k slot comparisons per row, which wins while the per-task
  * group table stays cache-resident (sf0.1, 1.5k groups: 0.73 s vs the
  * window's 0.86 s warm) — but at ×1000 (100M rows, 1.5M groups) the
  * partial hash table carries every group the task sees and the window's
  * flat-binary-row sort wins 3–4× (12–21 s vs 43–52 s, identical output
  * checksums). Use this form for many-rows-per-group / bounded-group
  * corpora; keep the window form when groups are a large fraction of
  * rows. (The same probe also refuted "the partial WindowGroupLimit is
  * wasted work at low density": disabling it was neutral-to-worse.)
  *
  * Semantics: among input rows whose BOTH ordering keys are non-null,
  * the k lexicographically extreme (o1, o2) pairs, each carrying
  * `valueExpr`; result is an array of struct(v, o1, o2) ordered
  * best-first (entry i is rank i+1 — `posexplode` recovers the row_number
  * the window form assigns), shorter than k when the group has fewer
  * qualifying rows, empty when none. Callers must make o2 a total
  * tiebreaker (ids), the same contract as [[LexArgExtreme]] — equal
  * (o1, o2) pairs would be kept in arbitrary order. Doubles compare with
  * Spark's SQL ordering semantics of GreaterThan/LessThan, matching what
  * the row_number ordering uses.
  *
  * `k` is a PLAN-TIME constant: update is O(k) per row and the merge
  * expressions (k sequential insertions, each rewriting every slot) grow
  * ~3^k, so k is capped at 5 — the leaderboard shape. Larger k wants the
  * window form (its cost is the sort, amortized once k stops being
  * "a handful"). Buffers stay flat-mutable only for fixed-size value
  * types; var-length values (strings) would re-demote the buffer. */
case class LexTopK(valueExpr: Expression, ord1: Expression,
                   ord2: Expression, k: Int, isMin: Boolean)
  extends DeclarativeAggregate with TernaryLike[Expression] {
  require(k >= 1 && k <= 5,
    s"LexTopK keeps k in [1, 5] (merge expressions grow ~3^k); got $k")

  override def first: Expression = valueExpr
  override def second: Expression = ord1
  override def third: Expression = ord2
  override def nullable: Boolean = false
  override def prettyName: String = if (isMin) "graft_bottomk_lex" else "graft_topk_lex"

  // slot i holds the rank-(i+1) entry; o1 null <=> slot unfilled (valid
  // candidates carry non-null o1 AND o2, so no seen flag is needed)
  private lazy val slots: Seq[(AttributeReference, AttributeReference, AttributeReference)] =
    (0 until k).map { i =>
      (AttributeReference(s"v$i", valueExpr.dataType)(),
        AttributeReference(s"a$i", ord1.dataType)(),
        AttributeReference(s"b$i", ord2.dataType)())
    }

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    slots.flatMap { case (v, a, b) => Seq(v, a, b) }

  override lazy val initialValues: Seq[Expression] =
    slots.flatMap { case (v, a, b) =>
      Seq(Literal.create(null, v.dataType),
        Literal.create(null, a.dataType),
        Literal.create(null, b.dataType))
    }

  private def beats(x1: Expression, x2: Expression,
                    y1: Expression, y2: Expression): Expression = {
    def gt(a: Expression, b: Expression): Expression =
      if (isMin) LessThan(a, b) else GreaterThan(a, b)
    Or(gt(x1, y1), And(EqualTo(x1, y1), gt(x2, y2)))
  }

  private type State = Seq[(Expression, Expression, Expression)]

  /** Insert candidate (cv, c1, c2) into the sorted slot state when `valid`:
    * slots still beating the candidate keep their place, the candidate
    * lands at its rank, everything below shifts down one (the last slot
    * falls off). The same expression shape serves update (candidate = the
    * input row) and merge (candidates = the right buffer's slots, already
    * sorted, inserted in order). */
  private def insert(st: State, cv: Expression, c1: Expression,
                     c2: Expression, valid: Expression): State = {
    val slotBeats: Seq[Expression] = st.map { case (_, s1, s2) =>
      And(IsNotNull(s1), beats(s1, s2, c1, c2))
    }
    st.zipWithIndex.map { case ((sv, s1, s2), i) =>
      val replaced = And(valid, Not(slotBeats(i)))
      val candidateLandsHere =
        if (i == 0) Literal(true) else slotBeats(i - 1)
      def pick(c: Expression, prev: Expression, cur: Expression): Expression =
        If(replaced, If(candidateLandsHere, c, prev), cur)
      if (i == 0)
        // no slot above to shift from; candidateLandsHere is literally true
        (If(replaced, cv, sv), If(replaced, c1, s1), If(replaced, c2, s2))
      else {
        val (pv, p1, p2) = st(i - 1)
        (pick(cv, pv, sv), pick(c1, p1, s1), pick(c2, p2, s2))
      }
    }
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(ord1), IsNotNull(ord2))
    insert(slots.map { case (v, a, b) => (v: Expression, a, b) },
      valueExpr, ord1, ord2, valid)
      .flatMap { case (v, a, b) => Seq(v, a, b) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    var st: State = slots.map { case (v, a, b) => (v.left, a.left, b.left) }
    for ((v, a, b) <- slots)
      st = insert(st, v.right, a.right, b.right, IsNotNull(a.right))
    st.flatMap { case (v, a, b) => Seq(v, a, b) }
  }

  override lazy val evaluateExpression: Expression = {
    val entries = slots.map { case (v, a, b) =>
      CreateNamedStruct(Seq(
        Literal("v"), v, Literal("o1"), a, Literal("o2"), b))
    }
    val filled = slots.map { case (_, a, _) =>
      If(IsNotNull(a), Literal(1), Literal(0)): Expression
    }.reduce(Add(_, _))
    Slice(CreateArray(entries), Literal(1), filled)
  }

  override def dataType: DataType = evaluateExpression.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case other => other
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): LexTopK =
    copy(valueExpr = newFirst, ord1 = newSecond, ord2 = newThird)
}

object LexTopK {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Array of struct(v, o1, o2) at the k lexicographically greatest
    * (ord1, ord2), best-first. */
  def topKByLex(value: Column, ord1: Column, ord2: Column, k: Int): Column =
    Bridge.column(LexTopK(Bridge.expression(value),
      Bridge.expression(ord1), Bridge.expression(ord2),
      k, isMin = false).toAggregateExpression())

  /** Array of struct(v, o1, o2) at the k lexicographically least
    * (ord1, ord2), best-first. */
  def bottomKByLex(value: Column, ord1: Column, ord2: Column, k: Int): Column =
    Bridge.column(LexTopK(Bridge.expression(value),
      Bridge.expression(ord1), Bridge.expression(ord2),
      k, isMin = true).toAggregateExpression())
}
