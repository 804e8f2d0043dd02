package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DataType, DoubleType}

/** 10-point-scale -> 4.0-scale grade banding (reference `app.py:39-55`, T16).
  *
  * The reference applies a Python function row-by-row via `df.apply`. Here the
  * ladder is a native Catalyst expression chain — whole-stage-codegen'd, no
  * UDF — plus an equivalent hand-written `Expression` with `doGenCode` as the
  * demonstration-quality custom-expression surface (SURVEY.md §4).
  */
object GradeScale {

  /** Threshold ladder, highest first: (min 10-scale grade, 4-scale grade). */
  val bands: Seq[(Double, Double)] = Seq(
    9.0 -> 4.0, // A
    8.0 -> 3.5, // B+
    7.0 -> 3.0, // B
    6.5 -> 2.5, // C+
    5.5 -> 2.0, // C
    5.0 -> 1.5, // D+
    4.0 -> 1.0  // D
  )                // else 0.0 (F)

  /** Built-in `when` chain — preferred form (codegen-friendly, oracle-exact). */
  def grade4(c: Column): Column =
    bands.foldLeft(Option.empty[Column]) { case (acc, (lo, g)) =>
      Some(acc.fold(when(c >= lo, g))(_.when(c >= lo, g)))
    }.get.otherwise(when(c.isNotNull, 0.0))

  /** The identical ladder as ANSI SQL CASE — used to build oracle queries. */
  def grade4Sql(col: String): String =
    bands.map { case (lo, g) => s"WHEN $col >= $lo THEN $g" }
      .mkString("CASE ", " ", s" WHEN $col IS NOT NULL THEN 0.0 ELSE NULL END")
}

/** Native Catalyst expression form of the T16 ladder with full codegen.
  * Semantically identical to [[GradeScale.grade4]]; exists to exercise the
  * custom-`Expression` extension surface (SURVEY.md §7.3).
  */
case class GradeScale4(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    GradeScale4.eval(input.asInstanceOf[Double])

  // MODULE$ call: the static forwarder for the companion's `eval(double)` is
  // suppressed by the inherited `eval(InternalRow)`, same trap as WordShingles.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GradeScale4$$.MODULE$$.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): GradeScale4 =
    copy(child = newChild)
}

object GradeScale4 {
  private val lows: Array[Double] = GradeScale.bands.map(_._1).toArray
  private val grades: Array[Double] = GradeScale.bands.map(_._2).toArray

  /** The [[GradeScale.bands]] ladder, shared by the interpreted and codegen
    * paths. Compares in Spark's SQL double ordering (NaN above every
    * double), as the when-chain's `>=` does, so both forms band every
    * input alike. */
  def eval(d: Double): Double = {
    var i = 0
    while (i < lows.length && SQLOrderingUtil.compareDoubles(d, lows(i)) < 0) i += 1
    if (i < lows.length) grades(i) else 0.0
  }
}
