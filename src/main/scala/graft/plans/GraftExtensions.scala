package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  ExpressionInfo, IntegerLiteral}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Library-level [[SparkSessionExtensions]]: injects graft's native Catalyst
  * expressions into the SQL function registry at session build time, so pure
  * SQL text — `spark.sql(...)`, a Thrift/Connect client, a notebook cell —
  * can call them without touching the Scala API. Activate with
  *
  * {{{ spark.sql.extensions=graft.plans.GraftExtensions }}}
  *
  * (the [[graft.Verify]] / [[graft.Bench]] entry points set it by default).
  * This is the supported extension seam for a shared cluster: injected
  * builders are part of every session derived from the config, survive
  * `newSession()`, and need no per-session imperative registration.
  *
  * All injected functions resolve to the SAME codegen'd expressions the
  * DataFrame operators use — one implementation, two surfaces.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def one(name: String)(b: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(e) => b(e)
    case args => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${args.length}")
  }

  // SQL literals arrive as DECIMAL/INT — coerce to the expressions' input
  // types the way the DataFrame helpers do with their explicit casts.
  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def dblArr(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))
  private def longArr(e: Expression): Expression =
    Cast(e, ArrayType(LongType))

  /** (identifier, catalog info, builder) triples for ext.injectFunction. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("grade_scale"),
      info("grade_scale", "grade_scale(g10) - 10-point grade to 4.0 band (T16 ladder)"),
      one("grade_scale")(e => graft.functions.GradeScale4(dbl(e)))),
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - sequential-fold double dot product"),
      {
        case Seq(a, b) => graft.functions.DotProduct(dblArr(a), dblArr(b))
        case args => throw new IllegalArgumentException(
          s"dot_product expects 2 arguments, got ${args.length}")
      }),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(tokens, n) - word n-gram shingles of a token array"),
      {
        case Seq(e, IntegerLiteral(n)) => graft.functions.WordShingles(e, n)
        case args => throw new IllegalArgumentException(
          s"word_shingles expects (array, int literal), got ${args.length} args")
      }),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(hashes) - k MinHash minima over a shingle-hash array"),
      one("minhash_sig")(e => graft.functions.MinHashSig(longArr(e),
        graft.ops.Dedup.minhashSeeds, graft.ops.Dedup.P))))
}
