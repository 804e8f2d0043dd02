package graft

import org.apache.spark.sql.functions._
import graft.functions.{GradeScale, GradeScale4}

/** T16 banding — boundary-exact per app.py:39-55 (SURVEY.md §5.2). */
class GradeScaleSpec extends SparkSpec {
  import spark.implicits._

  private val expected = Seq(
    10.0 -> 4.0, 9.0 -> 4.0, 8.999999 -> 3.5, 8.0 -> 3.5, 7.999 -> 3.0,
    7.0 -> 3.0, 6.99 -> 2.5, 6.5 -> 2.5, 6.49 -> 2.0, 5.5 -> 2.0,
    5.49 -> 1.5, 5.0 -> 1.5, 4.999 -> 1.0, 4.0 -> 1.0, 3.999999 -> 0.0,
    0.0 -> 0.0)

  test("when-chain ladder matches app.py boundaries exactly") {
    val got = expected.map(_._1).toDF("g")
      .select(col("g"), GradeScale.grade4(col("g")).as("g4"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    expected.foreach { case (in, out) => assert(got(in) == out, s"grade $in") }
  }

  test("native Expression agrees with when-chain on all boundaries") {
    expected.foreach { case (in, out) => assert(GradeScale4.eval(in) == out) }
  }

  test("null stays null, ladder is monotone, range is [0,4]") {
    val r = Seq[Option[Double]](None).toDF("g")
      .select(GradeScale.grade4(col("g"))).collect()
    assert(r.head.isNullAt(0))
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val (a, b) = (rnd.nextDouble() * 10, rnd.nextDouble() * 10)
      val (ga, gb) = (GradeScale4.eval(a), GradeScale4.eval(b))
      assert(ga >= 0.0 && ga <= 4.0)
      if (a <= b) assert(ga <= gb) else assert(ga >= gb)
    }
  }
}
