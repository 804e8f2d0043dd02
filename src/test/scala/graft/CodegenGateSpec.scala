package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Codegen-fallback regression gate.
  *
  * Round-2 postmortem: `WordShingles.doGenCode` emitted a call to the
  * companion's `eval`, whose static forwarder scalac suppresses (the case
  * class inherits `eval(InternalRow)` from Expression). Janino failed to
  * compile every stage containing the expression and Spark *silently* fell
  * back to interpreted evaluation — a 25× CPU regression on the dedup family
  * that correctness tests cannot see.
  *
  * This spec makes that failure loud: with `spark.sql.codegen.fallback=false`
  * a whole-stage compile error aborts the query, and with
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` non-wholestage expression
  * codegen (projections, predicates) must compile too. Every custom
  * `doGenCode` expression and the headline queries that embed them run here.
  */
class CodegenGateSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withStrictCodegen[A](body: => A): A =
    graft.streaming.Replay.withConfs(spark, Map(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))(body)

  test("WordShingles compiles under strict codegen and matches interpreted eval") {
    withStrictCodegen {
      val df = Seq(
        (1L, Seq("a", "b", "c", "d")),
        (2L, Seq("solo")),
        (3L, Seq.empty[String])
      ).toDF("id", "toks")
      val out = df
        .select($"id", Bridge.column(
          graft.functions.WordShingles(Bridge.expression(col("toks")), 3)).as("sh"))
        .orderBy("id")
        .as[(Long, Seq[String])]
        .collect()
      assert(out(0)._2 == Seq("a b c", "b c d"))
      assert(out(1)._2 == Seq("solo"))
      assert(out(2)._2 == Seq(""))
    }
  }

  test("GradeScale4 compiles under strict codegen and matches the when-chain") {
    withStrictCodegen {
      // NaN sorts above every double in Spark SQL, so the chain bands it
      // 4.0; the native ladder must compare the same way
      val grades = Seq(9.5, 9.0, 8.9, 8.0, 7.0, 6.5, 5.5, 5.0, 4.0, 3.9, 0.0,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).map(Option(_)) :+ None
      val df = grades.toDF("g")
      val out = df.select(
        Bridge.column(graft.functions.GradeScale4(Bridge.expression(col("g")))).as("native"),
        graft.functions.GradeScale.grade4(col("g")).as("chain")
      ).collect()
      assert(out.length == grades.length)
      out.foreach(r => assert(r.get(0) == r.get(1), s"mismatch: $r"))
    }
  }

  test("MinHashSig compiles under strict codegen and matches the aggregate minima") {
    withStrictCodegen {
      val df = Seq((1L, Seq(5L, 17L, 5L, 999999L))).toDF("id", "hs")
      val sig = df.select(Bridge.column(graft.functions.MinHashSig(
          Bridge.expression(col("hs")), graft.ops.Dedup.minhashSeeds, graft.ops.Dedup.P))
          .as("sig"))
        .as[Seq[Long]].head()
      val expected = graft.ops.Dedup.minhashSeeds.map { case (a, b) =>
        Seq(5L, 17L, 999999L).map(h => (a * h + b) % graft.ops.Dedup.P).min
      }
      assert(sig == expected)
      // empty array -> null
      val nullSig = Seq((1L, Seq.empty[Long])).toDF("id", "hs")
        .select(Bridge.column(graft.functions.MinHashSig(
          Bridge.expression(col("hs")), graft.ops.Dedup.minhashSeeds, graft.ops.Dedup.P)))
        .collect()(0)
      assert(nullSig.isNullAt(0))
    }
  }

  test("DotProduct compiles under strict codegen") {
    withStrictCodegen {
      val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      val v = df.select(Bridge.column(
        graft.functions.DotProduct(Bridge.expression(col("a")), Bridge.expression(col("b")))).as("d"))
        .as[Double].head()
      assert(v == 32.0)
    }
  }

  test("headline custom-expression queries run with fallback disabled") {
    withStrictCodegen {
      // d2/d3 embed WordShingles in the sketch stage; t16 native embeds
      // GradeScale4; e1 embeds DotProduct. Any codegen compile error aborts.
      for (q <- Seq("d2_minhash_sig", "d3_lsh_jaccard_pairs", "d7_minhash_rowsig",
                    "t16_grade_band_native", "e1_cosine_topk")) {
        val n = SparkEntry.queries(q)(spark, sf).count()
        assert(n >= 0, s"$q failed under strict codegen")
      }
    }
  }
}
