package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.{Enrich, Ingest}
import graft.model.Tables
import graft.query.{EventsAdapter, Progress}

/** The registry rows that certify the paper's rules (T1, T3/T4, T6-T9,
  * T14/T15) run the program's own functions: each registered frame equals
  * the function applied directly to the same shaped input, and that input
  * fires every branch of the rule, so the DuckDB oracle checks the code the
  * paper path runs. */
class PaperRulesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def events = Tables(spark, sf, "events")
  private def enrollment = SparkEntry.shapedEnrollment(events)
  private def cells = SparkEntry.workbookCells(events)

  /** The registered frame, after checking it equals `direct` as a multiset
    * with the same columns. */
  private def registeredAs(name: String, direct: DataFrame): DataFrame = {
    val got = SparkEntry.queries(name)(spark, sf)
    assert(got.columns.toSeq == direct.columns.toSeq, s"$name: columns differ")
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      s"$name differs from its function on the same input")
    got
  }

  private def fires(branch: String, df: DataFrame): Unit =
    assert(!df.isEmpty, s"branch never fires: $branch")

  test("t1_delta_antijoin is Ingest.deltaDedup: rows outside the seen slice are dropped and kept") {
    val proj = Seq("F_TENLOP", "F_MASV", "NHHK").map(col)
    val inSlice = col("F_DVHT") <= 2.0
    val seen = enrollment.filter(inSlice).select(proj: _*)
    val kept = registeredAs("t1_delta_antijoin",
      Ingest.deltaDedup(enrollment.select(proj: _*), seen.select(Ingest.rowHash(seen).as("row_hash")))
        .drop("row_hash"))
    val outside = enrollment.filter(!inSlice).count()
    fires("kept", kept)
    assert(kept.count() < outside, "no row outside the seen slice was dropped")
  }

  test("t3_null_normalize is Ingest.normalizeEmpty + columnFirst over cells holding ''") {
    val out = registeredAs("t3_null_normalize", Ingest.columnFirst(
      Ingest.normalizeEmpty(cells, Enrich.stringCells), "@timestamp"))
    val blank = Enrich.stringCells.map(c => col(c) === "").reduce(_ || _)
    Seq("F_MAMH", "F_TENMHVN", "F_DIEM2").foreach(c => fires(s"'' in $c", cells.filter(col(c) === "")))
    assert(out.filter(blank).isEmpty)
    assert(out.columns.head == "@timestamp")
  }

  test("t6_lenient_cast is Enrich.castGrade + auditInvalid over numeric, junk and NaN grades") {
    registeredAs("t6_lenient_cast", Enrich.castGrade(cells).unionByName(
      Enrich.auditInvalid(cells).withColumnRenamed("F_DIEM2", "invalid_grade"),
      allowMissingColumns = true))
    fires("numeric grade", Enrich.castGrade(cells).filter(col("F_DIEM2").isNotNull))
    val flagged = Enrich.auditInvalid(cells).select("F_DIEM2").distinct().as[String].collect().toSet
    assert(Set("junk", "NaN").subsetOf(flagged), s"audit flagged $flagged")
  }

  test("t7_conditional_enrich is Enrich.enrichMajorColumns over FL, DI and unguarded rows") {
    val out = registeredAs("t7_conditional_enrich", Enrich.enrichMajorColumns(enrollment))
    fires("FL row", out.filter(col("NNA").isNotNull))
    fires("DI row", out.filter(col("MMT").isNotNull))
    val unguarded = out.filter(col("F_TENLOP").isNull || col("F_TENMHVN").isNull)
    fires("guard fails on the class", unguarded.filter(col("F_TENLOP").isNull))
    fires("guard fails on the course name alone", unguarded.filter(col("F_TENLOP").isNotNull))
    val enriched = Seq("NNA", "DIEM_NNA", "MMT", "DIEM_MMT").map(col(_).isNotNull).reduce(_ || _)
    assert(unguarded.filter(enriched).isEmpty)
  }

  test("t8_composite_key is Enrich.compositeKey + rejected: 4-field, 3-field and rejected rows") {
    val keyed = Enrich.compositeKey(enrollment)
    registeredAs("t8_composite_key", keyed.withColumn("side", lit("keyed"))
      .union(Enrich.rejected(keyed).withColumn("side", lit("rejected"))))
    fires("4-field key", keyed.filter(col("doc_id").isNotNull && col("NHHK").isNotNull))
    fires("3-field fallback", keyed.filter(col("doc_id").isNotNull && col("NHHK").isNull))
    fires("rejected", Enrich.rejected(keyed))
  }

  test("t9_partition_route is Enrich.consumerPipeline: two ingest dates, null keys filtered") {
    val out = registeredAs("t9_partition_route", Enrich.consumerPipeline(cells))
    assert(out.select("ingest_date").distinct().count() >= 2)
    assert(out.count() < cells.count(), "no null-key row was filtered out")
  }

  test("t14_t15_filters is Progress.gpaEligible: each conjunct excludes a row, null arms keep one") {
    val eligible = Progress.gpaEligible(EventsAdapter.ExcludedSemester)
    registeredAs("t14_t15_filters", enrollment.filter(eligible))
    val passed: Column = col("F_DIEM2") >= 4.0
    val unmarked = !coalesce(col("F_TENMHVN").contains("*"), lit(false))
    val current = col("NHHK").isNull || col("NHHK") =!= EventsAdapter.ExcludedSemester
    fires("failed grade", enrollment.filter(!passed && unmarked && current))
    fires("'*'-marked course", enrollment.filter(passed && !unmarked && current))
    fires("excluded semester", enrollment.filter(passed && unmarked && !current))
    fires("null semester kept", enrollment.filter(eligible && col("NHHK").isNull))
    fires("null course name kept", enrollment.filter(eligible && col("F_TENMHVN").isNull))
  }
}
