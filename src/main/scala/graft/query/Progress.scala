package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Enrich.lenientDouble
import graft.functions.{GradeScale, LexArgExtreme}

/** The flagship analytical query: per-student degree progress + cumulative
  * GPA (ĐTBCTL) on the 4.0 scale — reference `app.py:58-191` (SURVEY.md §3.3,
  * operators T10-T21, A1-A4).
  *
  * The reference runs it one student at a time (ES point lookup -> pandas).
  * Here it is set-at-a-time: one pass over the whole enrollment table computes
  * every student's report — the shape that actually works on a cluster. A
  * single-student report is the same plan plus a pushed-down point filter.
  *
  * Parameterized where the reference hardcodes wall-clock facts
  * (`current_year=2024` app.py:102, excluded semester 20251 app.py:131) so
  * goldens stay reproducible (SURVEY.md §7.4).
  */
object Progress {

  case class Params(currentYear: Int = 2024, excludedSemester: Int = 20251)

  // T18: the static lookup tables compiled into the reference app
  // (app.py:15-36), as literal maps read per row (SURVEY.md §1.3): a lookup
  // is an expression inside the aggregate's own stages, so an answer runs
  // no join and no broadcast job for them.

  /** student-id prefix -> cohort number (app.py:15-21). */
  private val cohort = typedLit(Map("B20" -> 46, "B21" -> 47, "B22" -> 48,
    "B23" -> 49, "B24" -> 50))

  /** major -> cohort -> total credits required (app.py:24-27). */
  private val creditReq = typedLit(Map(
    "MMT" -> Map(46 -> 156, 47 -> 156, 48 -> 161, 49 -> 161, 50 -> 161),
    "NNA" -> (46 to 50).map(_ -> 141).toMap))

  /** major -> cohort -> program duration in semesters (app.py:33-36). */
  private val duration = typedLit(Map(
    "MMT" -> (46 to 50).map(_ -> 13).toMap,
    "NNA" -> (46 to 50).map(_ -> 12).toMap))

  /** T14/T15: GPA-eligible rows: passed (>= 4.0), not '*'-marked, not the
    * in-progress `excludedSemester`. A null course name or semester leaves a
    * passed row eligible. The one definition behind the report, the
    * `flagship_gpa_trend` query and the stateful GPA. */
  def gpaEligible(excludedSemester: Int): Column =
    col("F_DIEM2") >= 4.0 &&
      !coalesce(col("F_TENMHVN").contains("*"), lit(false)) &&
      (col("NHHK").isNull || col("NHHK") =!= excludedSemester)

  /** A1: weighted GPA with zero-denominator guard (app.py:137-144). */
  def gpa(points: Column, credits: Column): Column =
    when(credits > 0, points / credits).otherwise(0.0)

  /** A3: the registrar's cumulative credits (`F_TCDTTL`, app.py:108). The
    * reference takes `iloc[0]` of an unordered hit list; we pin the figure of
    * the latest semester (SURVEY.md §7.4). A null semester still counts,
    * ranked below every real one. Within a semester the largest figure wins:
    * a cumulative counter posts its largest figure last, and the pick then
    * depends only on the (semester, figure) pairs, never on row order or
    * course-code spelling. The figure is read like the other numeric fields,
    * so a junk or NaN figure is missing and never beats a present one. Both
    * ordering keys are primitive, so the aggregate stays on codegen
    * HashAggregate (a struct ordering would plan SortAggregate). */
  private def registrarCredits: Column = {
    val v = lenientDouble(col("F_TCDTTL"))
    LexArgExtreme.maxByLex(v, coalesce(col("NHHK"), lit(Int.MinValue)), v)
  }

  /** All-students progress report over an enriched enrollment table.
    *
    * Reads columns: F_MASV, F_TENMHVN, F_TENLOP, NHHK, F_DIEM2, F_DVHT,
    * F_TCDTTL.
    */
  def report(spark: SparkSession, enrollment: DataFrame,
             params: Params = Params()): DataFrame = {
    val p = params

    // T18: cohort from student-id prefix (app.py:86); app.py drops unknown
    // prefixes, and so does the not-null filter. T13: query-side coercing
    // casts (app.py:124-125), NaN read as missing.
    val typed = enrollment.select(col("F_MASV"),
      cohort(substring(col("F_MASV"), 1, 3)).as("khoa"),
      col("F_TENMHVN"), col("F_TENLOP"), col("NHHK"),
      lenientDouble(col("F_DIEM2")).as("F_DIEM2"),
      lenientDouble(col("F_DVHT")).as("F_DVHT"),
      col("F_TCDTTL"))
      .filter(col("khoa").isNotNull)

    val eligible = gpaEligible(p.excludedSemester)

    // T16: banding; A1 numerator/denominator as conditional partial aggregates
    // (map-side combine — one shuffle on F_MASV for the whole report).
    val grade4 = GradeScale.grade4(col("F_DIEM2"))

    // The coalesce on khoa never fires after the filter: it only types khoa
    // non-null in the output schema.
    val perStudent = typed.groupBy(col("F_MASV"), coalesce(col("khoa"), lit(0)).as("khoa")).agg(
      // A2: major from ANY class prefix, DI checked before FL (app.py:90-98).
      max(when(col("F_TENLOP").startsWith("DI"), 1).otherwise(0)).as("any_di"),
      max(when(col("F_TENLOP").startsWith("FL"), 1).otherwise(0)).as("any_fl"),
      sum(when(eligible, grade4 * col("F_DVHT")).otherwise(0.0)).as("total_points"),
      sum(when(eligible, col("F_DVHT")).otherwise(0.0)).as("credits_earned"),
      registrarCredits.as("completed_credits"),
      count(lit(1)).as("n_records") // A4
    )

    val major = when(col("any_di") === 1, "MMT")
      .when(col("any_fl") === 1, "NNA")
      .otherwise("Chưa xác định")
    // T18: (major, cohort) requirements; the unknown major has none (null).
    val totalCredits = creditReq(major)(col("khoa"))
    val totalSemesters = duration(major)(col("khoa"))
    // T19: progress arithmetic (app.py:102-121).
    val startYear = lit(2020) + (col("khoa") - 46)
    val yearsElapsed = lit(p.currentYear) - startYear
    val semestersElapsed = yearsElapsed * 3
    val remainingCredits = totalCredits - col("completed_credits")
    val remainingSemesters = totalSemesters - semestersElapsed
    val maxInTime = remainingSemesters * 20 // credits per regular semester (app.py:30)

    // T20: tri-state status (app.py:154-178). A student whose requirements
    // are UNKNOWN (major 'Chưa xác định' — no creditReq/duration entry)
    // gets a NULL status, not a verdict: the null remaining_credits made
    // both when() arms null-false and the otherwise asserted a definite
    // 'Chậm tiến độ' over unknown requirements (review finding). The
    // reference raises KeyError here; a null verdict is the documented
    // sane deviation (same class as the null lookup itself).
    val status = when(remainingCredits.isNull, lit(null).cast("string"))
      .when(remainingCredits <= 0, "Hoàn thành")
      .when(remainingCredits <= maxInTime, "Đúng tiến độ")
      .otherwise("Chậm tiến độ")

    perStudent.select(major.as("major"), col("khoa"), col("F_MASV"),
      col("total_points"), col("credits_earned"), col("completed_credits"),
      col("n_records"),
      totalCredits.as("total_credits"),
      totalSemesters.as("total_semesters"),
      startYear.as("start_year"),
      yearsElapsed.as("years_elapsed"),
      semestersElapsed.as("semesters_elapsed"),
      remainingCredits.as("remaining_credits"),
      remainingSemesters.as("remaining_semesters"),
      maxInTime.as("max_credits_remaining_in_time"),
      (col("completed_credits") / totalCredits * 100).as("progress_pct"),
      gpa(col("total_points"), col("credits_earned")).as("dtbctl"),
      status.as("status"))
  }

  /** Registrar cross-check (SURVEY.md §5, the reference's one implicit
    * correctness oracle): the registrar-computed cumulative credits
    * (`F_TCDTTL`, app.py:108) ride along in the data and can be audited
    * against OUR sum of passed credits per student. Output one row per
    * student: the A3-pinned registrar figure, the computed sum (passed =
    * grade ≥ 4.0, the `app.py:137` passing bar; '*'-marked courses are
    * credit-bearing here — only the GPA excludes them), and the delta.
    * A nonzero delta flags registrar/transcript drift — bad feed rows,
    * transfer credits outside the transcript, or a broken upstream join.
    * The registrar figure is typed like the others by the A3 pick, so a
    * junk registrar value audits as a null delta. One shuffle on the
    * student key; metrics-sized output. */
  def creditsAudit(enrollment: DataFrame): DataFrame = {
    val grade = lenientDouble(col("F_DIEM2"))
    val credits = lenientDouble(col("F_DVHT"))
    enrollment.groupBy("F_MASV").agg(
      registrarCredits.as("registrar_credits"),
      sum(when(grade >= 4.0, credits).otherwise(0.0)).as("computed_credits"))
      .withColumn("delta", col("registrar_credits") - col("computed_credits"))
  }

  /** Single-student transcript view (the table the reference renders):
    * T10 point filter, T12 projection, sort, T21. T17's year/semester split
    * (`nam_hoc`, `hoc_ky`) is dropped again before the reference renders
    * (T21), so it is not built. */
  def transcript(enrollment: DataFrame, masv: String): DataFrame =
    enrollment
      .filter(col("F_MASV") === masv)                                      // T10
      .select("F_MAMH", "F_TENMHVN", "F_DVHT", "F_MASV", "F_TENLOP",
        "NHHK", "F_DIEM2", "F_TCDTTL")                                     // T12
      // T11 cap applied ON the sort order, ties broken by course code for
      // a total order: the reference's ES size=1000 cap returns an
      // arbitrary subset, and a limit BEFORE any sort reproduces that
      // nondeterminism in Spark — a >1000-record student's transcript
      // would differ run to run (review finding). Deterministic-cap is the
      // same documented pinning T2/A3 apply to the reference's other
      // arbitrary orders.
      .orderBy(col("NHHK"), col("F_MAMH"))                                 // sort
      .limit(1000)                                                         // T11
}
