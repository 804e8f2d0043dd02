package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.query.Progress

/** Flagship-query golden test: one student computed by hand, mirroring
  * app.py:100-158 (SURVEY.md §5.4). */
class ProgressSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-11-01 00:00:00")

  // Student B2100001 (prefix B21 -> khoa 47, start 2021): MMT major (DI class).
  // Courses: (grade, credits, name, nhhk)
  //   8.5, 3cr  -> 3.5 * 3 = 10.5     (counts)
  //   6.5, 2cr  -> 2.5 * 2 = 5.0      (counts; boundary C+)
  //   3.0, 3cr  -> failed (< 4.0, excluded)
  //   9.0, 1cr  but name has '*'      (excluded)
  //   10., 4cr  but NHHK=20251        (excluded, in-progress semester)
  // GPA = 15.5 / 5 = 3.1; F_TCDTTL = 100.
  private val rows = Seq(
    (t0, "B2100001", "C1", "Giải tích", "DI01", "47", Some(20231), "8.5", 3.0, 100.0),
    (t0, "B2100001", "C2", "Vật lý", "DI01", "47", Some(20232), "6.5", 2.0, 100.0),
    (t0, "B2100001", "C3", "Hóa học", "DI01", "47", Some(20232), "3.0", 3.0, 100.0),
    (t0, "B2100001", "C4", "GDTC *", "DI01", "47", Some(20231), "9.0", 1.0, 100.0),
    (t0, "B2100001", "C5", "Triết", "DI01", "47", Some(20251), "10.0", 4.0, 100.0)
  ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
    "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")

  test("golden: GPA, remaining credits, and status match hand computation") {
    val r = Progress.report(spark, rows).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("major") == "MMT")
    assert(row.getAs[Int]("khoa") == 47)
    assert(math.abs(row.getAs[Double]("dtbctl") - 3.1) < 1e-12)
    assert(row.getAs[Double]("completed_credits") == 100.0)
    assert(row.getAs[Int]("total_credits") == 156)        // MMT khoa 47
    assert(row.getAs[Double]("remaining_credits") == 56.0)
    // khoa 47 -> start 2021, elapsed (2024-2021)*3 = 9 of 13 -> 4 semesters left
    assert(row.getAs[Int]("remaining_semesters") == 4)
    // 56 <= 4*20 -> on schedule
    assert(row.getAs[String]("status") == "Đúng tiến độ")
  }

  test("unknown major (no requirement dims) gets NULL status, not a verdict") {
    // Classes with neither DI- nor FL-prefixes give major 'Chưa xác định';
    // the credit/duration dims have no row for it, so remaining_credits is
    // null — the old otherwise() asserted a definite 'Chậm tiến độ' over
    // unknown requirements (review finding; the reference KeyErrors here).
    val unknown = Seq(
      (t0, "B2100099", "C1", "Toán", "XX01", "47", Some(20241), "8.0", 3.0, 30.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val r = Progress.report(spark, unknown).collect().head
    assert(r.getAs[String]("major") == "Chưa xác định")
    assert(r.getAs[String]("status") == null,
      s"unknown requirements must not yield a verdict: ${r.getAs[String]("status")}")
  }

  test("cohort, credit-requirement and duration lookups match app.py:15-36") {
    // The reference tables (SURVEY.md §1.2): prefix B20..B24 -> khoa 46..50;
    // total credits MMT 156/156/161/161/161, NNA 141; duration MMT 13, NNA 12
    // semesters. One student per cohort x class prefix, plus a B19 student,
    // whose unknown prefix app.py drops.
    val cohorts = Seq("B20" -> 46, "B21" -> 47, "B22" -> 48, "B23" -> 49, "B24" -> 50)
    val credits = Map("MMT" -> Map(46 -> 156, 47 -> 156, 48 -> 161, 49 -> 161, 50 -> 161),
      "NNA" -> Map(46 -> 141, 47 -> 141, 48 -> 141, 49 -> 141, 50 -> 141))
    val semesters = Map("MMT" -> 13, "NNA" -> 12)
    val students = for ((prefix, _) <- cohorts; cls <- Seq("DI", "FL"))
      yield s"${prefix}00$cls"
    val input = (students :+ "B1900DI").map { id =>
      (t0, id, "C1", "Toán", s"${id.takeRight(2)}01", "47", Some(20231), "8.0", 3.0, 30.0)
    }.toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val got = Progress.report(spark, input).collect()
      .map(r => r.getAs[String]("F_MASV") -> (r.getAs[String]("major"),
        r.getAs[Int]("khoa"), r.getAs[Int]("total_credits"),
        r.getAs[Int]("remaining_semesters"))).toMap
    val want = (for ((prefix, khoa) <- cohorts; (cls, major) <- Seq("DI" -> "MMT", "FL" -> "NNA"))
      yield s"${prefix}00$cls" -> (major, khoa, credits(major)(khoa),
        semesters(major) - (2024 - (2020 + khoa - 46)) * 3)).toMap
    assert(got == want, s"got $got")
  }

  test("credits audit: registrar figure vs computed passed-credit sum, with delta") {
    // Student A: registrar says 9, transcript sums 6 passed (one failed
    // course's 4 credits excluded) -> delta 3 (e.g. transfer credits).
    // Student B: figures agree -> delta 0. The registrar figure is the
    // A3-pinned latest semester's value, so the stale 5.0 loses.
    val rows = Seq(
      (t0, "A", "C1", "Toán", "FL01", "46", Some(20231), "7.0", 3.0, 5.0),
      (t0, "A", "C2", "Văn", "FL01", "46", Some(20232), "8.0", 3.0, 9.0),
      (t0, "A", "C3", "Lý", "FL01", "46", Some(20232), "2.0", 4.0, 9.0),
      (t0, "B", "C1", "Toán", "DI01", "46", Some(20231), "9.0", 2.0, 2.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val got = Progress.creditsAudit(rows)
      .as[(String, Double, Double, Double)].collect().toSet
    assert(got == Set(("A", 9.0, 6.0, 3.0), ("B", 2.0, 2.0, 0.0)), s"got $got")
  }

  test("zero eligible credits -> GPA 0.0 (app.py:143-144 guard)") {
    val failing = Seq(
      (t0, "B2000009", "C1", "Toán", "FL02", "46", Some(20231), "2.0", 3.0, 10.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val row = Progress.report(spark, failing).collect().head
    assert(row.getAs[Double]("dtbctl") == 0.0)
    assert(row.getAs[String]("major") == "NNA")
  }

  test("major precedence: any DI beats FL (app.py:90-93)") {
    val mixed = Seq(
      (t0, "B2200002", "C1", "A", "FL01", "48", Some(20231), "8.0", 3.0, 50.0),
      (t0, "B2200002", "C2", "B", "DI01", "48", Some(20231), "8.0", 3.0, 50.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val row = Progress.report(spark, mixed).collect().head
    assert(row.getAs[String]("major") == "MMT")
  }

  test("report GPA equals the stateful GPA when a passed row has a null semester or course name") {
    import graft.streaming.StatefulGpa
    // B2100010 passes a 3-credit course (A, 4.0) with a null NHHK beside a
    // 3-credit C (2.0); B2100011 passes a 2-credit course (B, 3.0) with a
    // null course name beside a 2-credit D (1.0). Both rows are eligible:
    // GPA 3.0 and 2.0; dropping them would read 2.0 and 1.0.
    // Grades and credits are read as the report reads them: B2100012's
    // passed row with a NaN credit adds nothing beside a 3-credit A
    // (4.0 over 3); B2100013's NaN grade is no passed A beside a 3-credit C
    // (2.0 over 3); B2100014's passed row with a null credit adds nothing
    // beside a 2-credit B (3.0 over 2).
    val nulls = Seq(
      (t0, "B2100010", "C1", Some("Toán"), "DI01", "47", None, 9.0, Some(3.0), 6.0),
      (t0, "B2100010", "C2", Some("Văn"), "DI01", "47", Some(20231), 5.5, Some(3.0), 6.0),
      (t0, "B2100011", "C1", None, "FL01", "47", Some(20231), 7.0, Some(2.0), 4.0),
      (t0, "B2100011", "C2", Some("Lý"), "FL01", "47", Some(20232), 4.0, Some(2.0), 4.0),
      (t0, "B2100012", "C1", Some("Toán"), "DI01", "47", Some(20231), 9.0, Some(3.0), 3.0),
      (t0, "B2100012", "C2", Some("Văn"), "DI01", "47", Some(20231), 8.0, Some(Double.NaN), 3.0),
      (t0, "B2100013", "C1", Some("Toán"), "DI01", "47", Some(20231), 5.5, Some(3.0), 3.0),
      (t0, "B2100013", "C2", Some("Văn"), "DI01", "47", Some(20231), Double.NaN, Some(3.0), 3.0),
      (t0, "B2100014", "C1", Some("Toán"), "FL01", "47", Some(20231), 8.0, None, 2.0),
      (t0, "B2100014", "C2", Some("Văn"), "FL01", "47", Some(20231), 7.0, Some(2.0), 2.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val report = Progress.report(spark, nulls).collect()
      .map(r => r.getAs[String]("F_MASV") ->
        (r.getAs[Double]("dtbctl"), r.getAs[Double]("credits_earned"))).toMap
    // The stateful leg on a batch frame folds each student's rows once.
    val stateful = StatefulGpa.stream(nulls, excludedSemester = 20251).collect()
      .map(u => u.masv -> (u.dtbctl, u.credits)).toMap
    assert(report == Map("B2100010" -> (3.0, 6.0), "B2100011" -> (2.0, 4.0),
      "B2100012" -> (4.0, 3.0), "B2100013" -> (2.0, 3.0), "B2100014" -> (3.0, 2.0)),
      s"report $report")
    assert(stateful == report, s"stateful $stateful vs report $report")
  }

  test("A3: the registrar figure of the latest semester, its largest present figure on a tie") {
    // B2100030: the latest semester's rows disagree; the largest figure
    // wins whatever the course codes, and the older 15.0 loses.
    // B2100031: only a null-semester row, which still counts.
    // B2100032: a NaN and a null figure lose to the present one in the
    // same semester.
    val regs = Seq(
      (t0, "B2100030", "C5", "Toán", "DI01", "47", Some(20231), "8.0", 3.0, Some(15.0)),
      (t0, "B2100030", "C9", "Văn", "DI01", "47", Some(20232), "8.0", 3.0, Some(10.0)),
      (t0, "B2100030", "C1", "Lý", "DI01", "47", Some(20232), "8.0", 3.0, Some(12.0)),
      (t0, "B2100031", "C1", "Toán", "DI01", "47", None, "8.0", 3.0, Some(7.0)),
      (t0, "B2100032", "C1", "Toán", "FL01", "47", Some(20241), "8.0", 3.0, Some(Double.NaN)),
      (t0, "B2100032", "C2", "Văn", "FL01", "47", Some(20241), "8.0", 3.0, None),
      (t0, "B2100032", "C3", "Lý", "FL01", "47", Some(20241), "8.0", 3.0, Some(5.0))
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val report = Progress.report(spark, regs).collect()
      .map(r => r.getAs[String]("F_MASV") -> r.getAs[Double]("completed_credits")).toMap
    assert(report == Map("B2100030" -> 12.0, "B2100031" -> 7.0, "B2100032" -> 5.0),
      s"report $report")
    val audit = Progress.creditsAudit(regs).collect()
      .map(r => r.getAs[String]("F_MASV") -> r.getAs[Double]("registrar_credits")).toMap
    assert(audit == report, s"audit $audit vs report $report")
  }

  test("a NaN grade or credit cell reads as missing: no credits, no points, flagged by the audit") {
    import graft.etl.Enrich
    import graft.model.Schemas
    // Workbook cells arrive as text and are typed to the enrollment schema
    // (a "NaN" credit cell becomes a NaN double). app.py's comparisons are
    // false on NaN and its sums skip NaN credits, so B2100020 earns nothing:
    // two NaN grades, a passing grade with a NaN credit, and a failed course.
    val cells = Seq(
      Seq("2024-11-01 00:00:00", "B2100020", "C1", "Toán", "DI01", "47", "20231", "NaN", "3", "12"),
      Seq("2024-11-01 00:00:00", "B2100020", "C2", "Văn", "DI01", "47", "20231", "nan", "3", "12"),
      Seq("2024-11-01 00:00:00", "B2100020", "C3", "Lý", "DI01", "47", "20232", "8.5", "NaN", "12"),
      Seq("2024-11-01 00:00:00", "B2100020", "C4", "Hóa", "DI01", "47", "20232", "3.0", "3", "12"))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(cells.map(org.apache.spark.sql.Row.fromSeq)),
      org.apache.spark.sql.types.StructType(Schemas.enrollment.fields.map(f =>
        f.copy(dataType = org.apache.spark.sql.types.StringType))))
      .select(Schemas.enrollment.fields.toIndexedSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
    val flagged = Enrich.auditInvalid(raw).select("F_MAMH").as[String].collect().toSet
    assert(flagged == Set("C1", "C2"), s"flagged $flagged")
    val enriched = Enrich.consumerPipeline(raw)
    assert(enriched.count() == 4)
    val r = Progress.report(spark, enriched).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("credits_earned") == 0.0, r.head)
    assert(r.head.getAs[Double]("total_points") == 0.0, r.head)
    assert(r.head.getAs[Double]("dtbctl") == 0.0, r.head)
    val audit = Progress.creditsAudit(enriched).select("computed_credits").as[Double].collect()
    assert(audit.toSeq == Seq(0.0), s"audit ${audit.toSeq}")
  }

  test("transcript is the app.py table: filtered, projected, sorted") {
    val t = Progress.transcript(rows, "B2100001").collect()
    assert(t.length == 5)
    assert(t.map(_.getAs[Int]("NHHK")).toSeq == Seq(20231, 20231, 20232, 20232, 20251))
    assert(t.head.schema.fieldNames.toSeq == Seq("F_MAMH", "F_TENMHVN", "F_DVHT",
      "F_MASV", "F_TENLOP", "NHHK", "F_DIEM2", "F_TCDTTL"))
  }
}
