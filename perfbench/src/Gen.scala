package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Deterministic gradebook generator and its plain-Scala truth.
  *
  * Everything the program sees is derived from the seed: students, courses,
  * terms, section workbooks and every later re-save. No value comes from
  * the wall clock. A row's posting time (`@timestamp`) is derived from its
  * term and the section version at which its grade last changed, so an
  * unchanged row keeps its bytes (and its content hash) across re-saves and
  * a changed row stays inside its term's `ingest_date` partition.
  */
object Gen {
  val Header: Seq[String] = Seq("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN",
    "F_TENLOP", "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")

  final case class Student(id: String, khoa: Int, homeClass: String, ability: Double)
  final case class Course(code: String, name: String, credits: Int)

  /** One gradebook row, cells as the workbook carries them. */
  final case class Row(posted: String, masv: String, mamh: String, tenmh: String,
                       tenlop: String, khoahoc: String, nhhk: Int, diem: String,
                       dvht: Int, tcdttl: Int) {
    def cells: Seq[String] = Seq(posted, masv, mamh, tenmh, tenlop, khoahoc,
      nhhk.toString, diem, dvht.toString, tcdttl.toString)
    def docId: String = s"${mamh}_${masv}_${khoahoc}_$nhhk"
    def grade: Double = diem.toDouble
  }

  /** One section workbook: a course taught in one term to one group. */
  final class Section(val term: Int, val course: Course, val idx: Int,
                      var rows: Vector[Row], var version: Int) {
    def file: String = f"t$term-${course.code}-$idx%02d.xlsx"
  }

  /** NHHK (year * 10 + semester) of the i-th term. 20251 is skipped: the
    * query excludes it from the GPA by default. */
  def termOf(i: Int): Int = {
    val j = if (i >= 15) i + 1 else i
    (2020 + j / 3) * 10 + j % 3 + 1
  }

  /** The term's posting day; one `ingest_date` partition per term. */
  def termDate(nhhk: Int): java.time.LocalDate =
    java.time.LocalDate.of(nhhk / 10, Array(1, 5, 9)(nhhk % 10 - 1), 15)

  private val Stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def posted(nhhk: Int, version: Int): String =
    termDate(nhhk).atTime(8, 0).plusSeconds(60L * version).format(Stamp)

  /** 10-point grade to the 4-point scale (the query's banding ladder). */
  def grade4(g: Double): Double =
    if (g >= 9.0) 4.0 else if (g >= 8.0) 3.5 else if (g >= 7.0) 3.0
    else if (g >= 6.5) 2.5 else if (g >= 5.5) 2.0 else if (g >= 5.0) 1.5
    else if (g >= 4.0) 1.0 else 0.0

  def fmtGrade(g: Double): String = {
    val t = math.round(math.max(0.0, math.min(10.0, g)) * 10).toInt
    s"${t / 10}.${t % 10}"
  }
}

/** The generated world for one seed: `nStudents` students, each taking
  * `perTerm` courses a term, grouped into sections of at most `sectionCap`.
  * Terms are materialized on demand, in order. */
final class Gen(seed: Long, nStudents: Int, perTerm: Int, sectionCap: Int) {
  import Gen._

  private val rnd = new SplittableRandom(seed)
  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream: reproducible across JVMs
    val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  val students: IndexedSeq[Student] = {
    val seen = mutable.HashSet.empty[String]
    (0 until nStudents).map { _ =>
      val khoa = 46 + rnd.nextInt(5)
      var id = ""
      while (id.isEmpty || seen.contains(id)) id = f"B${khoa - 26}%d${rnd.nextInt(100000)}%05d"
      seen += id
      val m = rnd.nextInt(20)
      val major = if (m < 11) "DI" else if (m < 19) "FL" else "KT" // KT: no requirement dims
      val cls = s"$major$khoa${('A' + rnd.nextInt(3)).toChar}${1 + rnd.nextInt(2)}"
      Student(id, khoa, cls, 6.8 + 1.1 * gauss(rnd))
    }
  }

  private val majorCourses: Map[String, IndexedSeq[Course]] = Map(
    "DI" -> (1 to 24).map(i => Course(f"CT1$i%02d", s"Mang may tinh $i", 2 + i % 3)),
    "FL" -> (1 to 24).map(i => Course(f"NN1$i%02d", s"Ngon ngu Anh $i", 2 + i % 3)),
    "KT" -> (1 to 24).map(i => Course(f"KT1$i%02d", s"Kinh te $i", 3)))
  private val general: IndexedSeq[Course] = (1 to 8).map(i =>
    if (i <= 2) Course(f"TC0$i%02d", s"Giao duc the chat $i*", 1)
    else Course(f"TC0$i%02d", s"Dai cuong $i", 2))

  /** Cumulative passed credits per student, as the registrar posts them. */
  private val cumCredits = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private val terms = mutable.ArrayBuffer.empty[Vector[Section]]

  /** Sections of the i-th term, generating terms up to i on first use. */
  def term(i: Int): Vector[Section] = {
    while (terms.size <= i) terms += makeTerm(terms.size)
    terms(i)
  }

  private def makeTerm(i: Int): Vector[Section] = {
    val nhhk = termOf(i)
    val r = rnd.split()
    val byCourse = mutable.LinkedHashMap.empty[Course, mutable.ArrayBuffer[Student]]
    for (s <- students) {
      val pool = majorCourses(s.homeClass.take(2))
      val picks = mutable.LinkedHashSet.empty[Course]
      while (picks.size < perTerm - 2) picks += pool(r.nextInt(pool.size))
      while (picks.size < perTerm) picks += general(r.nextInt(general.size))
      picks.foreach(c => byCourse.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += s)
    }
    val passedNow = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val drafts = byCourse.toVector.sortBy(_._1.code).flatMap { case (c, ss) =>
      ss.grouped(sectionCap).zipWithIndex.map { case (grp, k) =>
        val grades = grp.map(s => fmtGrade(s.ability + 1.3 * gauss(r)))
        grp.zip(grades).foreach { case (s, g) =>
          if (g.toDouble >= 4.0) passedNow(s.id) += c.credits }
        (c, k, grp.toVector, grades.toVector)
      }
    }
    passedNow.foreach { case (id, n) => cumCredits(id) += n }
    drafts.map { case (c, k, grp, grades) =>
      val rows = grp.zip(grades).map { case (s, g) =>
        Row(posted(nhhk, 0), s.id, c.code, c.name, s.homeClass, s"K${s.khoa}",
          nhhk, g, c.credits, cumCredits(s.id))
      }
      new Section(nhhk, c, k, rows, 0)
    }
  }

  /** Re-save `sec` with 1-3 grades moved to another band (so the GPA moves).
    * Returns the changed students. */
  def regrade(sec: Section, r: SplittableRandom): Seq[String] = {
    val n = math.min(sec.rows.size, 1 + r.nextInt(3))
    val idxs = mutable.LinkedHashSet.empty[Int]
    while (idxs.size < n) idxs += r.nextInt(sec.rows.size)
    sec.version += 1
    val stamp = posted(sec.term, sec.version)
    sec.rows = sec.rows.zipWithIndex.map { case (row, j) =>
      if (!idxs.contains(j)) row
      else {
        var g = row.diem
        while (grade4(g.toDouble) == grade4(row.grade)) g = fmtGrade(r.nextDouble() * 10.0)
        row.copy(posted = stamp, diem = g)
      }
    }
    idxs.toSeq.map(sec.rows(_).masv)
  }
}

object Truth {
  /** Expected answer of the progress query for one student. */
  final case class Answer(dtbctl: Double, status: Option[String], nRecords: Long,
                          completed: Double)
}

/** Plain-Scala truth over every row version that landed: latest posting
  * time per (doc_id, ingest_date) key, then the progress answer. */
final class Truth {
  import Gen._
  import Truth.Answer
  private val byStudent = mutable.HashMap.empty[String, mutable.HashMap[(String, Int), Row]]

  def land(rows: Iterable[Row]): Unit = rows.foreach { r =>
    val m = byStudent.getOrElseUpdate(r.masv, mutable.HashMap.empty)
    val k = (r.docId, r.nhhk)
    m.get(k) match {
      case Some(old) if old.posted >= r.posted => ()
      case _ => m(k) = r
    }
  }

  def rows: Iterator[Row] = byStudent.valuesIterator.flatMap(_.valuesIterator)
  def size: Int = byStudent.valuesIterator.map(_.size).sum
  def studentIds: IndexedSeq[String] = byStudent.keys.toIndexedSeq.sorted

  def answer(id: String): Answer = {
    val rs = byStudent(id).values
    val k = id.substring(1, 3).toInt + 26 // B20 -> cohort 46
    val elig = rs.filter(r => r.grade >= 4.0 && !r.tenmh.contains("*") && r.nhhk != 20251)
    val pts = elig.iterator.map(r => grade4(r.grade) * r.dvht).sum
    val cr = elig.iterator.map(_.dvht.toDouble).sum
    val completed = rs.maxBy(r => (r.nhhk, r.mamh)).tcdttl.toDouble
    val major =
      if (rs.exists(_.tenlop.startsWith("DI"))) Some("MMT")
      else if (rs.exists(_.tenlop.startsWith("FL"))) Some("NNA") else None
    val status = major.map { m =>
      val total = if (m == "MMT") (if (k <= 47) 156 else 161) else 141
      val sems = if (m == "MMT") 13 else 12
      val remaining = total - completed
      val maxIn = (sems - (2024 - (2020 + k - 46)) * 3) * 20
      if (remaining <= 0) "Hoàn thành" else if (remaining <= maxIn) "Đúng tiến độ"
      else "Chậm tiến độ"
    }
    Answer(if (cr > 0) pts / cr else 0.0, status, rs.size.toLong, completed)
  }

  /** Expected transcript of one student, in the query's (NHHK, F_MAMH) order. */
  def transcript(id: String): Seq[Row] =
    byStudent(id).values.toSeq.sortBy(r => (r.nhhk, r.mamh))
}
