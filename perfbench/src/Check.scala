package perfbench

import org.apache.spark.sql.Row

/** Every answer the program gives is compared with the generator's truth.
  * A mismatch is returned as a reason; the run counts it as failed and
  * goes on. */
object Check {
  private def answerRow(truth: Truth, r: Row): Option[String] = {
    val id = r.getAs[String]("F_MASV")
    val exp = truth.answer(id)
    val got = (r.getAs[Double]("dtbctl"), Option(r.getAs[String]("status")),
      r.getAs[Long]("n_records"), r.getAs[Double]("completed_credits"))
    if (math.abs(got._1 - exp.dtbctl) > 1e-9 || got._2 != exp.status ||
        got._3 != exp.nRecords || got._4 != exp.completed)
      Some(s"$id report $got, expected $exp")
    else None
  }

  def answer(truth: Truth, id: String, report: Array[Row], transcript: Array[Row]): Option[String] =
    if (report.length != 1) Some(s"${report.length} report rows")
    else answerRow(truth, report(0)).orElse {
      val exp = truth.transcript(id).map(x => (x.mamh, x.tenmh, x.dvht.toDouble, x.masv,
        x.tenlop, x.nhhk, x.grade, x.tcdttl.toDouble))
      val got = transcript.toSeq.map(r => (r.getAs[String]("F_MAMH"),
        r.getAs[String]("F_TENMHVN"), r.getAs[Double]("F_DVHT"), r.getAs[String]("F_MASV"),
        r.getAs[String]("F_TENLOP"), r.getAs[Int]("NHHK"), r.getAs[Double]("F_DIEM2"),
        r.getAs[Double]("F_TCDTTL")))
      if (got != exp) Some(s"transcript of ${got.size} rows differs from ${exp.size} expected")
      else None
    }

  def report(truth: Truth, rows: Array[Row]): Option[String] = {
    val n = truth.studentIds.size
    if (rows.length != n) Some(s"${rows.length} report rows, expected $n")
    else rows.iterator.flatMap(answerRow(truth, _)).nextOption()
  }

  /** The settled store equals a one-shot latest-by-key arbitration of every
    * version that landed. */
  def store(truth: Truth, rows: Array[(String, String, String, Double)]): Option[String] = {
    val exp = truth.rows.map(r => (r.docId, Gen.termDate(r.nhhk).toString) ->
      (r.posted, r.grade)).toMap
    val got = rows.map(r => (r._1, r._2) -> (r._3, r._4))
    if (got.length != exp.size) Some(s"${got.length} rows, expected ${exp.size}")
    else got.iterator.collectFirst {
      case (k, v) if !exp.get(k).contains(v) => s"$k holds $v, expected ${exp.get(k)}"
    }
  }
}
