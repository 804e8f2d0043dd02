package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.etl.Enrich.lenientDouble
import graft.functions.GradeScale
import graft.query.Progress

/** Per-student cumulative GPA as keyed streaming state — the flagship A1
  * aggregate (`app.py:137-144`) maintained continuously instead of
  * recomputed per query.
  *
  * `mapGroupsWithState` keeps one tiny (points, credits) accumulator per
  * student; each micro-batch folds its new eligible enrollments into the
  * state and emits the updated cumulative GPA. This is the custom-state
  * extension surface (SURVEY.md §2.5): per-key state is bounded (two
  * doubles + a count), shuffles carry only (masv, pts, cr) partial rows,
  * and state lives in the checkpointed state store — a restart resumes
  * exactly (unlike the reference's in-memory producer state, pro.py:18).
  */
object StatefulGpa {

  /** (cumulative quality points, cumulative eligible credits, rows seen). */
  case class GpaState(points: Double, credits: Double, n: Long)

  /** Emitted once per student per micro-batch that touched the student. */
  case class GpaUpdate(masv: String, dtbctl: Double, credits: Double, n: Long)

  /** A student's state after a batch, as the stateful operator emits it;
    * [[runningGpa]] turns it into a [[GpaUpdate]]. */
  case class GpaTotals(masv: String, points: Double, credits: Double, n: Long)

  /** Rows already reduced to per-student per-batch partials. (Public: the
    * encoder's generated projections cannot access private members.) */
  case class Partial(masv: String, pts: Double, cr: Double, n: Long)

  /** Eligible-course projection: the batch flagship query's predicate,
    * [[Progress.gpaEligible]], over grades and credits read as the report
    * reads them ([[graft.etl.Enrich.lenientDouble]]: junk or NaN is missing). A
    * missing credit adds 0 points and 0 credits, as the report's sums skip
    * it. */
  def eligiblePartials(enrollments: DataFrame, excludedSemester: Int): DataFrame = {
    enrollments.select(col("F_MASV"), col("F_TENMHVN"), col("NHHK"),
        lenientDouble(col("F_DIEM2")).as("F_DIEM2"), lenientDouble(col("F_DVHT")).as("F_DVHT"))
      .filter(Progress.gpaEligible(excludedSemester) && col("F_MASV").isNotNull)
      .select(col("F_MASV").as("masv"),
        coalesce(GradeScale.grade4(col("F_DIEM2")) * col("F_DVHT"), lit(0.0)).as("pts"),
        coalesce(col("F_DVHT"), lit(0.0)).as("cr"))
  }

  /** The stateful leg. Input: any (streaming) frame with masv/pts/cr.
    * Each emitted state's cumulative GPA is the report's ratio,
    * [[Progress.gpa]]. */
  def runningGpa(partials: DataFrame): Dataset[GpaUpdate] = {
    val spark = partials.sparkSession
    import spark.implicits._
    partials.select(col("masv"), col("pts"), col("cr"), lit(1L).as("n"))
      .as[Partial]
      .groupByKey(_.masv)
      .mapGroupsWithState[GpaState, GpaTotals](GroupStateTimeout.NoTimeout) {
        (masv, rows, state: GroupState[GpaState]) =>
          val next = rows.foldLeft(state.getOption.getOrElse(GpaState(0.0, 0.0, 0L))) {
            (s, r) => GpaState(s.points + r.pts, s.credits + r.cr, s.n + r.n)
          }
          state.update(next)
          GpaTotals(masv, next.points, next.credits, next.n)
      }
      .select(col("masv"), Progress.gpa(col("points"), col("credits")).as("dtbctl"),
        col("credits"), col("n")).as[GpaUpdate]
  }

  /** Convenience: full streaming leg from raw enrollments; `Update` output
    * mode (one row per touched student per batch). */
  def stream(enrollments: DataFrame, excludedSemester: Int = 20251): Dataset[GpaUpdate] =
    runningGpa(eligiblePartials(enrollments, excludedSemester))
}
