package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maps the driver's `events` table (TESTDATA.md) onto the reference's
  * enrollment schema so the flagship query and the §2 operators run — and are
  * oracle-checked — on driver data (FIXTURES.md role mapping: user_id ≙
  * student, event_type ≙ class, value ≙ grade, ts ≙ @timestamp).
  *
  * Every derivation is deterministic and data-driven (no wall clock), so the
  * DuckDB oracle reproduces it exactly; [[sql]] is the same mapping as ANSI
  * SQL for oracle CTEs.
  */
object EventsAdapter {

  /** The excluded "in-progress" semester literal for events-mapped data
    * (≙ the reference's hardcoded 20251, app.py:131). */
  val ExcludedSemester = 20243

  def enrollmentView(events: DataFrame): DataFrame =
    events.select(
      col("ts").as("@timestamp"),
      concat(lit("B2"), (col("user_id") % 5).cast("string"), lit("-"),
        col("user_id").cast("string")).as("F_MASV"),
      col("event_type").as("F_MAMH"),
      concat(col("event_type"),
        when(col("event_id") % 10 === 0, " *").otherwise("")).as("F_TENMHVN"),
      when(col("event_type").startsWith("p") || col("event_type").startsWith("c") ||
           col("event_type").startsWith("e"), concat(lit("DI-"), col("event_type")))
        .otherwise(concat(lit("FL-"), col("event_type"))).as("F_TENLOP"),
      (lit(46) + col("user_id") % 5).cast("string").as("F_KHOAHOC"),
      (lit(20240) + (dayofmonth(col("ts")) - 1) % 3 + 1).cast("int").as("NHHK"),
      (col("value") / 50.0).as("F_DIEM2"),
      ((col("event_id") % 4) + 1).cast("double").as("F_DVHT"),
      ((col("user_id") % 150) + 10).cast("double").as("F_TCDTTL"))

  /** The identical mapping as a SQL SELECT body over `events` (oracle CTE). */
  val sql: String = sqlOver("events")

  /** [[sql]] over another relation with the `events` columns. */
  private[graft] def sqlOver(events: String): String =
    s"""SELECT
      |  ts AS "timestamp",
      |  'B2' || CAST(user_id % 5 AS VARCHAR) || '-' || CAST(user_id AS VARCHAR) AS masv,
      |  event_type AS mamh,
      |  event_type || (CASE WHEN event_id % 10 = 0 THEN ' *' ELSE '' END) AS tenmh,
      |  CASE WHEN event_type LIKE 'p%' OR event_type LIKE 'c%' OR event_type LIKE 'e%'
      |       THEN 'DI-' || event_type ELSE 'FL-' || event_type END AS tenlop,
      |  CAST(46 + user_id % 5 AS VARCHAR) AS khoahoc,
      |  CAST(20240 + (day(ts) - 1) % 3 + 1 AS INT) AS nhhk,
      |  value / 50.0 AS diem2,
      |  CAST((event_id % 4) + 1 AS DOUBLE) AS dvht,
      |  CAST((user_id % 150) + 10 AS DOUBLE) AS tcdttl
      |FROM $events""".stripMargin

  /** SQL twin of [[Progress.gpaEligible]] at [[ExcludedSemester]] over [[sql]]'s
    * columns, null arms included. */
  val gpaEligibleSql: String = "(diem2 >= 4.0 AND NOT coalesce(contains(tenmh, '*'), false) " +
    s"AND (nhhk IS NULL OR nhhk <> $ExcludedSemester))"
}
