package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft session is built: every main and the test trait call
  * [[build]], so a conf a query's speed or result depends on holds by
  * construction instead of by each caller remembering it.
  *
  * Build-time confs (master, the shuffle writer threshold, extensions) only
  * take effect when this call creates the SparkContext; the rest are SQL
  * confs, which also reach every `newSession()` of it. Loading a table
  * (`model.Tables`) sets nothing. */
object Session {

  /** Cores for a driver-run main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def build(cpus: Int, width: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(ShuffleWriterThreshold._1, ShuffleWriterThreshold._2)
      // Storage shims for the testdata parquet (see model.Tables): read
      // TIMESTAMP(NANOS) as long, and naive TIMESTAMP_MICROS as TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Spark 4's ICU-backed lower()/upper() triggers
      // CollationAwareUTF8String.<clinit>, which builds a full ICU titlecase
      // table on first use — measured ~60 s of CPU once per JVM, blocking
      // every concurrent task (profiled via jstack: all 32 tasks parked on
      // the class-init monitor). JVM case mapping is identical on our
      // corpora and matches DuckDB, so opt out of ICU.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Static (builder-time) conf: the bypass-merge shuffle writer keeps one
    * buffered stream PER REDUCE PARTITION open in every map task, and the
    * lexical family's volume-derived pair/agg exchanges routinely land in
    * the 65–199 partition band where that is 3× slower than the sort-based
    * writer (×100 probe, plans/r20: the 183-wide pair stage read 313 s of
    * task time under bypass, 110 s under sort, same records/bytes). 64
    * keeps the session-width (≤ core count) exchanges — the common case —
    * on the bypass fast path and puts every derived-width exchange on the
    * sort writer, which is also Spark's own default regime past 200. Core
    * conf, not runtime-settable. */
  val ShuffleWriterThreshold: (String, String) =
    "spark.shuffle.sort.bypassMergeThreshold" -> "64"
}
