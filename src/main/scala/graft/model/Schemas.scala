package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Declared schemas for the reference's data model (SURVEY.md §1).
  *
  * The reference (`/root/reference/src/pro.py:38-44`) never declares a schema —
  * column names come from the Excel header row at runtime and Elasticsearch
  * dynamic mapping infers types on ingest. We declare the schema the reference
  * leaves implicit: one row per student-course-enrollment record, every grade
  * field nullable (rows may omit fields; `pro.py:76` deletes None/'' keys).
  */
object Schemas {

  /** The enrollment record (reference `con.py` / `app.py` field usage). */
  val enrollment: StructType = StructType(Seq(
    StructField("@timestamp", TimestampType, nullable = true),
    StructField("F_MASV", StringType, nullable = true),     // student id
    StructField("F_MAMH", StringType, nullable = true),     // course code
    StructField("F_TENMHVN", StringType, nullable = true),  // course name; '*' = non-GPA
    StructField("F_TENLOP", StringType, nullable = true),   // class; DI->MMT, FL->NNA
    StructField("F_KHOAHOC", StringType, nullable = true),  // intake cohort
    StructField("NHHK", IntegerType, nullable = true),      // YYYYS year+semester
    StructField("F_DIEM2", StringType, nullable = true),    // grade, string at ingest (con.py:39)
    StructField("F_DVHT", DoubleType, nullable = true),     // credits
    StructField("F_TCDTTL", DoubleType, nullable = true)    // registrar cumulative credits
  ))

  /** Enrollment after consumer-side enrichment (reference `con.py:35-63`). */
  val enrichedEnrollment: StructType = StructType(enrollment.fields.map {
    case StructField("F_DIEM2", _, _, m) => StructField("F_DIEM2", DoubleType, nullable = true, m)
    case f => f
  } ++ Seq(
    StructField("NNA", StringType, nullable = true),
    StructField("DIEM_NNA", DoubleType, nullable = true),
    StructField("MMT", StringType, nullable = true),
    StructField("DIEM_MMT", DoubleType, nullable = true),
    StructField("doc_id", StringType, nullable = true),
    StructField("ingest_date", DateType, nullable = true)
  ))
}

/** Loader for the driver's parquet tables (TESTDATA.md).
  *
  * Timestamp storage has changed under us twice, so this loader is the single
  * normalization point for `ts` (LoaderContractSpec pins it):
  *   - TIMESTAMP(NANOS): Spark 4 rejects it by default; read nanos as long
  *     and truncate to a micros timestamp — exactly what DuckDB does.
  *   - TIMESTAMP_MICROS with isAdjustedToUTC=0: Spark 4 infers TIMESTAMP_NTZ,
  *     which `unix_millis`/`unix_micros` reject at analysis. With NTZ
  *     inference off it reads as plain TimestampType; the session timezone is
  *     UTC everywhere, so the wall-clock values are identical to DuckDB's
  *     naive-timestamp reading and oracle hashes agree. A cast branch below
  *     catches any NTZ column that still slips through (e.g. a future
  *     explicitly-annotated NTZ logical type).
  *
  * The two shims (`nanosAsLong`, NTZ inference off) are session confs set by
  * [[graft.Session.build]]; loading a table reads and normalizes only.
  */
object Tables {

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val fixed = df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // TIMESTAMP(NANOS) via nanosAsLong shim
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
    // Cast EVERY explicitly-NTZ-annotated column (inference is off, but
    // an explicit TIMESTAMP_NTZ logical type still reads as NTZ) — the naive
    // columns are not just `ts`: orders.o_orderdate and lineitem.l_shipdate
    // share the storage convention. Value-preserving under the UTC session tz.
    df.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
      .foldLeft(fixed)((d, c) => d.withColumn(c, d.col(c).cast(TimestampType)))
  }

  /** Spread a frame to the session's parallelism when its scan would produce
    * fewer tasks than cores. Parquet splits only at row-group boundaries, so
    * a small single-file table scans as ONE task and serializes any CPU-heavy
    * pipeline above it (shingling/minhash ran 1-of-32 cores). Hash-partition
    * on `key` (deterministic — no sort-before-repartition pass, unlike
    * round-robin). At 100 TB inputs arrive with thousands of natural splits
    * and this is a no-op; callers are the CPU-bound text operators, not every
    * scan — a blanket repartition taxes cheap queries with a full-row
    * shuffle. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    if (df.isStreaming) return df // .rdd is illegal on a streaming frame
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, key) else df
  }
}
