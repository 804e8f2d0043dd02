package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Consumer-side enrichment semantics (reference `con.py`, SURVEY.md §2.2
  * T5-T9). All pure `when/otherwise` + cast chains — whole-stage codegen,
  * no UDFs, no shuffles: this stage is map-only at any scale.
  */
object Enrich {

  /** T5: Kafka epoch-millis -> timestamp, overwriting `@timestamp`
    * (`con.py:35-36`). */
  def timestampFromEpochMs(df: DataFrame, epochMsCol: String): DataFrame =
    df.withColumn("@timestamp", timestamp_millis(col(epochMsCol)))

  /** The lenient numeric cast: junk -> null, and NaN -> null too.
    * `try_cast` accepts "NaN", and Spark orders NaN above every double, so a
    * NaN grade would pass every `>=` bar; the reference's pandas comparisons
    * are false on NaN and its sums skip it, i.e. NaN reads as missing. */
  private[graft] def lenientDouble(c: Column): Column =
    nanvl(c.try_cast("double"), lit(null).cast("double"))

  /** T6: lenient numeric cast (`con.py:39-43`): junk -> null (the columnar
    * twin of catch-ValueError-keep-going). `auditInvalid` surfaces the rows
    * the reference merely warns about. */
  def castGrade(df: DataFrame): DataFrame =
    df.withColumn("F_DIEM2", lenientDouble(col("F_DIEM2")))

  def auditInvalid(df: DataFrame): DataFrame =
    df.filter(col("F_DIEM2").isNotNull && lenientDouble(col("F_DIEM2")).isNull)

  /** T7: conditional major-specific columns (`con.py:46-52`): class prefix
    * FL -> (NNA, DIEM_NNA), DI -> (MMT, DIEM_MMT); guarded on both source
    * fields present ('' already normalized to null by Ingest.normalizeEmpty). */
  def enrichMajorColumns(df: DataFrame): DataFrame = {
    val guarded = col("F_TENLOP").isNotNull && col("F_TENMHVN").isNotNull
    df.withColumn("NNA", when(guarded && col("F_TENLOP").startsWith("FL"), col("F_TENMHVN")))
      .withColumn("DIEM_NNA", when(guarded && col("F_TENLOP").startsWith("FL"), col("F_DIEM2")))
      .withColumn("MMT", when(guarded && col("F_TENLOP").startsWith("DI"), col("F_TENMHVN")))
      .withColumn("DIEM_MMT", when(guarded && col("F_TENLOP").startsWith("DI"), col("F_DIEM2")))
  }

  /** T8: composite surrogate key (`con.py:23-30`): 4-field
    * `MAMH_MASV_KHOAHOC_NHHK`, 3-field fallback when NHHK is absent, null
    * (record rejected) when any of the first three is absent. */
  def compositeKey(df: DataFrame): DataFrame = {
    val base = Seq("F_MAMH", "F_MASV", "F_KHOAHOC").map(col)
    val allBase = base.map(_.isNotNull).reduce(_ && _)
    df.withColumn("doc_id",
      when(allBase && col("NHHK").isNotNull,
        concat_ws("_", (base :+ col("NHHK").cast("string")): _*))
      .when(allBase, concat_ws("_", base: _*)))
  }

  /** Rejected records side-output (`con.py:30` returns None -> skipped). */
  def rejected(df: DataFrame): DataFrame = df.filter(col("doc_id").isNull)

  /** T9: daily partition routing (`con.py:58` `phantich1-YYYY.MM.dd`).
    * Partition key derived from the record's own timestamp — never the
    * wall clock — so replays land in the same partition (SURVEY.md §7.4). */
  def withIngestDate(df: DataFrame): DataFrame =
    df.withColumn("ingest_date", to_date(col("@timestamp")))

  /** The workbook's string cells, which T3 normalizes ('' -> null) first. */
  private[graft] val stringCells =
    Seq("F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP", "F_KHOAHOC", "F_DIEM2")

  /** Full consumer chain, `con.py:33-63` in order. */
  def consumerPipeline(df: DataFrame): DataFrame = {
    val normalized = Ingest.normalizeEmpty(df, stringCells)
    val pipeline = withIngestDate(compositeKey(enrichMajorColumns(castGrade(normalized))))
    pipeline.filter(col("doc_id").isNotNull)
  }
}
