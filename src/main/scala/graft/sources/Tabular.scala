package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.etl.Ingest

/** S1: the reference's Excel scan semantics (`pro.py:34-44`) as a general
  * headered tabular source: row 1 = schema (csv header inference / declared
  * StructType), data rows streamed, all-blank rows dropped, '' treated as
  * absent.
  *
  * This object serves Spark's native file formats (csv/json/parquet, the
  * fixtures of TESTDATA.md). The reference's `.xlsx` workbooks are read by
  * [[graft.sources.xlsx.XlsxDataSource]] (`format("xlsx")`), the paper
  * path's S1/S2 source, with the same downstream semantics. File listing,
  * split planning, predicate pushdown, and column pruning all come from the
  * format, so the same call scales from one gradebook to a 100 TB lake.
  */
object Tabular {

  /** Batch scan with header-first semantics + blank-row filter. */
  def scan(spark: SparkSession, path: String, format: String = "csv",
           schema: Option[StructType] = None): DataFrame = {
    var reader = spark.read.format(format)
    if (format == "csv") reader = reader.option("header", "true")
    schema.foreach(s => reader = reader.schema(s))
    if (format == "csv" && schema.isEmpty) reader = reader.option("inferSchema", "true")
    val df = reader.load(path)
    normalize(df)
  }

  /** Streaming scan of a watched directory (S2) with the same semantics.
    * Spark's file source discovers new files; modified-file re-processing is
    * recovered by the downstream T1 content dedup (SURVEY.md §7.4). */
  def scanStream(spark: SparkSession, path: String, schema: StructType,
                 format: String = "csv"): DataFrame = {
    var reader = spark.readStream.format(format).schema(schema)
    if (format == "csv") reader = reader.option("header", "true")
    normalize(reader.load(path))
  }

  /** JSONL file round trip: write the frame as newline-delimited JSON and
    * read it back through the REAL json file source with the declared
    * schema and the S1 normalize semantics. JSONL is the standard corpus
    * interchange format of LLM data pipelines (and the file twin of the
    * reference's Kafka JSON lines, `con.py:30-40`); this certifies the
    * escaping round trip — embedded quotes/newlines/unicode in document
    * text must survive write→read byte-exactly. Byte-exact applies to
    * CONTENT: the read-back deliberately goes through [[scan]], so the S1
    * normalize applies like on any ingest — an empty-STRING field comes
    * back null and an all-blank row drops (that is the ''-is-absent
    * contract, not loss). Scale: the write is one map-only pass, the read
    * is a planned file scan with pruning, same as any lake format. */
  def jsonlRoundtrip(spark: SparkSession, df: DataFrame): DataFrame = {
    // Registered for exit-time deletion (review finding: a driver looping
    // the gate/bench rewrites the corpus as JSON per pass; un-registered
    // dirs accreted unboundedly under /tmp).
    val dir = graft.util.TempRoots.create("graft_jsonl_").toString
    df.write.mode("overwrite").json(dir)
    scan(spark, dir, format = "json", schema = Some(df.schema))
  }

  /** The corrupt-line fixture: one JSONL `value` per document, with junk
    * injected by a rule that is a pure function of the table — so a DuckDB
    * oracle can predict every staged byte. ONE definition, shared by the
    * batch audit ([[jsonCorruptAudit]]) and the streaming dead-letter
    * replay (`Pipeline.replayDeadLetter`) so the two legs certify the same
    * fixture. Sign-preserving % (not pmod): the oracle's SQL `doc_id % 10`
    * keeps the dividend's sign in DuckDB, and the injection rule must be
    * the SAME pure function in both engines or a negative doc_id diverges
    * (pmod(-7,10)=3 stages junk; -7%10=-7 predicts a parse). */
  private[graft] def corruptJsonlLines(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(
      when(col("doc_id") % 10 === 3L,
        concat(lit("JUNK "), col("doc_id").cast("string")))
        .otherwise(to_json(struct(col("doc_id"), col("n_chars"))))
        .as("value"))
  }

  /** The S4 PERMISSIVE parse of a `value` line column — like the fixture,
    * ONE definition for both corrupt legs (batch audit here, streaming
    * dead-letter split in `Pipeline.dlqParsedStream`): a one-sided schema
    * or parser-option edit would otherwise silently decouple what the two
    * legs certify. Works on batch AND streaming frames (pure select).
    *
    * Null-STRUCT family (same posture as `Pipeline.kafkaValueParse`, which
    * this parse is documented to mirror): `from_json` returns a null struct
    * for the JSON literal `null`, an empty line, or bare whitespace —
    * PERMISSIVE only fills `_corrupt_record` for junk it can tokenize. An
    * all-null row with a null payload would route to the STORE table as
    * phantom data and never reach the dead-letter table (review finding);
    * these lines are tagged corrupt with the raw line retained, exactly
    * like any junk payload. */
  private[graft] def corruptParsed(lines: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = new StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("n_chars", org.apache.spark.sql.types.LongType)
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    lines
      .select(col("value"), from_json(col("value"), schema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("rec"))
      .select(col("rec.doc_id").as("doc_id"), col("rec.n_chars").as("n_chars"),
        when(col("rec").isNull, col("value"))
          .otherwise(col("rec._corrupt_record")).as("corrupt_payload"))
  }

  /** S4 malformed-JSON audit, batch-certified (r13 verdict #3): stage the
    * corpus as JSON lines with DETERMINISTIC junk injected (doc_id % 10 ==
    * 3 → the non-JSON line `JUNK <id>` replaces the record), then read
    * through the REAL json source in PERMISSIVE mode with
    * `columnNameOfCorruptRecord` retention — the same parser contract the
    * S4 Kafka source runs. Output is one row per input LINE: parsed rows
    * carry their fields, junk rows carry null fields and the raw payload —
    * counted and retained, never silently nulled (`con.py:43`'s
    * warn-and-keep). The injection rule is a pure function of the table, so
    * the DuckDB oracle predicts the entire frame — including every retained
    * junk payload byte — without reading the staging.
    *
    * The parse is text-scan + `from_json`, NOT the raw json file format:
    * that is byte-for-byte the S4 Kafka parse (value string → from_json),
    * and it sidesteps the file format's QUERY_ONLY_CORRUPT_RECORD_COLUMN
    * restriction, so callers may project the audit down to just the
    * payload column. Scale: map-only write + map-only text scan. */
  def jsonCorruptAudit(spark: SparkSession, docs: DataFrame,
                       stageKey: Option[String] = None): DataFrame = {
    // Staged-input memo (Pipeline's memoStage pattern): the corrupt JSONL
    // staging is a pure function of the table, and a driver looping the
    // gate/bench — or the salvage leg running in the same pass — would
    // otherwise rewrite the whole corpus as text per invocation.
    def stage(): String = {
      val dir = graft.util.TempRoots.create("graft_corrupt_jsonl_").toString
      corruptJsonlLines(docs).write.mode("overwrite").text(dir)
      dir
    }
    // graft.util.StageMemo carries the key invariants (shape params in the
    // tag, the docs plan's semantic hash in the key — r14 advice) in ONE
    // shared definition with Pipeline's replay stagings (review finding:
    // two hand-rolled memo copies had to apply each fix twice).
    val dir = graft.util.StageMemo(stageKey, "corrupt_jsonl", docs)(stage())
    corruptParsed(spark.read.text(dir))
  }

  /** DLQ SALVAGE — replay-after-fix, the step a dead-letter table exists
    * for: once the junk pattern is understood, a fixed parser recovers
    * what it can and the salvaged rows rejoin the corpus, flagged. Input
    * is the audit shape (doc_id, n_chars, corrupt_payload) either corrupt
    * leg produces; `pattern`'s first capture group is the recoverable id
    * (default matches the fixture's `JUNK <id>`). Unsalvageable payloads
    * degrade to a null id rather than dropping — `try_cast` of
    * `regexp_extract`'s empty-string no-match, the same null-on-junk
    * posture as T6/T13 — so the row count is conserved through triage.
    * Scale: one map-only pass, no shuffle. */
  def dlqSalvage(audit: DataFrame,
                 pattern: String = "^JUNK (-?\\d+)$"): DataFrame = {
    import org.apache.spark.sql.functions._
    // one select, not filter-branches-unioned: a union of two filters
    // would scan (and re-parse) the staged input twice
    audit.select(
      when(col("corrupt_payload").isNull, col("doc_id"))
        .otherwise(regexp_extract(col("corrupt_payload"), pattern, 1)
          .try_cast("long")).as("doc_id"),
      when(col("corrupt_payload").isNull, col("n_chars")).as("n_chars"),
      col("corrupt_payload").isNotNull.as("salvaged"))
  }

  /** Blank-row filter + ''->null for string columns (pro.py:42,76). */
  private def normalize(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    Ingest.dropBlankRows(Ingest.normalizeEmpty(df, stringCols))
  }
}
