package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Producer-side ingestion semantics (reference `pro.py`, SURVEY.md §2.2).
  *
  * The reference watches a directory, re-reads whole Excel files on every
  * create/modify event, and emits only rows whose MD5 hash was not seen
  * before (`pro.py:29-55`) — i.e. the delta-dedup IS the change-capture
  * contract. We reproduce that contract declaratively: a canonical row hash
  * plus an anti-join against the set of already-seen hashes. At scale the
  * "seen" side is a table (not driver memory — fixing the reference's
  * lost-state-on-restart bug, `pro.py:18`), and the anti-join shuffles only
  * the 16-byte hash column.
  */
object Ingest {

  /** Column ref that survives dots/backticks in the name. */
  private def qcol(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** S1: header-first tabular scan semantics — drop rows where every column is
    * null/empty (`pro.py:42`: `if any(row)`). */
  def dropBlankRows(df: DataFrame): DataFrame = {
    // Only string columns can hold the empty-string "blank" — a non-null
    // numeric/timestamp never casts to ''. Casting every column to string
    // per row (the old form) priced a 6-column scan at ~14x a plain filter.
    val anyPresent = df.schema.fields
      .map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          nullif(qcol(f.name), lit("")).isNotNull
        else qcol(f.name).isNotNull
      }
      .reduce(_ || _)
    df.filter(anyPresent)
  }

  /** Canonical serialized row: sorted-column JSON. The reference uses Python
    * `json.dumps(row, sort_keys=True)` (`pro.py:31`); byte-for-byte parity is
    * a non-goal (SURVEY.md §7.4) — what matters is a deterministic canonical
    * form so identical rows collide and distinct rows don't. */
  def canonicalJson(df: DataFrame): Column =
    to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*))

  /** T1: content hash of the canonical row (reference `pro.py:29-32`). */
  def rowHash(df: DataFrame): Column = md5(canonicalJson(df))

  /** T1: emit only rows whose hash is not in `seenHashes(row_hash)` —
    * the MD5 anti-join diff of `pro.py:46-55`. Only the hash column crosses
    * the shuffle; with AQE the small seen-side broadcasts. Duplicate hashes
    * on the seen side cannot change an anti join's result, so the growing
    * seen table is joined as it is, with no `distinct` pass over it. */
  def deltaDedup(incoming: DataFrame, seenHashes: DataFrame): DataFrame = {
    val hashed = incoming.withColumn("row_hash", rowHash(incoming))
    hashed.join(seenHashes.select("row_hash"), Seq("row_hash"), "left_anti")
  }

  /** T3: the producer deletes None/'' values (`pro.py:76`) so downstream
    * `'k' in doc` guards treat '' as absent. Columnar twin: '' -> null. */
  def normalizeEmpty(df: DataFrame, cols: Seq[String]): DataFrame =
    // qcol, not col: callers pass raw header names (Tabular.normalize feeds
    // every string column of an arbitrary CSV/JSON schema), and an
    // unquoted col("user.name") parses as nested-field access —
    // dropBlankRows was already hardened for exactly this (review finding).
    cols.foldLeft(df)((d, c) => d.withColumn(c, nullif(qcol(c), lit(""))))

  /** T2: strictly monotone ingest timestamp. The reference fakes uniqueness
    * with a +0.0001 s counter (`pro.py:27,70-73`) — a ~10k rec/s design
    * ceiling and a driver-side bottleneck at scale. Spark-first: a total
    * order from (event time, tiebreaker), used only where a strict order is
    * genuinely required (upsert arbitration).
    *
    * NOT a global row_number window — that moves the whole table to one
    * partition. Instead: a range-partitioned sort (parallel) + zipWithIndex
    * (one extra count job to turn per-partition sizes into offsets) — the
    * contiguous global sequence at full cluster parallelism. Deterministic
    * whenever `orderCols` is a total order (callers pass a tiebreaker);
    * range-boundary sampling can shift rows between partitions but never
    * their global rank. Batch-only (zipWithIndex is an RDD action). */
  def monotonicTimestamp(df: DataFrame, orderCols: Seq[Column]): DataFrame = {
    require(!df.isStreaming, "monotonicTimestamp is batch-only")
    import org.apache.spark.sql.types.LongType
    val sorted = df.sort(orderCols: _*)
    // LongType: zipWithIndex counts in Long, and the whole point of this
    // operator is scale past the reference's driver ceiling — an Int seq
    // would silently wrap negative beyond 2^31-1 rows.
    val schema = sorted.schema.add("ingest_seq", LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1)) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** One-pass table profile (ANALYZE-style data-quality stats): row count,
    * per-column null counts, and min/max for orderable columns — the
    * ingest-side audit a pipeline runs after every load. ONE aggregation
    * with map-side partials regardless of column count; at 100 TB this is a
    * single scan, not a query per column. */
  def profile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ df.schema.fields.flatMap { f =>
      val c = qcol(f.name)
      val nulls = sum(when(c.isNull, 1L).otherwise(0L)).as(s"null_${f.name}")
      f.dataType match {
        case _: NumericType | TimestampType | DateType | StringType =>
          Seq(nulls, min(c).as(s"min_${f.name}"), max(c).as(s"max_${f.name}"))
        case _ => Seq(nulls)
      }
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** T4: rebuild with `@timestamp` (or any given column) first — cosmetic
    * (`pro.py:79-82`). */
  def columnFirst(df: DataFrame, first: String): DataFrame =
    df.select((first +: df.columns.filterNot(_ == first).toIndexedSeq).map(col): _*)
}
