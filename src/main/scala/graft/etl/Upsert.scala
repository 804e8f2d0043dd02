package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S5: keyed last-write-wins upsert (reference `con.py:55-63`).
  *
  * The reference gets upsert semantics from Elasticsearch's deterministic
  * document id (`es.index(index, doc, id)`): re-delivery of the same key
  * overwrites, so at-least-once delivery becomes effectively exactly-once.
  * Spark-first equivalent: one window over the key ordered by event time
  * (latest wins) arbitrates the batch together with the store rows it
  * competes with, and the result is written into a date-partitioned parquet
  * table with dynamic partition overwrite — only partitions touched by the
  * batch are rewritten, which at 100 TB means a day's partitions, not the
  * table. The write goes straight into the store: dynamic overwrite stages
  * task output under `.spark-staging-<job>` and swaps the touched partitions
  * in only at job commit, after every task has read its input, so no second
  * copy of the merge is needed.
  */
object Upsert {

  /** Nested nullability flattened to all-nullable, for the type-drift
    * comparison: only the erased type matters for merge compatibility
    * (Spark's own `asNullable` is private). */
  private def erasedNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, erasedNullability(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(erasedNullability(a.elementType), containsNull = true)
      case m: MapType => MapType(erasedNullability(m.keyType),
        erasedNullability(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Latest row per key — the arbitration rule. Deterministic: ties on the
    * timestamp break on `tieCol` (the reference relies on ES arrival order,
    * which is unstable; SURVEY.md §7.4 pins a total order instead). */
  def latestByKey(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Existence probe for a parquet store or index: `path` exists and holds
    * a `.parquet` file somewhere below it. */
  private[graft] def holdsParquet(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Merge a batch into the keyed table at `path`: new version of a key
    * replaces the old, unseen keys append, and duplicates inside the batch
    * are arbitrated by the same window. Implemented as partition-local
    * merge: rows are routed by `partitionCol`, and dynamic partition
    * overwrite rewrites only the partitions present in the batch.
    *
    * Schema drift between the batch and the store is REFUSED loudly by
    * default: the merge rewrites whole partitions, so a silently narrower
    * batch would DELETE store columns from every rewritten partition, and
    * a wider one used to die mid-stream in an opaque resolver error.
    * `allowSchemaEvolution = true` opts into union-by-name widening of the
    * COLUMN SET: the merged schema is the union of both and the side
    * missing a column gets nulls (the Delta-style mergeSchema posture).
    * Same-name TYPE drift is refused even under the flag — a union would
    * silently coerce, and a partition rewrite would leave mixed parquet
    * physical types that wedge every later schema-merging read of the
    * store. Partitions the batch does not touch keep their old files
    * either way — readers of an evolved store must tolerate a mixed
    * on-disk width (parquet does; a strict schema-on-read does not).
    *
    * `knownSchema` is the per-query schema cache ([[foreachBatchMerge]]):
    * without it every merge pays a mergeSchema footer sweep over the WHOLE
    * store (required for correctness — a previously-evolved store holds
    * files of different widths, and single-file inference picking a
    * narrow file would silently null evolved columns in every rewritten
    * partition). With it the store is read schema-pinned — zero footer
    * I/O. The returned schema is the settled store schema; pass it back
    * as the next batch's `knownSchema`. Single-writer contract: the cache
    * is only sound while this query is the store's sole writer (which the
    * upsert sink's checkpointed ownership already implies). */
  def mergeBatch(spark: SparkSession, batch: DataFrame, path: String,
                 keyCols: Seq[String], tsCol: String, tieCol: String,
                 partitionCol: String,
                 allowSchemaEvolution: Boolean = false,
                 knownSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : org.apache.spark.sql.types.StructType = {
    val existing = knownSchema match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None =>
        // Bootstrap test by EXPLICIT existence probe, not by swallowing
        // AnalysisException: a store that exists and holds parquet but
        // fails to read (merge-incompatible footers, a torn write) must
        // surface LOUDLY — treating any read failure as "store absent"
        // would rewrite every touched partition with batch-only rows, the
        // silent partition data loss the schema-drift refusal below exists
        // to prevent (review finding). A present-but-dataless dir (a
        // pre-created store root) still counts as absent.
        if (!holdsParquet(spark, path)) null
        else spark.read.option("mergeSchema", "true").parquet(path)
    }

    val candidates =
      if (existing == null) batch
      else {
        // nullability-erased comparison: parquet read-back forces nested
        // fields nullable (ArrayType.containsNull, struct members), so a
        // strict DataType comparison would misreport a legitimate batch
        // built from non-null values as type drift
        val existingTypes =
          existing.schema.map(f => f.name -> erasedNullability(f.dataType)).toMap
        val batchTypes =
          batch.schema.map(f => f.name -> erasedNullability(f.dataType)).toMap
        val typeDrift = (existingTypes.keySet & batchTypes.keySet)
          .filter(n => existingTypes(n) != batchTypes(n))
        if (typeDrift.nonEmpty)
          throw new IllegalStateException(
            s"mergeBatch: same-name TYPE drift between batch and store at $path — " +
              typeDrift.toSeq.sorted.map(n =>
                s"$n: store ${existingTypes(n).simpleString} vs batch " +
                  s"${batchTypes(n).simpleString}").mkString("[", ", ", "]") +
              ". Refused even under allowSchemaEvolution: a union would " +
              "silently coerce, and a partition rewrite would leave mixed " +
              "parquet physical types that wedge later schema-merging reads. " +
              "Cast the batch to the store's types before merging.")
        if (!allowSchemaEvolution &&
            existing.columns.toSet != batch.columns.toSet) {
          val batchOnly = batch.columns.toSet -- existing.columns.toSet
          val storeOnly = existing.columns.toSet -- batch.columns.toSet
          throw new IllegalStateException(
            s"mergeBatch: batch schema drifted from the store at $path — " +
              s"batch-only columns: ${batchOnly.toSeq.sorted.mkString("[", ", ", "]")}, " +
              s"store-only columns: ${storeOnly.toSeq.sorted.mkString("[", ", ", "]")}. " +
              "Refusing: a partition rewrite under the narrower schema would " +
              "silently drop the store-only columns from every touched " +
              "partition. Align the batch projection, or pass " +
              "allowSchemaEvolution=true to widen by name (missing side " +
              "gets nulls).")
        }
        // Restrict the existing side to partitions the batch touches. Keys
        // outside touched partitions are untouched on disk.
        val touched = batch.select(partitionCol).distinct()
        existing.join(broadcast(touched), Seq(partitionCol), "left_semi")
          .unionByName(batch, allowMissingColumns = allowSchemaEvolution)
      }

    // One arbitration over (touched store rows ∪ raw batch), hash-partitioned
    // on `partitionCol` first: that partitioning satisfies the window's
    // clustering on the keys whenever `partitionCol` is one of them, so the
    // merge shuffles once, and each touched partition leaves exactly one
    // writer task — one part file.
    val merged = latestByKey(candidates.repartition(col(partitionCol)),
      keyCols, tsCol, tieCol)
    // Written straight into `path`, although the plan reads `path`: with
    // dynamic partition overwrite every task writes under
    // `path/.spark-staging-<job>`, and the touched partitions are swapped in
    // only at job commit, after every task has read its input. A failed job
    // aborts and deletes that staging dir, leaving the store as it was. (The
    // swap itself is not atomic on a plain file listing — a transactional
    // table format is the long-term answer.) An empty merge touches no
    // partition, so it is a no-op.
    merged.write
      .mode("overwrite")
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    merged.schema
  }

  /** SCD Type-2 history build: turn a keyed change stream into versioned
    * validity intervals — the other half of upsert semantics ([[latestByKey]]
    * keeps only the latest version; this keeps them ALL, with
    * [valid_from, valid_to) ranges and an is_current flag, the shape every
    * warehouse dimension-history table takes).
    *
    * Consecutive rows with an unchanged tracked value collapse into one
    * version (only CHANGES open a new interval); `tieCol` breaks same-
    * timestamp ties so re-delivered batches build identical history.
    *
    * Scale: both windows partition by the key — one shuffle on the key,
    * then two narrow window passes; no self-join, no driver state. */
  def scd2History(df: DataFrame, keyCols: Seq[String], valueCol: String,
                  tsCol: String, tieCol: String): DataFrame = {
    val keyW = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val changed = df
      .withColumn("__rn", row_number().over(keyW))
      .withColumn("__prev", lag(col(valueCol), 1).over(keyW))
      // null-safe inequality: a NULL value is a tracked state of its own.
      // The rn=1 arm is load-bearing for exactly that contract: lag() is
      // null BOTH for "no previous row" and "previous value was NULL", so
      // without it a key whose FIRST tracked value is NULL never opens its
      // initial interval (null <=> null is true) — the first version always
      // opens one (review finding; oracle carries the same rn=1 arm).
      .filter(col("__rn") === 1 || !(col(valueCol) <=> col("__prev")))
    val out = changed
      .withColumn("valid_to", lead(col(tsCol), 1).over(keyW))
      .withColumn("is_current", col("valid_to").isNull)
    out.select((keyCols.map(col) :+ col(valueCol) :+
      col(tsCol).as("valid_from") :+ col("valid_to") :+ col("is_current")): _*)
  }

  /** Streaming form: plug into `writeStream.foreachBatch`. Checkpointed Kafka
    * offsets + this idempotent keyed merge = exactly-once end-to-end
    * (strictly stronger than the reference's manual commit + idempotent id,
    * `con.py:18,79-88`). */
  def foreachBatchMerge(path: String, keyCols: Seq[String], tsCol: String,
                        tieCol: String, partitionCol: String,
                        allowSchemaEvolution: Boolean = false)
      : (DataFrame, Long) => Unit = {
    // Per-query schema cache (review finding): the correctness-required
    // mergeSchema footer sweep over the whole store runs ONCE, on the
    // query's first batch; every later batch reads the store
    // schema-pinned — zero footer I/O on the hot path, which matters on
    // exactly the store whose per-batch file accretion compaction exists
    // to fight. An evolution merge returns the widened schema and the
    // cache follows. Sound under the sink's single-writer checkpoint
    // ownership; a fresh query (including crash recovery) starts cold and
    // re-sweeps once.
    val cached = new java.util.concurrent.atomic.AtomicReference[
      Option[org.apache.spark.sql.types.StructType]](None)
    (batch: DataFrame, _: Long) =>
      cached.set(Some(mergeBatch(batch.sparkSession, batch, path, keyCols,
        tsCol, tieCol, partitionCol, allowSchemaEvolution, cached.get())))
  }

  /** S5 schema-evolution certification — the reference twin is ES DYNAMIC
    * MAPPING: `con.py:58-63`'s `es.index` into the daily index auto-adds
    * fields it has never seen, so a producer that starts emitting a new
    * field evolves the store in place and older documents simply lack it.
    * Replayed here as two batch merges into one keyed store: the
    * even-`event_id` half under the original schema, then the odd half
    * carrying a new `src` column under `allowSchemaEvolution = true`.
    * Latest-wins arbitration is commutative across batches, so the settled
    * store must equal the one-shot arbitration over all events, with `src`
    * populated exactly on rows whose winning version traveled in the
    * evolved batch — the cross-engine oracle predicts the whole frame,
    * nulls included.
    *
    * The read-back sets `mergeSchema`: dynamic partition overwrite rewrites
    * only the partitions the evolved batch touches, so an evolved store
    * legitimately holds files of BOTH widths and parquet's default
    * single-file schema inference could miss the new column. */
  def schemaEvolutionReplay(spark: SparkSession, events: DataFrame): DataFrame = {
    val dir = graft.util.TempRoots.create("graft_s5_evo_").toString + "/tgt"
    val base = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))
      .withColumn("ingest_date", to_date(col("ts")))
    // TOTAL split (review finding): plain `% 2 === 1` misses negative-odd
    // ids (sign-preserving % gives -1) and nulls (null predicate — dropped
    // by BOTH filters), silently losing those rows while the oracle keeps
    // them. `abs(% 2) === 1` marks odd for either sign; the even side
    // takes the complement with nulls coalesced in, so every row lands in
    // exactly one batch. The oracle's CASE uses the same abs() predicate.
    val odd = abs(col("event_id") % 2) === 1
    mergeBatch(spark, base.filter(coalesce(odd, lit(false)) === false), dir,
      Seq("user_id", "ingest_date"), "ts", "event_id", "ingest_date")
    mergeBatch(spark,
      base.filter(odd).withColumn("src", lit("b2")), dir,
      Seq("user_id", "ingest_date"), "ts", "event_id", "ingest_date",
      allowSchemaEvolution = true)
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    // An input with no odd ids merges an EMPTY evolved batch: the store
    // never gains `src`, and selecting it would throw UNRESOLVED_COLUMN —
    // the all-null src frame is the correct answer there (review finding).
    val withSrc =
      if (back.columns.contains("src")) back
      else back.withColumn("src", lit(null).cast("string"))
    withSrc
      .select(col("user_id"), col("ingest_date"), col("event_id"),
        col("event_type"), col("value"), col("ts"), col("src"))
  }
}
