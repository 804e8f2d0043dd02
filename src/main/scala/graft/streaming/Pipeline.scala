package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.etl.{Enrich, Ingest, Upsert}
import graft.model.Schemas
import graft.util.{StageMemo, TempRoots}

/** Structured-Streaming wiring for the reference's pipeline
  * (SURVEY.md §2.1 S2-S5, §2.5):
  *
  *   watched dir -> (producer: diff + publish) -> Kafka -> (consumer: enrich
  *   + upsert) -> date-partitioned store
  *
  * Delivery contract: the reference is at-least-once (manual commit per 100)
  * made effectively exactly-once by idempotent doc ids. Here: checkpointed
  * source offsets + idempotent keyed merge in foreachBatch = exactly-once,
  * strictly stronger, and the dedup/upsert state is durable (fixing the
  * reference's in-memory hash state lost on restart, `pro.py:18`).
  */
object Pipeline {

  /** T1 (streaming): content-hash dedup with watermark-bounded state. The
    * hash is [[Ingest.rowHash]] — the ONE canonical content-hash
    * definition; an inline copy here would let the batch and streaming
    * dedup legs silently certify different canonical forms (review
    * finding). */
  def dedupStream(df: DataFrame, watermarkCol: String = "@timestamp",
                  horizon: String = "1 hour"): DataFrame = {
    val hashed = df.withColumn("row_hash", Ingest.rowHash(df))
    hashed
      .withWatermark(s"`$watermarkCol`", horizon) // backquoted: '@timestamp'
      .dropDuplicatesWithinWatermark("row_hash")
  }

  /** Stream-stream event-time interval join: pair each left event with the
    * right events of the same key landing within `within` AFTER it —
    * attribution (click → purchase), causality windows, request/response
    * matching. Both sides carry watermarks, so the state store provably
    * expires: a left row can be dropped once the right watermark passes
    * `left.ts + within`; the time-bound in the join condition is what makes
    * that possible (an unbounded stream-stream equi-join would grow state
    * forever). Inner join + append mode — rows emit as soon as both sides
    * arrive, exactly-once under checkpointing. `joinType = "left_outer"`
    * additionally emits (left, null) for rows no right event ever matched,
    * once the watermark proves none still can — the did-NOT-convert leg of
    * attribution, on the same bounded state.
    *
    * Scale: state per key is bounded by (rate × horizon); the join shuffles
    * both streams on the key — the same hash partitioning a batch join
    * would use, held open across micro-batches. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keyCol: String,
                          tsCol: String, within: String = "1 hour",
                          watermark: String = "2 hours",
                          joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      expr(s"l.$keyCol = r.$keyCol AND " +
        s"r.$tsCol >= l.$tsCol AND r.$tsCol <= l.$tsCol + INTERVAL $within"),
      joinType)
  }

  /** S3: publish records to Kafka as UTF-8 JSON (`pro.py:21-24,85`).
    *
    * `keyCol` sets the Kafka MESSAGE key (stringified). Publishing
    * upsertable records MUST key by the record id: [[kafkaValueParse]]'s
    * `kafka_offset` tie-break and the upsert sink's last-write-wins
    * arbitration are only correct when all versions of one doc share a
    * partition ("key = doc_id, the production layout" in the parse doc) —
    * an unkeyed producer spreads versions round-robin across partitions,
    * and same-millisecond ties then compare offsets from unrelated logs,
    * letting a stale version win (review finding: this sink previously
    * emitted no key at all, contradicting the premise the parse documents).
    * None remains for genuinely keyless telemetry where ordering is
    * per-record irrelevant. */
  def kafkaJsonSink(df: DataFrame, servers: String, topic: String,
                    checkpoint: String,
                    keyCol: Option[String] = None): DataStreamWriter[Row] =
    kafkaSinkProjection(df, keyCol)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** The S3 wire projection, factored off `format("kafka")` so the
    * key/value contract is unit-testable without a broker (the
    * [[kafkaValueParse]] convention). Pure select: works on batch and
    * streaming frames. */
  private[graft] def kafkaSinkProjection(df: DataFrame,
                                         keyCol: Option[String]): DataFrame = {
    val value = to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value")
    keyCol match {
      case Some(k) => df.select(col(k).cast("string").as("key"), value)
      case None => df.select(value)
    }
  }

  /** S4: Kafka JSON source (`con.py:14-21`). `startingOffsets=earliest` like
    * the reference; offset tracking via checkpoint (≙ manual commit, but
    * transactional with the sink). The Kafka `timestamp` column drives T5.
    *
    * Malformed-line semantics (r13 verdict #3): the parse is PERMISSIVE
    * with `columnNameOfCorruptRecord` retention — a junk value yields a
    * row with null record fields AND the raw payload in `_corrupt_record`,
    * the warn-and-keep posture of `con.py:43` (the reference warns on an
    * invalid field and keeps the doc; its json.loads deserializer would
    * crash outright on unparseable bytes — retention is the deviation a
    * pipeline actually wants, and T8's null-reject downstream still keeps
    * corrupt rows out of the store; audit consumers read this column off
    * the source frame — [[consumerTransform]] drops it on the store path
    * so the persisted schema stays stable).
    * The batch-certified twin over a junk-line fixture is
    * [[graft.sources.Tabular.jsonCorruptAudit]] (s3_s4_corrupt_audit). */
  def kafkaJsonSource(spark: SparkSession, servers: String, topic: String): DataFrame = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
    kafkaValueParse(raw)
  }

  /** The S4 value parse, factored off the `format("kafka")` load so the
    * parse contract is unit-testable without a broker (the live spec
    * exercises the wire; this is the semantics). Input shape is the Kafka
    * source's: `value` (binary or string), `timestamp`, `offset`.
    *
    * Tombstone posture (r14 advice): a NULL Kafka value (a compaction
    * tombstone, or a producer bug) makes `from_json` return a null struct —
    * an all-null row with a null `_corrupt_record`, invisible to the
    * `s4_audit` corrupt-rows metric and indistinguishable from a
    * parsed-but-empty record. Null values are therefore tagged INTO the
    * corrupt path with a sentinel payload: they are counted by the observed
    * metric, retained for triage like any junk line, and still rejected
    * from the store by the null-key filter downstream. (A consumer wanting
    * delete-on-tombstone semantics would branch on the sentinel BEFORE
    * [[consumerTransform]] drops the audit column.) */
  private[graft] val TombstoneMark = "<null-kafka-value>"
  private[graft] def kafkaValueParse(raw: DataFrame): DataFrame = {
    val schema = Schemas.enrollment
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    raw.select(
        col("value").cast("string").as("__v"),
        col("timestamp"), col("offset"))
      .select(
        from_json(col("__v"), schema,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("rec"),
        col("__v"), col("timestamp"), col("offset"))
      .select(col("rec.*"), col("rec").isNull.as("__recnull"),
        col("__v"), col("timestamp"), col("offset"))
      // A null STRUCT (not just a null value) must also route to the
      // corrupt path: from_json returns a null struct for the JSON
      // literal `null` (or bare whitespace) — a non-null payload that a
      // `__v IS NULL` test alone misses, reproducing the invisible
      // all-null row (review finding). PERMISSIVE mode parses actual junk
      // into a NON-null struct carrying _corrupt_record, so this arm only
      // catches the null-literal family; the raw payload is retained as
      // the corrupt record, same as any junk line.
      .withColumn("_corrupt_record",
        when(col("__v").isNull, lit(TombstoneMark))
          .when(col("__recnull"), col("__v"))
          .otherwise(col("_corrupt_record")))
      .drop("__v", "__recnull")
      .withColumn("kafka_ts_ms", unix_millis(col("timestamp")))
      // Arrival order, surfaced for the sink's tie-break: the broker
      // timestamp is millisecond-granular, so two versions of one doc in
      // the same ms need a distinguishing order — the log offset is it
      // WITHIN one partition. With key-partitioned topics (key = doc_id,
      // the production layout) all versions of a doc share a partition,
      // so the single offset column reproduces the reference's sequential
      // es.index last-write-wins (con.py:60-63). If same-key events were
      // spread across partitions, same-ms ties would compare offsets from
      // unrelated logs: deterministic, but arbitrary w.r.t. arrival order.
      .withColumn("kafka_offset", col("offset"))
      .drop("timestamp", "offset")
  }

  /** Consumer transform chain on a (possibly streaming) frame: T5 timestamp
    * overwrite, then the full enrichment pipeline (T6-T9).
    *
    * The PERMISSIVE parse's `_corrupt_record` audit column stays on the
    * SOURCE frame (for audit consumers tapping [[kafkaJsonSource]]
    * directly) but is dropped HERE, before enrichment: corrupt rows are
    * null-keyed and already rejected by the pipeline's doc_id filter, so on
    * the store path the column could only ever persist as always-null —
    * and worse, it would CHANGE the persisted schema, crashing
    * `Upsert.mergeBatch`'s column-aligned select on any store written
    * before the audit column existed.
    *
    * Before dropping, the column is COUNTED via `observe("s4_audit", ...)`
    * — the reference warns per bad record (`con.py:43`); the Spark-native
    * twin is an observed metric in every micro-batch's
    * `StreamingQueryProgress.observedMetrics`, piggybacked on the batch's
    * own pass (no second scan), so junk volume is monitorable even though
    * the store never sees the payloads. */
  def consumerTransform(df: DataFrame): DataFrame = {
    val clean =
      if (df.columns.contains("_corrupt_record"))
        df.observe("s4_audit",
            count(when(col("_corrupt_record").isNotNull, 1)).as("corrupt_rows"),
            count(lit(1)).as("input_rows"))
          .drop("_corrupt_record")
      else df
    val stamped =
      if (clean.columns.contains("kafka_ts_ms")) Enrich.timestampFromEpochMs(clean, "kafka_ts_ms").drop("kafka_ts_ms")
      else clean
    Enrich.consumerPipeline(stamped)
  }

  /** S5: end-to-end sink — enriched stream upserted into the partitioned
    * store, exactly-once via checkpoint + idempotent keyed merge.
    *
    * Key semantics mirror the reference EXACTLY (`con.py:58-63`): ES gets a
    * DAILY index (`phantich1-{today}`) with the composite doc id unique
    * WITHIN it — replace within a day, retain across days. So the merge key
    * here is (doc_id, ingest_date), which also makes the partition column a
    * function of the key: mergeBatch's dynamic partition overwrite can
    * never strand a stale same-key winner in an untouched partition, and a
    * multi-day batch can never collapse two days' legitimate rows into one
    * (both review findings on the old doc_id-only keying). Ties inside one
    * broker-timestamp millisecond break on the Kafka log offset —
    * deterministic arrival order, the same last-write-wins the reference's
    * sequential indexing loop gets from consumption order.
    *
    * The trigger is the caller's: the production consumer leg runs
    * continuous micro-batches (the reference's infinite consumer loop);
    * drain-once callers pass `Trigger.AvailableNow()`. */
  def upsertSink(enriched: DataFrame, path: String, checkpoint: String,
                 trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    enriched.writeStream
      .foreachBatch(Upsert.foreachBatchMerge(
        path, keyCols = Seq("doc_id", "ingest_date"), tsCol = "@timestamp",
        tieCol = "kafka_offset", partitionCol = "ingest_date"))
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  // ---- §2.5 batch replays ------------------------------------------------
  // Every replay below is one function over `Replay.run`: the rung stages
  // its input (memoized per `stageKey` through StageMemo, so a JVM that runs
  // the same replay repeatedly stages it once; every SHAPE parameter of a
  // staging rides in its memo tag) and hands the harness its stream, sink,
  // output mode and settle step. `killAfterBatches = 0` is the steady replay;
  // `k > 0` crashes after batch k and recovers on the same checkpoint, and
  // the settled result must equal the steady one under the same oracle.

  /** One micro-batch per staged parquet file. */
  private def parquetStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  private def appendTo(out: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => batch.write.mode("append").parquet(out)

  /** Copy the part files of `srcDirs` (in sequence; name-sorted within each)
    * into `destDir` with strictly increasing mtimes AND an order-pinning
    * filename prefix — the file source (oldest-first, one file per trigger)
    * then replays them in exactly this order, with the name prefix breaking
    * ties even on coarse-mtime filesystems. Event-time ordering of staged
    * files is correctness-critical for the session/outer replays. */
  private def layOrdered(srcDirs: Seq[String], destDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    Files.createDirectories(Paths.get(destDir))
    val base = System.currentTimeMillis()
    var slot = 0
    for (src <- srcDirs;
         f <- new java.io.File(src).listFiles().sortBy(_.getName)
           if f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) {
      val dst = Paths.get(destDir, f"$slot%03d-" + f.getName)
      Files.copy(f.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + slot * 10000L))
      slot += 1
    }
  }

  /** S2+S5 end-to-end BATCH-REPLAY: `events` staged as `nFiles` parquet
    * splits, streamed through the real file source one micro-batch per file,
    * and foreachBatch-merged into a date-partitioned store keyed
    * (user_id, ingest_date) — the daily-upsert shape T9 routes into. The
    * settled table must equal the one-shot batch arbitration (latest
    * (ts, event_id) per key) for ANY batch cut: latest-wins is commutative
    * and associative across batches once the partition column is a function
    * of the key (a key's versions always land in the same partition, so
    * dynamic partition overwrite can never strand a stale winner).
    *
    * Crash leg (offsets + idempotent sink): the replayed, unacknowledged
    * batch is merged twice and the keyed latest-wins merge absorbs it —
    * exactly-once END-TO-END, the reference's manual-commit contract
    * (`con.py:18,79-88`) certified by the gate rather than asserted.
    *
    * Staged through Spark so the files carry micros timestamps (the raw
    * testdata is TIMESTAMP(NANOS), which the batch Tables loader already
    * normalizes). */
  def replayUpsertDaily(spark: SparkSession, events: DataFrame,
                        nFiles: Int = 4, killAfterBatches: Int = 0,
                        stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "s2", nFiles, killAfterBatches) { out =>
      val src = StageMemo(stageKey, s"s2|$nFiles", events) {
        val root = TempRoots.create("graft_s2_replay_")
        events.repartitionByRange(nFiles, col("event_id"))
          .write.mode("overwrite").parquet(s"$root/src")
        s"$root/src"
      }
      Replay.Rung(
        stream = () => parquetStream(spark, src)
          .withColumn("ingest_date", to_date(col("ts"))),
        sink = Upsert.foreachBatchMerge(out,
          keyCols = Seq("user_id", "ingest_date"), tsCol = "ts",
          tieCol = "event_id", partitionCol = "ingest_date"),
        settle = () => spark.read.parquet(out)
          .select(col("user_id"), col("ingest_date"), col("event_id"),
            col("event_type"), col("value"), col("ts")),
        realBatches = () => Replay.partCount(src))
    }

  /** S2 LITERAL-EXCEL replay (r14 verdict #3): the reference's watcher fires
    * on `.xlsx` files specifically (`pro.py:96-108`). Real workbooks staged
    * one per micro-batch through `readStream.format("xlsx")` (the source's
    * own MicroBatchStream: seen-file offsets in the checkpoint, per-file
    * partitions, admission-controlled discovery), landed via the per-batchId
    * idempotent overwrite sink, settled and re-read. The oracle is the plain
    * batch projection: the Excel round trip plus the streaming machinery
    * must lose and invent nothing, byte-for-byte. Crash leg: the recovery
    * query's `deserializeOffset` + seen-file diff is the machinery under
    * test, and the replayed workbook's overwrite replaces its orphaned
    * output.
    *
    * Staging writes the workbooks from inside executors (foreachPartition →
    * XlsxWriter over the Hadoop FileSystem — no driver collect), with values
    * stringified IN the frame so every cell is a shared-string entry and the
    * DuckDB oracle's `CAST(.. AS VARCHAR)` predicts each byte. */
  def replayXlsxStream(spark: SparkSession, customer: DataFrame,
                       nFiles: Int = 4, killAfterBatches: Int = 0,
                       stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "xlsx", nFiles, killAfterBatches) { out =>
      val src = StageMemo(stageKey, s"s2xlsx|$nFiles", customer) {
        val dir = s"${TempRoots.create("graft_xlsx_stage_")}/src"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val header: Seq[Any] = XlsxReplayCols
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        customer
          .select(col("c_custkey").cast("string").as("c_custkey"),
            col("c_name"), col("c_mktsegment"))
          .repartitionByRange(nFiles, col("c_custkey"))
          .foreachPartition { (it: Iterator[Row]) =>
            // one workbook per non-empty partition; XlsxWriter ENFORCES the
            // Excel sheet cap, so an undersized nFiles fails loud here
            val rows = it.map(r =>
              Seq[Any](r.getString(0), r.getString(1), r.getString(2))).toSeq
            if (rows.nonEmpty) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val p = new org.apache.hadoop.fs.Path(f"$dir/part-$pid%05d.xlsx")
              val os = p.getFileSystem(hconf.value).create(p, true)
              try graft.sources.xlsx.XlsxWriter.writeTo(os, header +: rows)
              finally os.close()
            }
          }
        dir
      }
      new java.io.File(out).mkdirs()
      val schema = org.apache.spark.sql.types.StructType(XlsxReplayCols.map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType, nullable = true)))
      Replay.Rung(
        stream = () => spark.readStream.format("xlsx").schema(schema)
          .option("maxFilesPerTrigger", "1").load(src),
        sink = (b: DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$out/batch=$id"),
        // Pinned schema: an empty corpus stages zero workbooks, so there is
        // no parquet to infer from and the settle must read back empty.
        settle = () => spark.read.schema(schema).parquet(out)
          .select(XlsxReplayCols.map(col): _*),
        realBatches = () => Replay.partCount(src, ext = ".xlsx"))
    }

  private val XlsxReplayCols = Seq("c_custkey", "c_name", "c_mktsegment")

  /** S4 DEAD-LETTER replay — the pipeline half of warn-and-keep: counting
    * junk ([[consumerTransform]]'s observed metric) is monitoring; a real
    * ingest pipeline also needs the junk ITSELF to land somewhere queryable
    * for triage and replay-after-fix. The corrupt-line fixture (one
    * definition with `s3_s4_corrupt_audit`,
    * [[graft.sources.Tabular.corruptJsonlLines]]) is staged as `nFiles` text
    * splits and streamed through the file text source one micro-batch per
    * file. Each foreachBatch runs the S4 PERMISSIVE parse
    * ([[graft.sources.Tabular.corruptParsed]], one definition with the batch
    * audit leg) ONCE, persisted, and routes it two ways: parsed rows to the
    * store table, corrupt rows (raw payload) to the dead-letter table. Both
    * are re-read after settle as one frame, so the DuckDB oracle predicts
    * every byte on both sides.
    *
    * The sink OVERWRITES per-batchId paths, NOT blind appends: a batch whose
    * write landed but whose offset never committed re-runs on recovery, and
    * an append sink would duplicate every one of its rows. The crash leg
    * certifies exactly that window. Schema-pinned re-reads: a corpus with
    * NO junk leaves the dead-letter table legitimately empty. */
  def replayDeadLetter(spark: SparkSession, docs: DataFrame,
                       nFiles: Int = 4, killAfterBatches: Int = 0,
                       stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "dlq", nFiles, killAfterBatches) { out =>
      val src = StageMemo(stageKey, s"s4dlq|$nFiles", docs) {
        val root = TempRoots.create("graft_dlq_stage_")
        graft.sources.Tabular.corruptJsonlLines(docs)
          .repartition(nFiles)
          .write.mode("overwrite").text(s"$root/src")
        s"$root/src"
      }
      val store = s"$out/store"; val dlq = s"$out/dlq"
      new java.io.File(store).mkdirs(); new java.io.File(dlq).mkdirs()
      Replay.Rung(
        stream = () => graft.sources.Tabular.corruptParsed(
          spark.readStream.option("maxFilesPerTrigger", 1).text(src)),
        sink = (batch: DataFrame, id: Long) => {
          batch.persist()
          try {
            batch.filter(col("corrupt_payload").isNull)
              .select("doc_id", "n_chars")
              .write.mode("overwrite").parquet(s"$store/batch=$id")
            batch.filter(col("corrupt_payload").isNotNull)
              .select("corrupt_payload")
              .write.mode("overwrite").parquet(s"$dlq/batch=$id")
          } finally batch.unpersist()
        },
        settle = () => {
          import org.apache.spark.sql.types.StructType
          // partition discovery surfaces batch=<id> on top of the pinned
          // schema; project it away — batch placement is sink mechanics
          val storeDf = spark.read
            .schema(StructType.fromDDL("doc_id BIGINT, n_chars BIGINT"))
            .parquet(store).select("doc_id", "n_chars")
          val dlqDf = spark.read
            .schema(StructType.fromDDL("corrupt_payload STRING"))
            .parquet(dlq).select("corrupt_payload")
          storeDf.withColumn("corrupt_payload", lit(null).cast("string"))
            .unionByName(dlqDf
              .withColumn("doc_id", lit(null).cast("long"))
              .withColumn("n_chars", lit(null).cast("long")))
        },
        realBatches = () => Replay.partCount(src, ext = ".txt"))
    }

  /** T1 (streaming) BATCH-REPLAY: the REAL watermarked streaming dedup
    * (`dropDuplicatesWithinWatermark` on the content hash) over `nFiles`
    * splits, one micro-batch per file. Event time is synthesized from doc_id
    * with the horizon DERIVED from the staged doc_id span (plus a day of
    * slack, instead of a fixed 365 days that silently breaks past ~31.5M
    * ids — r8 advice), so no duplicate can arrive outside the watermark: the
    * emitted set is EXACTLY one row per distinct content hash wherever the
    * batch cuts fall (only hash-determined columns are emitted). Oracle:
    * SELECT DISTINCT over the batch table.
    *
    * Crash leg (seen-hash state): the reopened query must hand the replayed
    * batch the PRE-batch state — a post-batch resume would classify its
    * first occurrences as already-seen and DROP them (missing rows, which
    * the hash gate catches). Re-emitted firsts are byte-identical and
    * absorbed by row_hash. */
  def replayStreamDedup(spark: SparkSession, docs: DataFrame,
                        nFiles: Int = 4, killAfterBatches: Int = 0,
                        stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "t1", nFiles, killAfterBatches) { out =>
      val (src, horizonSec) = StageMemo(stageKey, s"t1|$nFiles", docs) {
        val s = s"${TempRoots.create("graft_t1_replay_")}/src"
        docs.select(col("doc_id"), col("text"))
          .repartitionByRange(nFiles, col("doc_id"))
          .write.mode("overwrite").parquet(s)
        val span = spark.read.parquet(s)
          .agg(max(col("doc_id")) - min(col("doc_id"))).head().getLong(0)
        (s, java.lang.Long.valueOf(span + 86400L))
      }
      Replay.Rung(
        stream = () => parquetStream(spark, src)
          .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
          .withColumn("row_hash", md5(col("text")))
          .withWatermark("ts", s"$horizonSec seconds")
          .dropDuplicatesWithinWatermark("row_hash")
          .select(col("row_hash"), length(col("text")).as("text_len")),
        sink = appendTo(out),
        settle = () => spark.read.parquet(out),
        realBatches = () => Replay.partCount(src),
        absorbKeys = Seq("row_hash"))
    }

  /** §2.5 stateful-aggregation BATCH-REPLAY: the flagship per-student GPA as
    * keyed streaming state ([[StatefulGpa]], mapGroupsWithState) over the
    * enrollment-mapped events, one micro-batch per staged file. Each batch's
    * updates append to the sink; the FINAL state per student is the update
    * with the maximal rows-seen counter (strictly increasing per key, so the
    * arbitration is total). Deterministic to the BIT for any batch cut:
    * quality points are grade4 (quarter steps) × integer credits, so every
    * partial sum is exactly representable and the fold order cannot change
    * the state. The oracle is the one-shot batch aggregate.
    *
    * Crash leg (keyed accumulators): Spark's versioned state store must hand
    * the replayed batch the PRE-batch version — a resume from the
    * post-batch version would double-fold every student it touched and fail
    * the hash gate. The duplicated sink append is absorbed by the rows-seen
    * arbitration (identical rows; latest-by-n picks one). */
  def replayStatefulGpa(spark: SparkSession, events: DataFrame,
                        excludedSemester: Int, nFiles: Int = 4,
                        killAfterBatches: Int = 0,
                        stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "gpa", nFiles, killAfterBatches) { out =>
      val src = StageMemo(stageKey, s"gpa|$nFiles", events) {
        val s = s"${TempRoots.create("graft_gpa_replay_")}/src"
        // Range-split on EVENT TIME, not on the stateful key: a split on
        // F_MASV would land every student's rows in one micro-batch and the
        // cross-batch state fold would never run (r8 advice).
        graft.query.EventsAdapter.enrollmentView(events)
          .repartitionByRange(nFiles, col("@timestamp"))
          .write.mode("overwrite").parquet(s)
        // Loud guard on the premise: at least one key must straddle files.
        val straddling = spark.read.parquet(s)
          .select(col("F_MASV"), input_file_name().as("__f"))
          .groupBy("F_MASV").agg(countDistinct(col("__f")).as("__nf"))
          .filter(col("__nf") > 1).count()
        require(straddling > 0,
          "GPA replay staging left every key inside one micro-batch; " +
            "cross-batch state accumulation would be untested")
        s
      }
      Replay.Rung(
        stream = () => StatefulGpa.stream(parquetStream(spark, src),
          excludedSemester).toDF(),
        sink = appendTo(out),
        settle = () =>
          Upsert.latestByKey(spark.read.parquet(out), Seq("masv"), "n", "n"),
        realBatches = () => Replay.partCount(src),
        outputMode = "update")
    }

  /** §2.5 event-time-TIMER BATCH-REPLAY: [[SessionTimeout.summaries]]
    * (transformWithState, one summary per closed session, fired by the
    * watermark) over a file-source replay of the events table, gated against
    * the batch gap-island sessionization.
    *
    * Session state is ORDER-SENSITIVE across micro-batches (an out-of-order
    * batch would fold a later session's events into the open one), so the
    * staging enforces event-time batch order: the range split on `ts` makes
    * file k hold strictly earlier events than file k+1, and [[layOrdered]]
    * pins the replay order. Batch CUTS then cannot matter: within a batch
    * the Summarizer folds in event-time order and splits on gap inline;
    * across batches the state carries last-event time forward.
    *
    * A sentinel row (user_id = -1) staged LAST at max(ts) + gap + 1 h pushes
    * the final watermark past every real session's close timer, so the
    * drain's no-data batch fires them all and the oracle is the PLAIN batch
    * sessionization (strict `>` gap, ms precision). `value` is pre-converted
    * map-side to integer cents riding a double, so per-session totals are
    * exact in any fold order. Timers need the RocksDB provider
    * (transformWithState's contract).
    *
    * Crash leg (state PLUS timers, in RocksDB): the engine may interleave
    * watermark-driven no-data batches, so batch k can land a file or two
    * early in the corpus; the premise only needs fresh files to remain. Lost
    * timers would leave sessions unclosed when the sentinel fires (missing
    * rows). Re-appended summaries are absorbed by (user_id, start_ms): a
    * user's sessions are disjoint, so start_ms keys a session. */
  def replaySessionSummaries(spark: SparkSession, events: DataFrame,
                             gapMs: Long = 1800000L, nFiles: Int = 4,
                             killAfterBatches: Int = 0,
                             stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "sess", nFiles, killAfterBatches) { out =>
      val (staged, src) = StageMemo(stageKey, s"sess|$gapMs|$nFiles", events) {
        val root = TempRoots.create("graft_sess_replay_")
        val stagedD = s"$root/staged"; val sent = s"$root/sent"
        val srcD = s"$root/src"
        events.select(col("user_id").cast("long").as("user_id"), col("ts"),
            round(col("value") * 100).cast("long").cast("double").as("value"))
          .repartitionByRange(nFiles, col("ts"))
          .write.mode("overwrite").parquet(stagedD)
        // Premise scalar from the JUST-WRITTEN staging, not the upstream
        // plan (which would re-execute the whole source load).
        val maxTs = spark.read.parquet(stagedD)
          .agg(max(unix_millis(col("ts")))).head().getLong(0)
        spark.range(1).select(lit(-1L).as("user_id"),
            timestamp_millis(lit(maxTs + gapMs + 3600000L)).as("ts"),
            lit(0.0).as("value"))
          .coalesce(1).write.mode("overwrite").parquet(sent)
        // range-partition index IS ascending time order; sentinel last
        layOrdered(Seq(stagedD, sent), srcD)
        (stagedD, srcD)
      }
      Replay.Rung(
        stream = () => SessionTimeout.summaries(parquetStream(spark, src),
          gapMs, watermark = "0 seconds").toDF(),
        sink = appendTo(out),
        settle = () => spark.read.parquet(out)
          .filter(col("user_id") >= 0L)
          .select(col("user_id"), col("n_events"),
            col("total").cast("long").as("total_cents"),
            col("start_ms"), col("end_ms")),
        realBatches = () => Replay.partCount(staged),
        absorbKeys = Seq("user_id", "start_ms"),
        confs = Map(Replay.StateProvider -> Replay.RocksDbProvider))
    }

  /** §2.5 STREAM-STREAM event-time interval join BATCH-REPLAY over
    * [[intervalJoinStreams]]: view/click events (left) and purchases (right)
    * staged as `nFiles` time-range splits each, replayed through their OWN
    * file sources one file per trigger, so pairs form both within a batch
    * and ACROSS the two streams' batches. The watermark is derived from the
    * staged event-time span (plus a day), so no join state is evicted before
    * the drain: each qualifying pair emits exactly once and the emitted SET
    * equals the batch theta-join for any cut. (Bounded-state eviction under
    * a REAL watermark is StreamingSpec's horizon test; here it would make
    * the output depend on batch timing.)
    *
    * Crash leg (symmetric join buffers, four state stores per partition):
    * lost buffers drop every pair straddling the crash; a post-batch resume
    * re-inserts the replayed rows. Re-emitted pairs are absorbed by
    * (l_id, r_id). maxFilesPerTrigger is PER SOURCE, so the sources drain in
    * lockstep: nFiles file batches, each one file from EACH side (not
    * 2*nFiles), which is what the crash-point bound counts. The memo tag
    * carries `within` so a future staging that bakes it in cannot reuse a
    * stale stage. */
  def replayIntervalJoin(spark: SparkSession, events: DataFrame,
                         within: String = "30 minutes", nFiles: Int = 2,
                         killAfterBatches: Int = 0,
                         stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "ssjoin", nFiles, killAfterBatches) { out =>
      val (lsrc, rsrc, horizonSec) =
        StageMemo(stageKey, s"ssjoin|$within|$nFiles", events) {
          val root = TempRoots.create("graft_ssj_replay_")
          stageSides(events, nFiles, s"$root/l", s"$root/r")
          val span = spark.read.parquet(s"$root/l", s"$root/r")
            .agg(max(unix_millis(col("ts"))) - min(unix_millis(col("ts"))))
            .head().getLong(0)
          (s"$root/l", s"$root/r", java.lang.Long.valueOf(span / 1000L + 86400L))
        }
      Replay.Rung(
        stream = () => joinPairs(spark, lsrc, rsrc, within,
          s"$horizonSec seconds", "inner"),
        sink = appendTo(out),
        settle = () => spark.read.parquet(out),
        realBatches = () => math.min(Replay.partCount(lsrc), Replay.partCount(rsrc)),
        absorbKeys = Seq("l_id", "r_id"))
    }

  /** Stage the two join sides (view/click left, purchase right) as `nFiles`
    * time-range splits each. */
  private def stageSides(events: DataFrame, nFiles: Int, l: String, r: String): Unit = {
    def stage(side: DataFrame, dir: String): Unit =
      side.select(col("event_id"), col("user_id"), col("ts"))
        .repartitionByRange(nFiles, col("ts"))
        .write.mode("overwrite").parquet(dir)
    stage(events.filter(col("event_type").isin("view", "click")), l)
    stage(events.filter(col("event_type") === "purchase"), r)
  }

  private def joinPairs(spark: SparkSession, lsrc: String, rsrc: String,
                        within: String, watermark: String,
                        joinType: String): DataFrame =
    intervalJoinStreams(parquetStream(spark, lsrc), parquetStream(spark, rsrc),
        "user_id", "ts", within = within, watermark = watermark,
        joinType = joinType)
      .select(col("l.event_id").as("l_id"), col("r.event_id").as("r_id"),
        col("l.user_id").as("user_id"))

  /** §2.5 stream-stream LEFT-OUTER interval join BATCH-REPLAY: the
    * did-NOT-convert leg — every view/click with no purchase inside the
    * window emits (left, null) once the watermark PROVES none can still
    * arrive, a negative emission driven by state eviction, not by data
    * arrival. Matched pairs emit exactly once as in the inner replay (the
    * delay spans the corpus). Null rows emit once per never-matched left in
    * the no-data batches after two sentinel files per stream (staged
    * mtime-LAST; two because eviction runs a trigger behind the watermark
    * advance — see StreamingSpec's outer test), which push the final
    * watermark past every real left's eviction bound `l.ts + within +
    * delay`. Emitted set = the batch LEFT theta-join whatever the cut;
    * sentinels filter out by user_id < 0.
    *
    * The window is given ONCE as `withinMs` and the join's interval string
    * is derived from it, so the sentinel horizon and the eviction bound can
    * never disagree (r10 advice).
    *
    * Crash leg (eviction from recovered state): the crash lands during the
    * file batches, so the recovered buffers carry through the rest of the
    * corpus and the sentinels' no-data batches must still emit one null per
    * never-matched left. Lost buffers both drop straddling pairs and lose
    * pending lefts; re-emitted pairs are absorbed by (l_id, r_id) — a null
    * row's l_id appears only when NO match exists for it. */
  def replayIntervalJoinOuter(spark: SparkSession, events: DataFrame,
                              withinMs: Long = 1800000L, nFiles: Int = 2,
                              killAfterBatches: Int = 0,
                              stageKey: Option[String] = None): DataFrame =
    Replay.run(spark, "outer", nFiles, killAfterBatches) { out =>
      val (lsrc, rsrc, delaySec) =
        StageMemo(stageKey, s"ssjoin_outer|$withinMs|$nFiles", events) {
          val root = TempRoots.create("graft_ssjo_replay_")
          stageSides(events, nFiles, s"$root/l.tmp", s"$root/r.tmp")
          // Premise scalars from the JUST-WRITTEN staging in ONE pass; only
          // staged rows replay, so their span and max are the bounds.
          val bounds = spark.read.parquet(s"$root/l.tmp", s"$root/r.tmp").agg(
            (max(unix_millis(col("ts"))) - min(unix_millis(col("ts")))).as("span"),
            max(unix_millis(col("ts"))).as("mx")).head()
          val span = bounds.getLong(0); val maxMs = bounds.getLong(1)
          val delayMs = span + 86400000L
          def layWithSentinels(dir: String, sentinelUser: Long): String = {
            // Two sentinel files, each its own micro-batch: the first
            // advances the watermark past every real left's eviction bound,
            // the second drives the trigger in which eviction emits.
            (0 to 1).foreach { i =>
              spark.range(1).select(lit(-1L - i).as("event_id"),
                  lit(sentinelUser).as("user_id"),
                  timestamp_millis(lit(maxMs + withinMs + delayMs + 3600000L
                    + i * 1000L)).as("ts"))
                .coalesce(1).write.mode("overwrite").parquet(s"$dir.sent$i")
            }
            layOrdered(Seq(s"$dir.tmp", s"$dir.sent0", s"$dir.sent1"), dir)
            dir
          }
          (layWithSentinels(s"$root/l", -1L), layWithSentinels(s"$root/r", -2L),
            java.lang.Long.valueOf(delayMs / 1000L))
        }
      Replay.Rung(
        stream = () => joinPairs(spark, lsrc, rsrc, s"$withinMs milliseconds",
          s"$delaySec seconds", "left_outer"),
        sink = appendTo(out),
        settle = () => spark.read.parquet(out).filter(col("user_id") >= 0L),
        realBatches = () => math.min(Replay.partCount(s"$lsrc.tmp"),
          Replay.partCount(s"$rsrc.tmp")),
        absorbKeys = Seq("l_id", "r_id"))
    }

  /** Full consumer leg: Kafka -> enrich -> upsert (compile-time wiring; needs
    * live brokers, exercised in tests via MemoryStream + consumerTransform). */
  def runConsumer(spark: SparkSession, servers: String, topic: String,
                  path: String, checkpoint: String): StreamingQuery =
    upsertSink(consumerTransform(kafkaJsonSource(spark, servers, topic)),
      path, checkpoint).start()
}
