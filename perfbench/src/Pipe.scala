package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.{Enrich, Ingest, Upsert}
import graft.model.Schemas
import graft.query.Progress

/** The paper's path, composed only of the program's public entry points:
  * workbooks land in a watched folder, `readStream.format("xlsx")` reads
  * them, `Ingest.deltaDedup` drops rows whose content hash is in the seen
  * table, `Enrich.consumerPipeline` enriches, `Upsert.foreachBatchMerge`
  * upserts keyed `(doc_id, ingest_date)`, and `Progress.report` +
  * `Progress.transcript` answer for one student.
  *
  * Untraced, each micro-batch runs the stages fused, as a deployment
  * would. Traced, each stage's output is written to the run's scratch
  * directory before the next public function is called, so each layer's
  * time and counts stand apart. */
final class Pipe(spark: SparkSession, root: String, tracer: Tracer) {
  val store = s"$root/store"
  private val seen = s"$root/seen"
  private val ckpt = s"$root/ckpt"
  private val scratch = s"$root/scratch"
  private val folder = new Folder(java.nio.file.Paths.get(root))
  private val keys = Seq("doc_id", "ingest_date")
  private val merge = Upsert.foreachBatchMerge(store, keys, "@timestamp", "row_hash", "ingest_date")

  private val cellSchema = StructType(Gen.Header.map(StructField(_, StringType)))
  private val seenSchema = StructType(Seq(StructField("row_hash", StringType)))
  Files.createDirectories(Paths.get(seen))

  /** Workbook cells typed to the program's enrollment schema (the part the
    * Kafka JSON parse plays on the program's other ingest leg). */
  private def typed(cells: DataFrame): DataFrame =
    cells.select(Schemas.enrollment.fields.toIndexedSeq.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)

  private def seenHashes: DataFrame = spark.read.schema(seenSchema).parquet(seen)

  /** T1 dedup of `rows` against the seen table, enrichment, `upsert`, then
    * the kept rows' hashes appended to the seen table. */
  private def ingest(rows: DataFrame)(upsert: DataFrame => Unit): Unit = {
    val kept = Ingest.deltaDedup(typed(rows), seenHashes).persist()
    try {
      upsert(Enrich.consumerPipeline(kept))
      kept.select("row_hash").coalesce(1).write.mode("append").parquet(seen)
    } finally kept.unpersist()
  }

  /** Setup path: one term merged as one batch, bypassing the stream. */
  def seedTerm(rows: Seq[Gen.Row]): Unit =
    ingest(spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r.cells)).asJava, cellSchema)) {
      Upsert.mergeBatch(spark, _, store, keys, "@timestamp", "row_hash", "ingest_date")
    }

  // ---- stream ----------------------------------------------------------

  /** Landed files not yet readable, by their (unique) mtime, with the
    * landing and the benchmark operation that made them. */
  private val pending = new ConcurrentHashMap[Long, (Landed, Int, String)]()
  /** Per landing: merge-return time of each of its files. */
  private val doneAt = new ConcurrentHashMap[Int, Array[Long]]()
  /** Batch id whose merge made each landing fully readable. */
  private val doneBatch = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Traced per-batch counts (rows in, kept, enriched, files written, ...). */
  val batchCounts = new ConcurrentHashMap[Long, Map[String, Long]]()
  /** The operation each batch served, and whether it ran traced. */
  val batchOp = new ConcurrentHashMap[Long, (String, Boolean)]()
  @volatile private var query: StreamingQuery = _

  def start(): Unit = {
    query = spark.readStream.format("xlsx").schema(cellSchema).load(folder.uri)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .option("checkpointLocation", ckpt)
      .start()
  }

  def stop(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    if (query == null) Nil
    else {
      query.stop()
      val p = query.recentProgress.toSeq
      query = null
      p
    }

  private def sink(batch: DataFrame, id: Long): Unit = {
    val op = MtimeRe.findAllMatchIn(offsetLog(id))
      .flatMap(m => Option(pending.get(m.group(1).toLong))).map(_._3)
      .toSeq.sorted.headOption.getOrElse(s"batch-$id")
    batchOp.put(id, (op, tracer.on))
    if (!tracer.on) ingest(batch) { enriched => merge(enriched, id); merged(id) }
    else {
      val dir = s"$scratch/$id"
      def stage(name: String, df: => DataFrame): DataFrame = tracer.span(name, op) {
        df.write.parquet(s"$dir/$name")
        spark.read.parquet(s"$dir/$name")
      }
      // the bench's own counts read parquet footers, not Spark jobs, so
      // they stay small beside the layers they count
      val (seenRows, before) = tracer.span("bench.count", op) {
        (footerRows(parquetFiles(seen)), parquetFiles(store))
      }
      val parsed = stage("xlsx.parse", typed(batch))
      val kept = stage("ingest.dedup", Ingest.deltaDedup(parsed, seenHashes))
      val enriched = stage("enrich", Enrich.consumerPipeline(kept))
      tracer.span("upsert.merge", op) { merge(enriched, id) }
      merged(id)
      tracer.span("ingest.seen_append", op) {
        kept.select("row_hash").coalesce(1).write.mode("append").parquet(seen)
      }
      tracer.span("bench.count", op) {
        // the written files now, before a later merge replaces them; the
        // staged stage outputs (hundreds of files) after the window
        val written = parquetFiles(store).filterNot(before.contains)
        batchCounts.put(id, Map(
          "seen_rows" -> seenRows,
          "files_written" -> written.size.toLong,
          "bytes_written" -> written.toSeq.map(f => Files.size(Paths.get(f))).sum,
          "rows_rewritten" -> footerRows(written),
          "offset_bytes" -> offsetBytes(id)))
      }
    }
  }

  /** After the window: each traced batch's rows in, kept and enriched,
    * from its staged stage outputs. */
  def countStaged(): Unit = batchCounts.asScala.foreach { case (id, m) =>
    def staged(name: String) = footerRows(parquetFiles(s"$scratch/$id/$name"))
    batchCounts.put(id, m ++ Map("rows_in" -> staged("xlsx.parse"),
      "rows_kept" -> staged("ingest.dedup"), "rows_enriched" -> staged("enrich")))
  }

  /** Paths of the parquet files under `dir`. */
  private def parquetFiles(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  /** Rows in parquet files, from their footers. */
  private def footerRows(files: Iterable[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path("file://" + f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def offsetLog(id: Long): String =
    new String(Files.readAllBytes(Paths.get(s"$ckpt/offsets/$id")), "UTF-8")

  /** Bytes of the source's offset (the seen-file set) in the batch's log entry. */
  private def offsetBytes(id: Long): Long =
    offsetLog(id).split("\n").last.getBytes("UTF-8").length.toLong

  private val MtimeRe = "#(\\d+)#\\d+\"".r

  /** Called when a batch's merge returns: every landed file in the batch's
    * end offset is now readable. */
  private def merged(id: Long): Unit = {
    val now = System.nanoTime()
    MtimeRe.findAllMatchIn(offsetLog(id)).foreach { m =>
      val hit = pending.remove(m.group(1).toLong)
      if (hit != null) {
        val (l, i, _) = hit
        val arr = doneAt.get(l.id)
        arr(i) = now
        if (arr.forall(_ > 0)) doneBatch.put(l.id, id)
      }
    }
    doneBatch.synchronized(doneBatch.notifyAll())
  }

  /** Land workbooks for operation `op` and register them as pending. */
  def land(books: Seq[(String, Array[Byte], Int)], op: String): Landed =
    tracer.span("land.rename", op) {
      folder.land(books, { l =>
        doneAt.put(l.id, new Array[Long](l.files.size))
        l.mtimes.zipWithIndex.foreach { case (m, i) => pending.put(m, (l, i, op)) }
      })
    }

  /** Wait until every file of `l` is readable and its batch has committed.
    * Returns each file's merge-return time, or None past the deadline. The
    * wait sleeps on a monitor that each merge's return signals, then
    * checks for the commit every millisecond, so the waiting thread's CPU
    * time does not grow with the landing's wall time. */
  def await(l: Landed, timeoutMs: Long): Option[Seq[Long]] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      if (query.exception.isDefined) throw query.exception.get
      val b = doneBatch.get(l.id)
      if (b != null) {
        val lp = query.lastProgress
        if (lp != null && lp.batchId >= b) {
          return Some(doneAt.get(l.id).toSeq)
        }
      }
      doneBatch.synchronized {
        doneBatch.wait(if (doneBatch.get(l.id) == null) 50 else 1)
      }
    }
    None
  }

  // ---- query -----------------------------------------------------------

  /** One student's answer, over the store opened afresh: the report row
    * and the transcript, both collected. Traced, also the query stats. */
  def answer(id: String, op: String): (Array[org.apache.spark.sql.Row],
      Array[org.apache.spark.sql.Row], QueryStats) = {
    val st = tracer.span("query.open", op) { spark.read.parquet(store) }
    val (rep, r) = tracer.span("query.report", op) {
      val df = Progress.report(spark, st.filter(col("F_MASV") === id))
      (df, df.collect())
    }
    val (tdf, t) = tracer.span("query.transcript", op) {
      val df = Progress.transcript(st, id)
      (df, df.collect())
    }
    (r, t, if (tracer.on) QueryStats.of(rep) + QueryStats.of(tdf) else QueryStats.Zero)
  }

  /** The all-students report over the store opened afresh, collected. */
  def report(op: String): (Array[org.apache.spark.sql.Row], QueryStats) = {
    val st = tracer.span("query.open", op) { spark.read.parquet(store) }
    val (df, r) = tracer.span("query.all_report", op) {
      val df = Progress.report(spark, st)
      (df, df.collect())
    }
    (r, if (tracer.on) QueryStats.of(df) else QueryStats.Zero)
  }

  /** Every live store row as (doc_id, ingest_date, posted, grade). */
  def storeRows(): Array[(String, String, String, Double)] =
    spark.read.parquet(store)
      .select(col("doc_id"), col("ingest_date").cast("string"),
        date_format(col("@timestamp"), "yyyy-MM-dd HH:mm:ss"), col("F_DIEM2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))

  /** Parquet files and bytes in the store. */
  def storeSize(): (Long, Long) = {
    val fs = parquetFiles(store).toSeq
    (fs.size.toLong, fs.map(f => Files.size(Paths.get(f))).sum)
  }
}

/** What one collected query did, read from its plan after `collect`
  * returned: Catalyst phase time and the file scans' SQL metrics. */
final case class QueryStats(planMs: Long, files: Long, rowsScanned: Long) {
  def +(o: QueryStats): QueryStats =
    QueryStats(planMs + o.planMs, files + o.files, rowsScanned + o.rowsScanned)
}

object QueryStats extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.FileSourceScanExec
  val Zero: QueryStats = QueryStats(0, 0, 0)
  def of(df: DataFrame): QueryStats = {
    val qe = df.queryExecution
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    QueryStats(planMs, metric("numFiles"), metric("numOutputRows"))
  }
}
