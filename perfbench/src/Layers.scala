package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, read after its window has closed:
  * the spans, the runtime counters per layer tag, the stream's per-trigger
  * durations and the pipeline's per-batch counts. Times are means per
  * traced batch (ingest layers) or per traced answer / report (query
  * layers); counts are totals over the traced rounds, which are fixed for a
  * seed, so the counts repeat exactly. */
object Layers {
  /** The sink's layer spans, and with the bench's counting all of its spans. */
  private val LayerSpans = Seq("xlsx.parse", "ingest.dedup", "enrich", "upsert.merge",
    "ingest.seen_append")
  private val SinkSpans = LayerSpans :+ "bench.count"
  private val QuerySpans = Set("query.open", "query.report", "query.transcript",
    "query.all_report")
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def metrics(spans: Seq[Span], listener: LayerListener, pipe: Pipe,
              progress: Seq[StreamingQueryProgress], queryStats: Seq[QueryStats],
              reportStats: Seq[QueryStats], rounds: Seq[(Long, Boolean)],
              landWallMs: Map[String, Long], store: (Long, Long, Long))
      : Seq[(String, Double, String)] = {
    val ms = 1e6
    def dur(x: Span): Double = (x.end - x.start) / ms
    val byOp = spans.groupBy(_.op)
    val traced = pipe.batchOp.asScala.toSeq.collect { case (id, (op, true)) => (id.longValue, op) }
      .sortBy(_._1)
    val nb = math.max(1, traced.size).toDouble
    val prog = progress.map(p => p.batchId -> p).toMap
    def phase(id: Long, k: String): Double =
      prog.get(id).flatMap(p => Option(p.durationMs.get(k))).map(_.doubleValue).getOrElse(0.0)
    def spanSum(op: String, name: String): Double =
      byOp.getOrElse(op, Nil).filter(_.name == name).map(dur).sum
    def perBatch(name: String): Double = traced.map { case (_, op) => spanSum(op, name) }.sum / nb
    def count(k: String): Double =
      traced.map { case (id, _) => pipe.batchCounts.asScala.get(id).map(_(k)).getOrElse(0L) }.sum.toDouble
    def lastCount(k: String): Double = traced.lastOption
      .flatMap { case (id, _) => pipe.batchCounts.asScala.get(id).map(_(k).toDouble) }.getOrElse(0.0)
    def discovery(id: Long, op: String): Double = (for {
      p <- prog.get(id); w <- landWallMs.get(op)
    } yield java.time.Instant.parse(p.timestamp).toEpochMilli - w).getOrElse(0L).toDouble

    val answers = spans.filter(_.name == "op.answer")
    val reports = spans.filter(_.name == "op.report")
    val na = math.max(1, answers.size).toDouble
    val nr = math.max(1, reports.size).toDouble
    def answerSpan(name: String): Double =
      answers.map(o => byOp(o.op).filter(_.name == name).map(dur).sum).sum / na
    def acc(tags: Seq[String]): Seq[listener.Acc] = tags.flatMap(t => Option(listener.byLayer.get(t)))
    def jobs(tags: String*): Double = acc(tags).map(_.jobs.get).sum.toDouble
    val planMs = queryStats.map(_.planMs).sum / na

    val rowsIn = count("rows_in"); val kept = count("rows_kept")
    val enriched = count("rows_enriched"); val rewritten = count("rows_rewritten")

    // Tracing accounting: the layers' self times against the traced
    // operations' wall. A landing's wall runs from the rename to the
    // return of the wait for its batch; its layers are the rename, the
    // wait until a trigger picks the files up, the trigger's phases other
    // than addBatch, and inside addBatch the sink's stage spans. The
    // bench's own counting and addBatch's unattributed rest are not
    // layers. An answer's or a report's layers are its query spans.
    val landOps = spans.filter(_.name == "op.land").filter(o => byOp(o.op).exists(_.name == "xlsx.parse"))
    val opBatches = traced.groupBy(_._2).map { case (op, ids) => op -> ids.map(_._1) }
    val landAccount = landOps.map { o =>
      val ids = opBatches.getOrElse(o.op, Nil)
      val parts = spanSum(o.op, "land.rename") + LayerSpans.map(spanSum(o.op, _)).sum +
        ids.map(id => discovery(id, o.op) +
          Phases.filterNot(_ == "addBatch").map(phase(id, _)).sum).sum
      (dur(o), parts)
    }
    val queryAccount = (answers ++ reports).map { o =>
      (dur(o), byOp(o.op).filter(x => QuerySpans.contains(x.name)).map(dur).sum)
    }
    val accounted = landAccount ++ queryAccount
    val acctShare = accounted.map(_._2).sum / math.max(1e-9, accounted.map(_._1).sum)
    val tr = rounds.filter(_._2).map(_._1.toDouble)
    val un = rounds.filterNot(_._2).map(_._1.toDouble)
    val overhead =
      if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr) / Stats.median(un) - 1.0

    val runtime = Seq(
      "xlsx.parse" -> (Seq("xlsx.parse"), nb), "ingest.dedup" -> (Seq("ingest.dedup"), nb),
      "enrich" -> (Seq("enrich"), nb), "upsert.merge" -> (Seq("upsert.merge"), nb),
      "query.answer" -> (Seq("query.open", "query.report", "query.transcript"), na),
      "query.all_report" -> (Seq("query.all_report"), nr)
    ).flatMap { case (layer, (tags, n)) =>
      val as = acc(tags)
      Seq(
        (s"$layer.task_cpu_ms", as.map(_.cpuNs.get).sum / 1e6 / n, "ms"),
        (s"$layer.gc_ms", as.map(_.gcMs.get).sum / n, "ms"),
        (s"$layer.shuffle_bytes", as.map(_.shuffleBytes.get).sum / n, "bytes"),
        (s"$layer.spill_bytes", as.map(_.spillBytes.get).sum / n, "bytes"),
        (s"$layer.sched_delay_ms", as.map(_.schedDelayMs.get).sum / n, "ms"))
    }

    Seq(
      ("xlsx.parse_ms", perBatch("xlsx.parse"), "ms"),
      ("xlsx.rows_read", rowsIn, "rows"),
      ("xlsx.offset_bytes", lastCount("offset_bytes"), "bytes"),
      ("xlsx.list_ms", LandingFs.listNanos.sum / ms / math.max(1L, LandingFs.listings.sum), "ms"),
      ("stream.latest_offset_ms", traced.map(b => phase(b._1, "latestOffset")).sum / nb, "ms"),
      ("stream.batches", traced.size.toDouble, "count"),
      ("stream.planning_ms", traced.map(b => phase(b._1, "getBatch") +
        phase(b._1, "queryPlanning")).sum / nb, "ms"),
      ("stream.wal_commit_ms", traced.map(b => phase(b._1, "walCommit")).sum / nb, "ms"),
      ("stream.commit_offsets_ms", traced.map(b => phase(b._1, "commitOffsets")).sum / nb, "ms"),
      ("stream.add_batch_ms", traced.map { case (id, op) =>
        phase(id, "addBatch") - SinkSpans.map(spanSum(op, _)).sum }.sum / nb, "ms"),
      ("stream.discovery_wait_ms", traced.map { case (id, op) => discovery(id, op) }.sum / nb, "ms"),
      ("ingest.dedup_ms", perBatch("ingest.dedup"), "ms"),
      ("ingest.seen_append_ms", perBatch("ingest.seen_append"), "ms"),
      ("ingest.rows_in", rowsIn, "rows"),
      ("ingest.rows_kept", kept, "rows"),
      ("ingest.kept_share", if (rowsIn > 0) kept / rowsIn else 0.0, "share"),
      ("ingest.seen_rows", lastCount("seen_rows"), "rows"),
      ("enrich.ms", perBatch("enrich"), "ms"),
      ("enrich.rows_rejected", kept - enriched, "rows"),
      ("upsert.merge_ms", perBatch("upsert.merge"), "ms"),
      ("upsert.jobs", jobs("upsert.merge") / nb, "count"),
      ("upsert.rows_rewritten", rewritten, "rows"),
      ("upsert.rewrite_per_changed_row", rewritten / math.max(1.0, kept), "ratio"),
      ("upsert.bytes_written", count("bytes_written"), "bytes"),
      ("upsert.files_written", count("files_written"), "count"),
      ("store.files", store._1.toDouble, "count"),
      ("store.bytes", store._2.toDouble, "bytes"),
      ("store.rows", store._3.toDouble, "rows"),
      ("query.open_ms", answerSpan("query.open"), "ms"),
      ("query.plan_ms", planMs, "ms"),
      ("query.exec_ms", answerSpan("query.report") + answerSpan("query.transcript") - planMs, "ms"),
      ("query.jobs_per_answer", jobs("query.open", "query.report", "query.transcript") / na, "count"),
      ("query.files_read_per_answer", queryStats.map(_.files).sum / na, "count"),
      ("query.rows_scanned_per_answer", queryStats.map(_.rowsScanned).sum / na, "rows"),
      ("query.report_ms", reports.map(o => byOp(o.op).filter(_.name == "query.all_report")
        .map(dur).sum).sum / nr, "ms"),
      ("query.report_jobs", jobs("query.all_report") / nr, "count"),
      ("query.report_rows_scanned", reportStats.map(_.rowsScanned).sum / nr, "rows"),
      ("bench.check_ms", (answers ++ reports).map(o => byOp(o.op)
        .filter(_.name == "bench.check").map(dur).sum).sum / (na + nr), "ms"),
      ("trace.accounted_share", acctShare, "share"),
      ("trace.overhead_share", overhead, "share"),
      ("trace.spans", spans.size.toDouble, "count")
    ) ++ runtime
  }
}
