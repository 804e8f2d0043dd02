package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver bench contract: run every registered query (or the named ones,
  * `runMain graft.Bench [query ...]`) on SPARK_GRAFT_SF_DIR, print ONE JSON
  * line {"metric":"total",...} on stdout. An unknown name exits 2 with
  * [[Usage]].
  *
  * Queries run in sorted name order (deterministic attribution) after a
  * warmup pass that pays the one-time session costs (codegen compiler,
  * parquet footer reads, shuffle service spin-up) so per-query numbers
  * measure the query, not JVM warmup.
  *
  * SELF-ADJUDICATION (VERDICT r17 #1, r18 #1): three rounds of elevated
  * driver windows showed that RUN-LEVEL endpoints (loadavg at start/end,
  * whole-run steal share) cannot adjudicate a PER-QUERY stall — r18's
  * window ran 2.4x wall with d13 sustained at 8x while steal read 0.57%
  * and the loadavg endpoints straddled the burst. The artifact now carries
  * per-query-pass evidence on the channel this host's contention actually
  * uses (cgroup CPU-share co-tenancy, invisible to steal):
  *   - every pass of every query samples loadavg at pass start and the
  *     PSI delta across the pass — /proc/pressure/cpu "some total" is the
  *     microseconds ANY runnable task spent waiting for a CPU, so
  *     stall_pct = dPSI/wall directly measures "this pass ran while CPUs
  *     were contended", burst or sustained, tenant-visible or not;
  *   - "ctx" on the stdout line: per-pass [sec, stall_pct, load] triples
  *     for the queries that matter for adjudication — the most-discrepant
  *     (intra-run spread >2x = burst evidence) AND the slowest-by-min
  *     (a sustained stall hits every pass, so spread alone misses it; the
  *     same-row stall_pct is what says contention-vs-code);
  *   - run-level: "load" endpoints, "steal_pct"/"iowait_pct" (/proc/stat),
  *     "stall_pct" (whole-run PSI share), "unstable" count; cgroup CFS
  *     throttle time rides the sidecar (quota is -1 on this host — the
  *     field exists so a quota'd driver window shows itself).
  * Full per-pass arrays for every query go to a sidecar JSON (stdout keeps
  * a hard ~1900-char budget; path on stderr, default
  * tools/bench_telemetry_<sfbase>.json — per-sf so runs don't clobber each
  * other and the file is gitignored — overridable via SPARK_GRAFT_TELEMETRY).
  *
  * LAYER SPLIT: beside each pass's [sec, stall_pct, load] the sidecar's
  * "splits" holds what that same pass did, recorded by [[PassRecorder]]:
  * Catalyst phase ms, jobs with their driver gaps, completed stages with
  * task time, GC, spill and shuffle volumes, and for streaming replay rungs
  * the engine's per-trigger progress sums and batch count. A surprising
  * number is explained from the sidecar (`tools/diffbench.py` compares two),
  * not by re-running the query by hand. The recorder is switched on before
  * a pass's clock starts and drained after it stops: nothing is read or
  * waited on inside the timed window.
  *
  * Pass structure (the interleave that makes min-of-passes meaningful):
  * pass 1 sweeps EVERY query, pass 2 re-sweeps the >1.0s queries in
  * REVERSE order (so a contention window covering one stretch of pass 1
  * lands on a different neighborhood of pass 2), pass 3 re-runs only the
  * still->2x-discrepant ones after the whole pass-2 sweep. A query's
  * passes are therefore separated by the full suite, never back-to-back.
  */
object Bench {
  private def loadavg1(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }.getOrElse(-1.0)

  /** First /proc/stat line: cpu user nice system idle iowait irq softirq steal … */
  private def cpuJiffies(): Array[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
  }.getOrElse(Array.empty[Long])

  /** PSI CPU "some total" in microseconds (/proc/pressure/cpu line 1):
    * cumulative wall time during which at least one runnable task was
    * stalled waiting for a CPU. -1 when PSI is absent (pre-4.20 kernel). */
  private def psiCpuSomeUs(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/pressure/cpu")
    try {
      val line = src.getLines().find(_.startsWith("some")).get
      line.split("total=")(1).trim.toLong
    } finally src.close()
  }.getOrElse(-1L)

  /** cgroup v1 CFS throttled_time (ns); -1 when unreadable. */
  private def throttledNs(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/sys/fs/cgroup/cpu/cpu.stat")
    try src.getLines().find(_.startsWith("throttled_time")).get.split("\\s+")(1).toLong
    finally src.close()
  }.getOrElse(-1L)

  /** One timed pass: wall seconds, the pass's own contention context and
    * its layer split. */
  final case class Pass(sec: Double, load: Double, stallPct: Double, split: PassRecorder.Split)

  val Usage = "usage: graft.Bench [query ...]  (no names: every registered query)"

  /** Pure command-line parse: the arguments are query names, none meaning
    * the whole registry. Left carries the exit code and the message. */
  def parse(args: Seq[String],
            known: String => Boolean = SparkEntry.queries.contains): Either[(Int, String), Seq[String]] =
    args.filterNot(known) match {
      case Seq() => Right(args.distinct)
      case unknown => Left(2 -> s"unknown query ${unknown.mkString(", ")}\n$Usage")
    }

  def main(args: Array[String]): Unit = {
    val names = parse(args.toSeq).fold({ case (code, msg) =>
      System.err.println(msg); sys.exit(code) }, identity)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val load0 = loadavg1()
    val jif0 = cpuJiffies()
    val psi0 = psiCpuSomeUs()
    val thr0 = throttledNs()
    val wall0 = System.nanoTime()
    val spark = Session.build(cpus, cpus)
    // Warmup: a tiny shuffle + parquet reads via the Tables loader, so the
    // first timed query doesn't pay first-touch costs (codegen, footers).
    try {
      spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()
      graft.model.Tables(spark, sfDir, "events").limit(10).count()
      graft.model.Tables(spark, sfDir, "documents").limit(10).count()
    } catch { case _: Throwable => () }
    // This host shows heavy cross-tenant CPU contention: identical queries
    // vary 5-30x run-to-run in BOTH directions (measured r5: e6 29.8s vs
    // 4.8s, join_semi 15.4s vs 0.95s). A single timing therefore measures
    // the host, not the query. Adaptive stabilization: re-run anything
    // slower than 1.0s and report the min; one extra run if both timings
    // stayed above 1.5s AND disagree by >2x (a stall hit one of them).
    val all = SparkEntry.queries
    val named = (if (names.isEmpty) all.toSeq else names.map(n => n -> all(n))).sortBy(_._1)
    // Loud failures (VERDICT r11 #3): a throwing query must NOT have its
    // exception's wall time reported as if it were the query's cost (r11
    // silently "improved" ssjoin 9s->0.6s by timing an analysis error).
    // Failed queries are excluded from the timing map and surfaced in a
    // "failed" list on the JSON line; failures here are deterministic
    // (analysis/plan errors), so no retry.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val rec = new PassRecorder(spark)
    def once(name: String, fn: (SparkSession, String) => DataFrame): Option[Pass] = {
      val ld = loadavg1()
      val p0 = psiCpuSomeUs()
      rec.start()
      val t0 = System.nanoTime()
      val timed = try {
        fn(spark, sfDir).count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
      val p1 = psiCpuSomeUs()
      // The clock has stopped: only now wait for the pass's events.
      val split = rec.drain()
      timed match {
        case Right(dt) =>
          val stall = if (p0 >= 0 && p1 >= 0 && dt > 0) (p1 - p0) / 1e6 / dt * 100.0 else -1.0
          Some(Pass(dt, ld, stall, split))
        case Left(e) =>
          failed += name
          System.err.println(s"[bench] $name FAILED: " +
            Option(e.getMessage).getOrElse(e.getClass.getName))
          None
      }
    }
    val pass1 = named.flatMap { case (name, fn) => once(name, fn).map(name -> _) }.toMap
    // Stalls are often SUSTAINED (minutes), so an immediate retry re-measures
    // the same stall. Re-run the affected queries as a second pass AFTER the
    // whole suite — in REVERSE order, so the two passes of a query sit at
    // maximally different offsets inside the run — then once more for any
    // query whose two timings still disagree by >2x.
    val slow = named.filter { case (n, _) => pass1.get(n).exists(_.sec > 1.0) }
    val pass2 = slow.reverse.flatMap { case (name, fn) => once(name, fn).map(name -> _) }.toMap
    val pass3 = slow.filter { case (n, _) =>
      (pass1.get(n), pass2.get(n)) match {
        case (Some(a), Some(b)) =>
          math.min(a.sec, b.sec) > 1.5 && math.max(a.sec, b.sec) > 2 * math.min(a.sec, b.sec)
        case _ => false
      }
    }.flatMap { case (name, fn) => once(name, fn).map(name -> _) }.toMap
    rec.close()
    // Per-query pass arrays, in pass order (pass1, pass2, pass3 where run).
    val passArrays: Seq[(String, List[Pass])] = named.flatMap { case (n, _) =>
      val ts = List(pass1.get(n), pass2.get(n), pass3.get(n)).flatten
      if (ts.isEmpty) None else Some(n -> ts)
    }
    val results = passArrays.map { case (n, ps) => n -> ps.map(_.sec).min }
    // ---- host telemetry over the full run (read BEFORE spark.stop so the
    // teardown isn't in the window; the passes themselves are).
    val load1 = loadavg1()
    val jif1 = cpuJiffies()
    val psi1 = psiCpuSomeUs()
    val thr1 = throttledNs()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val (stealPct, iowaitPct) =
      if (jif0.length >= 8 && jif1.length >= 8) {
        val d = jif1.zip(jif0).map { case (a, b) => math.max(a - b, 0L) }
        val tot = math.max(d.sum.toDouble, 1.0)
        (d(7) / tot * 100.0, d(4) / tot * 100.0)
      } else (-1.0, -1.0)
    val runStallPct =
      if (psi0 >= 0 && psi1 >= 0 && wallSec > 0) (psi1 - psi0) / 1e6 / wallSec * 100.0 else -1.0
    val thrMs = if (thr0 >= 0 && thr1 >= 0) (thr1 - thr0) / 1000000 else -1L
    // A query is "unstable" when its own passes disagree >2x above the
    // 1.5s noise floor — the same rule that triggers pass3. These are the
    // queries whose min may STILL be a stall (every pass ran inside it).
    val unstable = passArrays.filter { case (_, ps) =>
      val ts = ps.map(_.sec)
      ts.size >= 2 && ts.min > 1.5 && ts.max > 2 * ts.min }
    // Compact number format (≤2 decimals, no trailing zeros): the driver
    // stores only a bounded tail of stdout, so the WHOLE line must stay
    // well under 2000 chars even as the query count grows. If 2-decimal
    // precision would overflow that budget, degrade to 1 decimal.
    def fmt(v: Double, dec: Int): String = {
      val s = if (dec == 1) f"$v%.1f" else f"$v%.2f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    // Failed-query marker, present in every line variant. A query counts as
    // failed only if it has NO successful timing — a pass1 success whose
    // pass2 retry hiccuped keeps its timing and is NOT failed (the marker
    // means "no timing exists", so failed_count + queries-with-timings
    // partitions the registry). Cap the name list so a mass failure can't
    // blow the 1900-char stdout budget.
    val timed = results.map(_._1).toSet
    val failedFinal = failed.toSeq.filterNot(timed)
    val failJson = {
      val names = failedFinal.take(8).map("\"" + _ + "\"")
      val more = if (failedFinal.size > 8) Seq("\"+" + (failedFinal.size - 8) + " more\"") else Nil
      s""""failed_count":${failedFinal.size},"failed":${(names ++ more).mkString("[", ",", "]")}"""
    }
    // Telemetry fragment: present in EVERY ladder rung (it is the whole
    // point of the artifact); ~110 chars. -1 marks an unreadable /proc.
    val teleJson =
      s""""load":[${fmt(load0, 1)},${fmt(load1, 1)}],"steal_pct":${fmt(stealPct, 2)},""" +
      s""""iowait_pct":${fmt(iowaitPct, 2)},"stall_pct":${fmt(runStallPct, 2)},""" +
      s""""wall":${fmt(wallSec, 1)},"unstable":${unstable.size}"""
    // Adjudication context: per-pass [sec, stall_pct, load] triples for the
    // queries a grader needs to decide contention-vs-code — the unstable
    // ones (burst evidence: which pass was hit) AND the slowest-by-min ones
    // (sustained evidence: a stall covering every pass never shows spread,
    // only an elevated same-row stall_pct can clear it). Dropped first by
    // the degrade ladder; the sidecar always has all of it.
    def ctxJson(topUnstable: Int, topSlow: Int): String = {
      val byRatio = unstable.sortBy { case (_, ps) =>
        val ts = ps.map(_.sec); -(ts.max / ts.min) }.take(topUnstable)
      val bySlow = passArrays.sortBy { case (_, ps) => -ps.map(_.sec).min }.take(topSlow)
      val picked = (byRatio ++ bySlow).distinctBy(_._1)
      if (picked.isEmpty) "" else picked.map { case (n, ps) =>
        "\"" + n + "\":[" + ps.map(p =>
          s"[${fmt(p.sec, 1)},${fmt(p.stallPct, 1)},${fmt(p.load, 1)}]").mkString(",") + "]"
      }.mkString(""""ctx":{""", ",", "},")
    }
    // Headline guard (ADVICE r12): when any query failed, the sum over
    // SURVIVING queries is not comparable round-over-round — a consumer
    // diffing "value" totals would read a failure as a speedup. Null the
    // headline and park the shrunken sum under "partial_total" so the
    // comparison breaks loudly instead of lying quietly.
    def totalJson: String = {
      val total = fmt(results.map(_._2).sum, 2)
      if (failedFinal.isEmpty) s""""value":$total"""
      else s""""value":null,"partial_total":$total"""
    }
    def line(dec: Int, sf: String, ctxU: Int, ctxS: Int): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }
        .mkString("{", ",", "}")
      s"""{"metric":"total",$totalJson,"unit":"sec",$teleJson,$failJson,${ctxJson(ctxU, ctxS)}"queries":$qs,"sf":"$sf"}"""
    }
    // Slowest-N fallback once the full map can't fit: per-query timings are
    // only informative where time is actually spent, so keep the slowest
    // `top` queries verbatim and fold the fast tail into one "_other_sum"
    // entry (total stays exact).
    def lineTop(dec: Int, sf: String, top: Int, ctxU: Int = 3, ctxS: Int = 3): String = {
      val sorted = results.toSeq.sortBy { case (n, v) => (-v, n) }
      val kept = sorted.take(top)
      val rest = sorted.drop(top).map(_._2).sum
      val qs = (kept.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) } :+
        ("\"_other_sum\":" + fmt(rest, dec))).mkString("{", ",", "}")
      s"""{"metric":"total",$totalJson,"unit":"sec",$teleJson,$failJson,${ctxJson(ctxU, ctxS)}"queries":$qs,"sf":"$sf"}"""
    }
    // Sidecar: FULL per-pass [sec, stall, load] arrays, each pass's layer
    // split in the same order, and telemetry; no stdout budget. Written
    // best-effort (a read-only cwd must not fail the bench); path announced
    // on stderr so an adjudicator can find it from the driver log. Default
    // is per-sf (concurrent runs at different sf must not clobber each
    // other — ADVICE r18) and gitignored.
    val base = new java.io.File(sfDir).getName
    scala.util.Try {
      val path = sys.env.getOrElse("SPARK_GRAFT_TELEMETRY", s"tools/bench_telemetry_$base.json")
      val passes = passArrays.map { case (n, ps) =>
        "\"" + n + "\":[" + ps.map(p =>
          s"[${f"${p.sec}%.3f"},${f"${p.stallPct}%.2f"},${f"${p.load}%.2f"}]").mkString(",") + "]"
      }.mkString("{", ",", "}")
      val splits = passArrays.map { case (n, ps) =>
        "\"" + n + "\":" + ps.map(_.split.json).mkString("[", ",", "]")
      }.mkString("{", ",\n", "}")
      val fj = failedFinal.map("\"" + _ + "\"").mkString("[", ",", "]")
      val json =
        s"""{"sf":"$base","cpus":$cpus,"wall_sec":${f"$wallSec%.1f"},""" +
        s""""load":[${f"$load0%.2f"},${f"$load1%.2f"}],"steal_pct":${f"$stealPct%.3f"},""" +
        s""""iowait_pct":${f"$iowaitPct%.3f"},"stall_pct":${f"$runStallPct%.3f"},""" +
        s""""throttled_ms":$thrMs,"unstable":${unstable.size},""" +
        s""""failed":$fj,"passes":$passes,${PassRecorder.FieldsJson},""" +
        s""""splits":$splits}""" + "\n"
      val p = java.nio.file.Paths.get(path)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      System.err.println(s"[bench] telemetry sidecar: ${p.toAbsolutePath}")
    }.failed.foreach(e => System.err.println(s"[bench] telemetry sidecar skipped: $e"))
    // Degrade ladder: 2-decimal → 1-decimal → 1-decimal with sf basename →
    // slowest-N maps. The driver keeps a 2000-char stdout tail; a line over
    // budget loses its HEAD — the "metric"/"value" fields — so fitting
    // under it is a hard requirement, not cosmetics. Ctx triples ride the
    // top rungs wide (6 unstable + 4 slow) and narrow to 3+3 on the
    // slowest-N rungs, then drop entirely on the last-resort rungs; host
    // telemetry rides every rung.
    val out = (Seq(line(2, sfDir, 6, 4), line(1, sfDir, 4, 3), line(1, base, 3, 3)) ++
      Seq(70, 50, 35, 20).map(n => lineTop(1, base, n)) ++
      Seq(20, 10).map(n => lineTop(1, base, n, ctxU = 0, ctxS = 0)))
      .find(_.length <= 1900)
      .getOrElse(lineTop(1, base, 10, ctxU = 0, ctxS = 0))
    spark.stop()
    // Print AFTER spark.stop() so no late executor/driver log line can land
    // between the JSON and process exit.
    println(out)
    System.out.flush()
  }
}

/** Records one timed pass's layer split for [[Bench]]. Three listeners, all
  * idle outside a pass, attached for the recorder's life and detached by
  * [[close]]:
  *   - job and stage events of the pass, from the SparkContext's bus;
  *   - the Catalyst phase times (analysis, optimization, planning) of the
  *     session's SQL executions in the pass, from a QueryExecutionListener;
  *   - the streaming progress of every query the pass started: the
  *     engine's per-trigger durationMs decomposition (triggerExecution;
  *     latestOffset/getBatch, queryPlanning, walCommit, addBatch,
  *     commitOffsets) and state-store commit time, summed over the batches.
  *
  * [[start]] goes before the pass's clock starts; [[drain]] after it stops.
  * The bus delivers events asynchronously but in order, and a job's end
  * and stage events (and an execution's end, whose listener sits on the
  * same shared queue) are posted before its action returns; so the drain
  * runs a marker job and waits for the marker's start event, by which
  * point every event of the pass has been delivered. A query's progress
  * events precede its QueryTerminated on the streams bus, and
  * QueryStarted reaches the listener synchronously: once every started
  * query's termination has arrived, so have its batches. */
private[graft] final class PassRecorder(spark: SparkSession)
    extends SparkListener with AutoCloseable {
  import PassRecorder._

  private val sc = spark.sparkContext
  private val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  @volatile private var on = false
  @volatile private var t0Ms = 0L // listener event times are epoch ms
  private val markerSeen = new Semaphore(0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker)) {
      on = false // set on the bus thread: no later event is recorded
      markerSeen.release()
    } else if (on) jobs.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.add(e.stageInfo)

  private val planMs = new AtomicLong(0L)
  private val catalyst = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      if (on) planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  private val sums = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val batches = new AtomicInteger(0)
  private val stateCommit = new AtomicLong(0L)
  private val started = new AtomicInteger(0)
  private val terminated = new AtomicInteger(0)
  @volatile private var startedBefore = 0
  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      val d = e.progress.durationMs
      for (k <- ProgressKeys; v = d.get(k) if v != null)
        sums.updateWith(k) { prev => Some(prev.getOrElse(0L) + v.longValue()) }
      for (op <- e.progress.stateOperators)
        stateCommit.addAndGet(op.commitTimeMs)
    }
  }

  def start(): Unit = {
    jobs.clear(); jobEnds.clear(); stages.clear(); planMs.set(0L)
    sums.clear(); batches.set(0); stateCommit.set(0L); startedBefore = started.get()
    on = true
    t0Ms = System.currentTimeMillis()
  }

  /** Wait for the pass's events (never inside its timed window) and return
    * its split. Both waits are bounded: a lost event costs the split its
    * completeness, never the bench its run. */
  def drain(): Split = {
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
    if (!markerSeen.tryAcquire(DrainBoundSec, java.util.concurrent.TimeUnit.SECONDS))
      System.err.println(s"[bench] job events not drained in ${DrainBoundSec}s")
    val deadline = System.nanoTime() + DrainBoundSec * 1000L * 1000 * 1000
    while (terminated.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(10)
    split()
  }

  private def split(): Split = {
    var prevEnd = t0Ms
    val jobRows = jobs.asScala.toSeq.map { j =>
      val end: Long = jobEnds.getOrDefault(j.jobId, 0L)
      val gap = math.max(j.time - prevEnd, 0L)
      prevEnd = math.max(end, prevEnd)
      JobRow(math.max(end - j.time, 0L), gap, j.stageInfos.size, j.stageInfos.map(_.numTasks).sum)
    }
    val stageRows = stages.asScala.toSeq.map { i =>
      val m = i.taskMetrics
      StageRow(i.numTasks, m.executorRunTime, m.jvmGCTime, m.memoryBytesSpilled,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.executorDeserializeTime, m.executorDeserializeCpuTime / 1000000L)
    }
    val stream =
      if (started.get() == startedBefore) Map.empty[String, Long]
      else ProgressKeys.map(k => k -> sums.getOrElse(k, 0L)).toMap +
        ("stateCommit" -> stateCommit.get()) + ("batches" -> batches.get().toLong)
    Split(planMs.get(), jobRows, stageRows, stream)
  }

  override def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(progress)
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(progress)
  // Events of earlier actions may still be queued; drain them now, so the
  // first pass records only its own.
  drain(): Unit
}

private[graft] object PassRecorder {
  private val Marker = "graft-bench-drain"
  private val DrainBoundSec = 60L
  private val ProgressKeys = Seq("triggerExecution", "latestOffset", "getBatch",
    "queryPlanning", "walCommit", "addBatch", "commitOffsets")

  /** One job: its wall and the driver gap since the previous job ended (or
    * since the pass started): scheduling, planning, driver-side scalars. */
  final case class JobRow(wallMs: Long, gapMs: Long, stages: Int, tasks: Int)

  /** One completed stage. A stage whose task time is large but whose task
    * count is 2-3 on a wide host is AQE coalescing fusing an expanding join
    * onto too few cores (PLANS.md round 8). Task time (`executorRunTime`)
    * leaves out the time each task spends deserializing its closure before
    * it runs; `deserMs` and `deserCpuMs` are that time, wall and CPU. */
  final case class StageRow(tasks: Int, taskMs: Long, gcMs: Long, spillBytes: Long,
                            shuffleReadRecords: Long, shuffleReadBytes: Long,
                            shuffleWriteRecords: Long, shuffleWriteBytes: Long,
                            deserMs: Long, deserCpuMs: Long)

  /** Field order of the sidecar's row arrays. */
  val FieldsJson: String =
    """"job_row_fields":["wall_ms","gap_ms","stages","tasks"],""" +
      """"stage_row_fields":["tasks","task_ms","gc_ms","spill_bytes",""" +
      """"shuffle_read_records","shuffle_read_bytes","shuffle_write_records",""" +
      """"shuffle_write_bytes","deser_ms","deser_cpu_ms"]"""

  /** One pass's split: Catalyst ms, its jobs and completed stages, and for
    * a pass that started streaming queries the progress sums (ms) and the
    * batch count (empty otherwise). */
  final case class Split(planMs: Long, jobs: Seq[JobRow], stages: Seq[StageRow],
                         stream: Map[String, Long]) {
    def totals: Seq[(String, Long)] = Seq(
      "plan_ms" -> planMs,
      "jobs" -> jobs.size.toLong,
      "gap_ms" -> jobs.map(_.gapMs).sum,
      "task_ms" -> stages.map(_.taskMs).sum,
      "deser_ms" -> stages.map(_.deserMs).sum,
      "deser_cpu_ms" -> stages.map(_.deserCpuMs).sum,
      "gc_ms" -> stages.map(_.gcMs).sum,
      "spill_bytes" -> stages.map(_.spillBytes).sum,
      "shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum,
      "shuffle_read_records" -> stages.map(_.shuffleReadRecords).sum,
      "shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum,
      "shuffle_write_records" -> stages.map(_.shuffleWriteRecords).sum,
      "stages" -> stages.size.toLong,
      "tasks" -> stages.map(_.tasks.toLong).sum)

    def json: String = {
      val tot = totals.map { case (k, v) => s""""$k":$v""" }
      val jobRows = jobs.map(j => s"[${j.wallMs},${j.gapMs},${j.stages},${j.tasks}]")
      val stageRows = stages.map(s =>
        s"[${s.tasks},${s.taskMs},${s.gcMs},${s.spillBytes},${s.shuffleReadRecords}," +
          s"${s.shuffleReadBytes},${s.shuffleWriteRecords},${s.shuffleWriteBytes}," +
          s"${s.deserMs},${s.deserCpuMs}]")
      val streamJson =
        if (stream.isEmpty) Nil
        else Seq(stream.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
          .mkString(""""stream":{""", ",", "}"))
      (tot ++ Seq(jobRows.mkString(""""job_rows":[""", ",", "]"),
        stageRows.mkString(""""stage_rows":[""", ",", "]")) ++ streamJson)
        .mkString("{", ",", "}")
    }
  }
}
