package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Session, SparkEntry}

/** One profiler for named SparkEntry queries:
  *
  *   runMain graft.tools.Prof <time|stages|jobs|replay> <sfDir> q1 q2 ...
  *
  * The session is `Session.build(SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE)`,
  * the width defaulting to the core count, so a profile runs under exactly
  * the confs Bench and Verify run under. Every mode first loads one table
  * to pay the session's first-touch costs. A measured wall stops when the
  * action returns; listener events are drained after that, outside it.
  *
  *  - `time`: two passes over the names, each query built and counted;
  *    pass 1 is the warm pass. `SPARK_GRAFT_FORCE=hash` folds every output
  *    column through xxhash64 into one bit_xor, because count() lets
  *    Catalyst prune computed columns nothing consumes — a map-only query
  *    (x13's per-doc rule columns, x1's token stats) would time as a bare
  *    scan. `-Dgraft.materialize.mode=reliable -Dgraft.materialize.dir=…`
  *    (via GRAFT_EXTRA_JAVA_OPTS) costs the cluster-FS pin posture.
  *  - `stages`: per query a warm pass, then a measured pass printing every
  *    stage's task count, task time, GC, spill and shuffle volumes. A stage
  *    whose task time is large but whose task count is 2-3 on a wide host
  *    is AQE coalescing fusing an expanding join onto too few cores
  *    (PLANS.md round 8).
  *  - `jobs`: per query a warm pass, then each job of the measured pass
  *    with its wall, the driver GAP since the previous job ended
  *    (scheduling, planning, driver-side scalars — the fusible budget),
  *    stage and task counts; then the Catalyst phase times of one fresh
  *    build of the query.
  *  - `replay`: for the streaming replay rungs, the engine's per-trigger
  *    durationMs decomposition (triggerExecution; latestOffset/getBatch,
  *    queryPlanning, walCommit, addBatch, commitOffsets) summed over every
  *    progress event of the run, plus state-store commit time. The gap
  *    between Σ triggerExecution and the wall is harness cost (staging,
  *    query start/stop, sink re-read). No warm pass. */
object Prof {
  val Usage = "usage: graft.tools.Prof <time|stages|jobs|replay> <sfDir> query ..."
  private val Modes = Set("time", "stages", "jobs", "replay")

  def main(args: Array[String]): Unit = {
    val (mode, sfDir, names) = args.toSeq match {
      case m +: dir +: names if Modes(m) && names.nonEmpty => (m, dir, names)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query ${unknown.mkString(", ")}\n$Usage"); sys.exit(2)
    }
    val cpus = Session.cpus
    val spark = Session.build(cpus, sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt))
    try {
      graft.model.Tables(spark, sfDir, "documents").limit(1).count() // warm session
      def query(n: String): DataFrame = SparkEntry.queries(n)(spark, sfDir)
      mode match {
        case "time" => time(spark, names, query)
        case "stages" => stages(spark, names, query)
        case "jobs" => jobs(spark, names, query)
        case "replay" => replay(spark, names, query)
      }
    } finally spark.stop()
  }

  private def time(spark: SparkSession, names: Seq[String], query: String => DataFrame): Unit = {
    val confs = (for (k <- Seq(graft.Materialize.ModeKey, graft.Materialize.DirKey);
                      v <- sys.props.get(k)) yield k -> v).toMap
    confs.foreach { case (k, v) => println(s"[time] $k=$v") }
    val forceHash = sys.env.get("SPARK_GRAFT_FORCE").contains("hash")
    graft.streaming.Replay.withConfs(spark, confs) {
      for (pass <- 1 to 2; n <- names) {
        val t0 = System.nanoTime()
        val df = query(n)
        val rows =
          if (forceHash) {
            import org.apache.spark.sql.functions._
            // xxhash64 rejects MapType at analysis (Skew.hashSafe documents
            // the constraint): route non-hashable columns through to_json so
            // EVERY output column still evaluates per row. xor, not sum — an
            // ANSI long sum overflows on full-range hashes.
            val folded = df.schema.fields.map { f =>
              if (graft.ops.Skew.hashSafe(f.dataType)) col(f.name) else to_json(col(f.name))
            }
            val r = df.agg(count(lit(1)), bit_xor(xxhash64(folded.toIndexedSeq: _*))).head()
            println(s"[time] $n checksum=${r.get(1)}")
            r.getLong(0)
          } else df.count()
        println(f"[time] pass=$pass $n rows=$rows t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
  }

  private def stages(spark: SparkSession, names: Seq[String], query: String => DataFrame): Unit = {
    val rec = new Recorder(spark.sparkContext)
    for (n <- names) {
      query(n).count() // warm
      println(s"== $n ==")
      rec.start()
      val t0 = System.nanoTime()
      val rows = query(n).count()
      val wall = (System.nanoTime() - t0) / 1e9
      rec.drain()
      rec.stages.asScala.foreach(i => println(stageLine(i)))
      println(f"[q] $n rows=$rows wall=$wall%.2fs")
    }
  }

  private def stageLine(i: StageInfo): String = {
    val m = i.taskMetrics
    f"[stage] id=${i.stageId}%-4d tasks=${i.numTasks}%-3d " +
      f"taskTime=${m.executorRunTime / 1e3}%7.1fs " +
      f"gc=${m.jvmGCTime / 1e3}%5.1fs " +
      f"spill=${m.memoryBytesSpilled / 1e6}%6.1f MB " +
      f"shufRead=${m.shuffleReadMetrics.recordsRead}%10d rec " +
      f"${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1f MB " +
      f"shufWrite=${m.shuffleWriteMetrics.recordsWritten}%10d rec " +
      f"${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1f MB"
  }

  private def jobs(spark: SparkSession, names: Seq[String], query: String => DataFrame): Unit = {
    val rec = new Recorder(spark.sparkContext)
    for (n <- names) {
      query(n).count() // warm
      println(s"== $n ==")
      rec.start()
      val t0 = System.currentTimeMillis() // listener event times are epoch ms
      val rows = query(n).count()
      val t1 = System.currentTimeMillis()
      rec.drain()
      var prevEnd = t0
      var gapSum = 0L; var jobSum = 0L
      for (j <- rec.jobs.asScala) {
        val end: Long = rec.jobEnds.getOrDefault(j.jobId, 0L)
        val gap = math.max(j.time - prevEnd, 0L)
        gapSum += gap; jobSum += math.max(end - j.time, 0L)
        val site = Option(j.properties).map(p =>
          "exec=" + Option(p.getProperty("spark.sql.execution.id")).getOrElse("-") +
            " " + Option(p.getProperty("callSite.short")).getOrElse("")).getOrElse("")
        println(f"[job] id=${j.jobId}%-4d wall=${(end - j.time) / 1e3}%6.2fs " +
          f"gap=${gap / 1e3}%5.2fs stages=${j.stageInfos.size}%-3d " +
          f"tasks=${j.stageInfos.map(_.numTasks).sum}%-4d $site%s")
        prevEnd = math.max(end, prevEnd)
      }
      println(f"[q] $n rows=$rows wall=${(t1 - t0) / 1e3}%.2fs " +
        f"jobs=${rec.jobs.size} jobSum=${jobSum / 1e3}%.2fs gapSum=${gapSum / 1e3}%.2fs")
      // Catalyst phase costs for one fresh build of the same query (what a
      // bench pass pays before any job runs): driver-side, single-threaded.
      val qe = query(n).queryExecution
      qe.executedPlan // force analysis -> optimization -> physical planning
      val ph = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
        .map { case (k, s) => s"$k=${s.endTimeMs - s.startTimeMs}ms" }
      println(s"[q] $n phases: ${ph.mkString(" ")}")
    }
  }

  /** Records the job and stage events of a measured action. The listener
    * bus delivers events asynchronously but in order, and a job's end and
    * stage events are posted before its action returns; so [[drain]] runs
    * a marker job and waits for the marker's start event, by which point
    * every event of the measured action has been delivered. */
  private final class Recorder(sc: org.apache.spark.SparkContext) extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val jobEnds = new ConcurrentHashMap[Int, Long]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    @volatile private var on = false
    private val markerSeen = new Semaphore(0)
    private val Marker = "graft-prof-drain"

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker)) {
        on = false // set on the bus thread: no later event is recorded
        markerSeen.release()
      } else if (on) jobs.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) stages.add(e.stageInfo)

    def start(): Unit = { jobs.clear(); jobEnds.clear(); stages.clear(); on = true }

    def drain(): Unit = {
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      markerSeen.acquire()
    }

    sc.addSparkListener(this)
  }

  private def replay(spark: SparkSession, names: Seq[String], query: String => DataFrame): Unit = {
    val keys = Seq("triggerExecution", "latestOffset", "getBatch",
      "queryPlanning", "walCommit", "addBatch", "commitOffsets")
    val sums = scala.collection.concurrent.TrieMap.empty[String, Long]
    val batches = new AtomicInteger(0)
    val stateCommit = new AtomicLong(0L)
    // QueryStarted reaches this session's listeners synchronously, and a
    // query's progress events precede its QueryTerminated on the bus: once
    // every started query's termination has arrived, so have its batches.
    val started = new AtomicInteger(0)
    val terminated = new AtomicInteger(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        val d = e.progress.durationMs
        for (k <- keys; v = d.get(k) if v != null)
          sums.updateWith(k) { prev => Some(prev.getOrElse(0L) + v.longValue()) }
        for (op <- e.progress.stateOperators)
          stateCommit.addAndGet(op.commitTimeMs)
      }
    })
    for (n <- names) {
      println(s"== $n ==")
      sums.clear(); batches.set(0); stateCommit.set(0L)
      val t0 = System.nanoTime()
      val rows = query(n).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (terminated.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(10)
      val nb = math.max(batches.get(), 1)
      println(f"[replay] $n rows=$rows wall=$wall%.2fs batches=${batches.get()}")
      for (k <- keys) {
        val tot = sums.getOrElse(k, 0L) / 1e3
        println(f"[replay]   $k%-16s total=$tot%6.2fs per-batch=${tot / nb}%6.3fs")
      }
      println(f"[replay]   stateCommit      total=${stateCommit.get() / 1e3}%6.2fs " +
        f"per-batch=${stateCommit.get() / 1e3 / nb}%6.3fs")
      val trig = sums.getOrElse("triggerExecution", 0L) / 1e3
      println(f"[replay]   harness(wall-sum_trigger)=${wall - trig}%.2fs")
    }
  }
}
