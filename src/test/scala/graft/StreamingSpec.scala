package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.etl.Upsert
import graft.streaming.{Pipeline, Replay}

/** §2.5 streaming semantics with MemoryStream (SURVEY.md §5.5): delta-dedup
  * emits each distinct row version once; keyed upsert is last-write-wins and
  * idempotent under at-least-once redelivery. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)
  // The sf0.001 replays share one staging per JVM through the memo; each
  // run still gets a fresh checkpoint and sink.
  private val sf = "/root/testdata/sf0.001"
  private val sfKey = Some(sf)
  private def withRocksDb[T](body: => T): T =
    Replay.withConfs(spark, Map(Replay.StateProvider -> Replay.RocksDbProvider))(body)

  test("T1 streaming: re-sent file with one changed row emits exactly the change") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("@timestamp", "k", "v")
    val deduped = Pipeline.dedupStream(df, horizon = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // "file v1": two rows
      input.addData((ts("2024-01-01 10:00:00"), "a", 1.0), (ts("2024-01-01 10:00:00"), "b", 2.0))
      q.processAllAvailable()
      // "file v2" re-read: a unchanged (dup), b changed (new version)
      input.addData((ts("2024-01-01 10:00:00"), "a", 1.0), (ts("2024-01-01 10:00:01"), "b", 3.0))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("k", "v").as[(String, Double)].collect().toSeq
      assert(out.sorted == Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the horizon, across batches") {
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val joined = Pipeline.intervalJoinStreams(
        clicks.toDF().toDF("ts", "user_id", "click_id"),
        buys.toDF().toDF("ts", "user_id", "buy_id"),
        "user_id", "ts", within = "1 hour")
      .select(col("l.click_id"), col("r.buy_id"))
    val q = joined.writeStream.format("memory").queryName("cj_out")
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L, 100L),
                     (ts("2024-01-01 10:00:00"), 2L, 101L))
      q.processAllAvailable()
      // purchase arrives in a LATER batch: in-window for user 1;
      // user 2's purchase is 2h later -> outside the horizon
      buys.addData((ts("2024-01-01 10:30:00"), 1L, 500L),
                   (ts("2024-01-01 12:00:00"), 2L, 501L))
      q.processAllAvailable()
      // and a same-batch pair for user 3
      clicks.addData((ts("2024-01-01 11:00:00"), 3L, 102L))
      buys.addData((ts("2024-01-01 11:10:00"), 3L, 502L))
      q.processAllAvailable()
      val out = spark.table("cj_out").as[(Long, Long)].collect().toSet
      assert(out == Set((100L, 500L), (102L, 502L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits null for never-matched rows") {
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val joined = Pipeline.intervalJoinStreams(
        clicks.toDF().toDF("ts", "user_id", "click_id"),
        buys.toDF().toDF("ts", "user_id", "buy_id"),
        "user_id", "ts", within = "1 hour", watermark = "2 hours",
        joinType = "left_outer")
      .select(col("l.click_id"), col("r.buy_id"))
    val q = joined.writeStream.format("memory").queryName("loj_out")
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L, 100L),
                     (ts("2024-01-01 10:00:00"), 2L, 101L))
      q.processAllAvailable()
      // user 1 converts in-window; user 2's purchase is outside the horizon
      buys.addData((ts("2024-01-01 10:30:00"), 1L, 500L),
                   (ts("2024-01-01 12:00:00"), 2L, 501L))
      q.processAllAvailable()
      // matched pair emits immediately; the null for user 2 must NOT emit
      // yet (a matching buy could still arrive inside the watermark)
      val early = spark.table("loj_out").as[(Long, Option[Long])].collect().toSet
      assert(early == Set((100L, Some(500L))))
      // push the watermark past click@10:00 + 1h window + 2h delay on BOTH
      // streams — the operator watermark is the min across inputs
      clicks.addData((ts("2024-01-01 16:00:00"), 9L, 999L))
      buys.addData((ts("2024-01-01 16:00:00"), 8L, 888L))
      q.processAllAvailable()
      clicks.addData((ts("2024-01-01 16:00:01"), 9L, 998L))
      buys.addData((ts("2024-01-01 16:00:01"), 8L, 887L))
      q.processAllAvailable()
      val out = spark.table("loj_out").as[(Long, Option[Long])].collect().toSet
      assert(out.contains((101L, None)), s"no null emission: $out")
      assert(!out.contains((101L, Some(501L))), "horizon must exclude the late buy")
    } finally q.stop()
  }

  test("S5 streaming: foreachBatch upsert converges to latest version per key") {
    val dir = java.nio.file.Files.createTempDirectory("stream-upsert").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("t", "k", "v")
      .withColumn("day", to_date(col("t")))
      .withColumn("seq", col("v").cast("long"))
    val q = df.writeStream
      .foreachBatch(Upsert.foreachBatchMerge(dir, Seq("k"), "t", "seq", "day"))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), "a", 1.0), (ts("2024-01-01 10:00:00"), "b", 2.0))
      q.processAllAvailable()
      // later version of a, duplicate delivery of b
      input.addData((ts("2024-01-01 11:00:00"), "a", 5.0), (ts("2024-01-01 10:00:00"), "b", 2.0))
      q.processAllAvailable()
      val out = spark.read.parquet(dir).select("k", "v").as[(String, Double)].collect().toMap
      assert(out == Map("a" -> 5.0, "b" -> 2.0))
    } finally q.stop()
  }

  test("checkpoint recovery: restart continues from committed offsets, no reprocessing") {
    val dir = java.nio.file.Files.createTempDirectory("recov-data").toString
    val ckpt = java.nio.file.Files.createTempDirectory("recov-ckpt").toString
    val input = MemoryStream[(Timestamp, String, Double)]
    def start() = input.toDF().toDF("t", "k", "v")
      .withColumn("day", to_date(col("t")))
      .withColumn("seq", (col("v") * 1000).cast("long"))
      .writeStream
      .foreachBatch(Upsert.foreachBatchMerge(dir, Seq("k"), "t", "seq", "day"))
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try {
      input.addData((ts("2024-01-01 09:00:00"), "a", 1.0))
      q1.processAllAvailable()
    } finally q1.stop() // simulate crash/restart — the reference loses its state here (pro.py:18)
    val q2 = start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), "b", 2.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(dir).select("k", "v").as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 1.0, "b" -> 2.0)) // both batches exactly once
  }

  test("S2: streaming file source picks up newly arrived files with scan semantics") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("watched").toString
    val schema = new StructType().add("name", StringType).add("score", DoubleType)
    def drop(f: String, lines: String*): Unit =
      Files.write(Paths.get(dir, f), lines.mkString("\n").getBytes("UTF-8"))
    drop("g1.csv", "name,score", "an,7.5", ",", "binh,8.0") // one all-blank row
    val q = graft.sources.Tabular.scanStream(spark, dir, schema)
      .writeStream.format("memory").queryName("watch_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      drop("g2.csv", "name,score", "chi,9.0") // a new gradebook lands later
      q.processAllAvailable()
      val out = spark.table("watch_out").as[(String, Double)].collect().toSet
      assert(out == Set(("an", 7.5), ("binh", 8.0), ("chi", 9.0)), s"got $out")
    } finally q.stop()
  }

  test("stateful running GPA accumulates across micro-batches and survives by key") {
    import graft.streaming.StatefulGpa
    val input = MemoryStream[(String, String, Double, Double, Int)]
    val df = input.toDF().toDF("F_MASV", "F_TENMHVN", "F_DIEM2", "F_DVHT", "NHHK")
    val out = StatefulGpa.runningGpa(
      StatefulGpa.eligiblePartials(df, excludedSemester = 20251))
    val q = out.toDF().writeStream.format("memory").queryName("gpa_out")
      .outputMode("update").start()
    try {
      // batch 1: S1 takes two courses: 9.5 (A=4.0) x 3cr, 6.0 (C=2.0, via >=5.5) x 2cr
      input.addData(("S1", "Math", 9.5, 3.0, 20231), ("S1", "Lit", 6.0, 2.0, 20231))
      q.processAllAvailable()
      // batch 2: a failed course (excluded), a '*' course (excluded), one real: 8.0 (B+=3.5) x 5cr
      input.addData(("S1", "PE*", 9.0, 1.0, 20232), ("S1", "Chem", 3.0, 4.0, 20232),
        ("S1", "Phys", 8.0, 5.0, 20232))
      q.processAllAvailable()
      val rows = spark.table("gpa_out").collect()
        .map(r => (r.getAs[String]("masv"), r.getAs[Double]("dtbctl"), r.getAs[Double]("credits")))
      // batch1 emit: (4.0*3 + 2.0*2)/5 = 3.2 over 5 cr; batch2: +3.5*5 -> 33.5/10
      assert(rows.contains(("S1", 3.2, 5.0)))
      assert(rows.contains(("S1", 3.35, 10.0)))
    } finally q.stop()
  }

  test("event-time timers close sessions on inactivity and reopen on new data") {
    import graft.streaming.SessionTimeout
    withRocksDb {
      val input = MemoryStream[(Timestamp, Long, Double)]
      val out = SessionTimeout.summaries(
        input.toDF().toDF("ts", "user_id", "value"),
        gapMs = 5 * 60 * 1000, watermark = "0 seconds")
      val q = out.toDF().writeStream.format("memory").queryName("sess_out")
        .outputMode("append").start()
      try {
        // user 1: two events 2 min apart (one session); user 2: one event
        input.addData((ts("2024-01-01 10:00:00"), 1L, 1.0),
                      (ts("2024-01-01 10:02:00"), 1L, 2.0),
                      (ts("2024-01-01 10:00:00"), 2L, 5.0))
        q.processAllAvailable()
        assert(spark.table("sess_out").isEmpty) // nothing proven over yet
        // advance the watermark past both users' gap -> both sessions close
        input.addData((ts("2024-01-01 10:30:00"), 9L, 0.0))
        q.processAllAvailable()
        val closed = spark.table("sess_out")
          .select("user_id", "n_events", "total").as[(Long, Long, Double)]
          .collect().toSet
        assert(closed == Set((1L, 2L, 3.0), (2L, 1L, 5.0)), s"got $closed")
        // user 1 returns: a FRESH session, closed by a later watermark push
        input.addData((ts("2024-01-01 11:00:00"), 1L, 7.0))
        q.processAllAvailable()
        input.addData((ts("2024-01-01 12:00:00"), 9L, 0.0))
        q.processAllAvailable()
        val all = spark.table("sess_out")
          .select("user_id", "n_events", "total").as[(Long, Long, Double)]
          .collect().toSet
        assert(all.contains((1L, 1L, 7.0)), s"no fresh session: $all")
      } finally q.stop()
    }
  }

  test("two sessions whose events share one micro-batch emit as two summaries") {
    import graft.streaming.SessionTimeout
    withRocksDb {
      val input = MemoryStream[(Timestamp, Long, Double)]
      val out = SessionTimeout.summaries(
        input.toDF().toDF("ts", "user_id", "value"),
        gapMs = 5 * 60 * 1000, watermark = "0 seconds")
      val q = out.toDF().writeStream.format("memory").queryName("sess_split_out")
        .outputMode("append").start()
      try {
        // ONE batch, user 1: 10:00+10:01 then a 19-minute silence then 10:20 —
        // two logical sessions; out-of-order delivery inside the batch must
        // not matter. The first closes inline (gap split), the second by timer.
        input.addData((ts("2024-01-01 10:20:00"), 1L, 7.0),
                      (ts("2024-01-01 10:00:00"), 1L, 1.0),
                      (ts("2024-01-01 10:01:00"), 1L, 2.0))
        q.processAllAvailable()
        val inline = spark.table("sess_split_out")
          .select("user_id", "n_events", "total", "start_ms", "end_ms")
          .as[(Long, Long, Double, Long, Long)].collect().toSet
        assert(inline == Set((1L, 2L, 3.0,
          ts("2024-01-01 10:00:00").getTime, ts("2024-01-01 10:01:00").getTime)),
          s"in-batch gap split missing: $inline")
        // watermark push closes the second session via its timer
        input.addData((ts("2024-01-01 11:00:00"), 9L, 0.0))
        q.processAllAvailable()
        val all = spark.table("sess_split_out")
          .select("user_id", "n_events", "total").as[(Long, Long, Double)]
          .collect().toSet
        assert(all.contains((1L, 1L, 7.0)), s"timer leg missing: $all")
      } finally q.stop()
    }
  }

  test("session timers survive a checkpointed stop/restart and still fire") {
    // The whole point of durable timer state: the reference loses its
    // in-memory session state on restart (pro.py:18). Kill the query after
    // the session is open but unproven, restart from the checkpoint, then
    // advance the watermark — the recovered timer must fire and emit.
    import graft.streaming.SessionTimeout
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("sess-restart").toString
      val input = MemoryStream[(Timestamp, Long, Double)]
      // foreachBatch sink: the memory sink refuses checkpoint recovery; this
      // buffer lives on the driver, exactly where foreachBatch runs.
      val emitted = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(Long, Long, Double)]()
      def startQuery() = SessionTimeout.summaries(
          input.toDF().toDF("ts", "user_id", "value"),
          gapMs = 5 * 60 * 1000, watermark = "0 seconds")
        .toDF().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("user_id", "n_events", "total").collect()
            .foreach(r => emitted.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val q1 = startQuery()
      try {
        input.addData((ts("2024-01-01 10:00:00"), 1L, 1.0),
                      (ts("2024-01-01 10:02:00"), 1L, 2.0))
        q1.processAllAvailable()
        assert(emitted.isEmpty) // open, unproven
      } finally q1.stop()
      val q2 = startQuery()
      try {
        input.addData((ts("2024-01-01 10:30:00"), 9L, 0.0)) // watermark push
        q2.processAllAvailable()
        assert(emitted.contains((1L, 2L, 3.0)),
          s"recovered timer did not fire after restart: $emitted")
      } finally q2.stop()
    }
  }

  test("session batch-replay emits every session and matches the gap-island batch answer") {
    // The oracle-gate promotion (sess_stream_replay) end-to-end on a corpus
    // small enough to hand-check: user 1 has two sessions split by a >30-min
    // gap; user 2 one session; the sentinel-driven drain must close ALL of
    // them (including each user's LAST session, which only a watermark push
    // can prove over). Values are dollars with cents; totals emit as exact
    // integer cents.
    val events = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 1.25),
      (ts("2024-01-01 10:10:00"), 1L, 2.50), // session 1: 2 events, 375 cents
      (ts("2024-01-01 11:00:00"), 1L, 7.00), // >30 min later: session 2
      (ts("2024-01-01 10:05:00"), 2L, 5.10)  // user 2, one session
    ).toDF("ts", "user_id", "value")
    val out = Pipeline.replaySessionSummaries(spark, events, nFiles = 2)
      .select("user_id", "n_events", "total_cents", "start_ms", "end_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 2L, 375L, ts("2024-01-01 10:00:00").getTime, ts("2024-01-01 10:10:00").getTime),
      (1L, 1L, 700L, ts("2024-01-01 11:00:00").getTime, ts("2024-01-01 11:00:00").getTime),
      (2L, 1L, 510L, ts("2024-01-01 10:05:00").getTime, ts("2024-01-01 10:05:00").getTime)),
      s"got $out")
  }

  test("session summaries are invariant to the micro-batch cut count") {
    // The documented contract: session boundaries depend only on EVENT
    // time, never on where a replay cuts micro-batches. Same corpus at one,
    // three, and five file cuts must emit byte-identical summaries, equal
    // to the driver-side gap-island fold.
    val rnd = new scala.util.Random(42)
    val gapMs = 1800000L
    val events = (for {
      u <- 1L to 3L
      t0 = ts("2024-01-01 08:00:00").getTime
      ts0 = Iterator.iterate(t0)(_ + (rnd.nextInt(50) + 1) * 60000L).take(12).toSeq
      t <- ts0
    } yield (new java.sql.Timestamp(t), u, (rnd.nextInt(900) + 1) / 100.0)).toSeq
    val df = events.toDF("ts", "user_id", "value")
    def run(nFiles: Int) =
      Pipeline.replaySessionSummaries(spark, df, gapMs = gapMs, nFiles = nFiles)
        .select("user_id", "n_events", "total_cents", "start_ms", "end_ms")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expect = events.groupBy(_._2).toSeq.flatMap { case (u, evs) =>
      val sorted = evs.map(e => (e._1.getTime, math.round(e._3 * 100))).sortBy(_._1)
      sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
        if (e._1 - acc.last.last._1 > gapMs) acc :+ Vector(e)
        else acc.init :+ (acc.last :+ e)
      }.map(s => (u, s.size.toLong, s.map(_._2).sum, s.head._1, s.last._1))
    }.toSet
    val cuts = Seq(1, 3, 5).map(run)
    assert(cuts.forall(_ == expect),
      s"cut-dependent sessions: ${cuts.map(_.size)} vs expected ${expect.size}")
    assert(expect.size > 6, s"corpus too tame to bite: ${expect.size} sessions")
  }

  test("crash-restart replay recovers from the checkpoint to the exact latest-wins table") {
    // The s2_restart_replay promotion on a hand-checkable corpus: the crash
    // is injected after batch 2's sink write and before its offset commit,
    // so recovery MUST re-deliver that batch (at-least-once) and the keyed
    // merge must absorb the duplicate. Files split by event_id range over 4
    // files (~2 events each); user 1 has three same-day versions spread
    // across the cut so stale winners exist on both sides of the crash.
    val events = Seq(
      (1L, 10L, "a", 1.0, ts("2024-01-01 10:00:00")),
      (2L, 10L, "b", 2.0, ts("2024-01-01 11:00:00")),
      (3L, 20L, "a", 3.0, ts("2024-01-01 10:00:00")),
      (4L, 10L, "c", 4.0, ts("2024-01-01 12:00:00")), // user 10's day winner
      (5L, 20L, "b", 5.0, ts("2024-01-02 09:00:00")), // user 20, next day
      (6L, 30L, "a", 6.0, ts("2024-01-01 10:30:00")),
      (7L, 20L, "c", 7.0, ts("2024-01-01 09:00:00"))  // older than event 3
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = Pipeline.replayUpsertDaily(spark, events, nFiles = 4,
        killAfterBatches = 2)
      .select($"user_id", $"event_id")
      .as[(Long, Long)].collect().toSet
    // latest (ts, event_id) per (user_id, day):
    assert(out == Set((10L, 4L), (20L, 3L), (20L, 5L), (30L, 6L)), s"got $out")
  }

  test("stateful-GPA crash-restart replay settles identically to steady state") {
    // The gpa_restart_replay promotion: crash after batch 2's state commit
    // + sink append, before its offset commit. Recovery must hand the
    // replayed batch the PRE-batch state version — a resume from the
    // post-batch version would double-fold every student that batch touched
    // and the settled (dtbctl, credits, n) triples would diverge from the
    // steady-state replay's. Runs on the real sf0.001 events table so the
    // staging straddle guard (keys spread across micro-batches) bites.
    val events = graft.model.Tables(spark, sf, "events")
    val excl = graft.query.EventsAdapter.ExcludedSemester
    def settle(df: org.apache.spark.sql.DataFrame) =
      df.select($"masv", $"dtbctl", $"credits", $"n")
        .as[(String, Double, Double, Long)].collect().toSet
    val steady = settle(Pipeline.replayStatefulGpa(spark, events, excl,
      stageKey = sfKey))
    val restarted = settle(Pipeline.replayStatefulGpa(spark, events, excl,
      killAfterBatches = 2, stageKey = sfKey))
    assert(steady.nonEmpty && restarted == steady,
      s"restart diverged: ${restarted.diff(steady)} vs ${steady.diff(restarted)}")
  }

  test("session-timer crash-restart replay settles identically to steady state") {
    // The sess_restart_replay promotion: crash after batch 2's RocksDB
    // commit + sink append, before offset commit. Recovery must restore
    // BOTH the open-session accumulators and their registered event-time
    // close timers — lost timers would leave sessions unclosed when the
    // sentinel's watermark no-data batch fires, producing missing rows
    // rather than wrong ones. Real sf0.001 events so sessions straddle the
    // time-ordered micro-batch cuts.
    val events = graft.model.Tables(spark, sf, "events")
    def settle(df: org.apache.spark.sql.DataFrame) =
      df.select($"user_id", $"n_events", $"total_cents", $"start_ms", $"end_ms")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val steady = settle(Pipeline.replaySessionSummaries(spark, events,
      stageKey = sfKey))
    val restarted = settle(Pipeline.replaySessionSummaries(spark, events,
      killAfterBatches = 2, stageKey = sfKey))
    assert(steady.nonEmpty && restarted == steady,
      s"restart diverged: ${restarted.diff(steady)} vs ${steady.diff(restarted)}")
  }

  test("join-buffer crash-restart replay settles identically to steady state") {
    // The ssjoin_restart_replay promotion: mid-corpus crash after a file
    // batch's buffer
    // commit + sink append, before offset commit. Recovery must restore
    // both sides' unmatched-row buffers at the PRE-batch version — lost
    // buffers drop pairs whose sides straddle the crash; a post-batch
    // resume double-inserts the replayed rows. Real sf0.001 events so
    // pairs form across the interleaved per-side micro-batches.
    val events = graft.model.Tables(spark, sf, "events")
    def settle(df: org.apache.spark.sql.DataFrame) =
      df.select($"l_id", $"r_id", $"user_id")
        .as[(Long, Long, Long)].collect().toSet
    val steady = settle(Pipeline.replayIntervalJoin(spark, events,
      stageKey = sfKey))
    val restarted = settle(Pipeline.replayIntervalJoin(spark, events,
      killAfterBatches = 1, stageKey = sfKey))
    assert(steady.nonEmpty && restarted == steady,
      s"restart diverged: ${restarted.diff(steady)} vs ${steady.diff(restarted)}")
  }

  test("crash-position sweep: recovery is exact at EVERY valid kill point") {
    // The per-leg restart tests certify one kill point (the default); this
    // sweep makes the claim total for the three structurally distinct
    // state classes — idempotent sink (s2), keyed accumulators (gpa),
    // timers+RocksDB (sess) — at every remaining valid killAfterBatches.
    // A recovery bug that only bites when the crash lands on the first or
    // last-but-one batch (empty state / nearly-drained source) would slip
    // past a single-point test.
    val events = graft.model.Tables(spark, sf, "events")
    val excl = graft.query.EventsAdapter.ExcludedSemester
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val s2Steady = rows(Pipeline.replayUpsertDaily(spark, events, stageKey = sfKey))
    val gpaSteady = rows(Pipeline.replayStatefulGpa(spark, events, excl,
      stageKey = sfKey))
    val sessSteady = rows(Pipeline.replaySessionSummaries(spark, events,
      stageKey = sfKey))
    for (k <- Seq(1, 3)) { // k=2 is each entry's kill point, covered elsewhere
      assert(rows(Pipeline.replayUpsertDaily(spark, events,
        killAfterBatches = k, stageKey = sfKey)) == s2Steady, s"s2 diverged at k=$k")
      assert(rows(Pipeline.replayStatefulGpa(spark, events, excl,
        killAfterBatches = k, stageKey = sfKey)) == gpaSteady, s"gpa diverged at k=$k")
      assert(rows(Pipeline.replaySessionSummaries(spark, events,
        killAfterBatches = k, stageKey = sfKey)) == sessSteady, s"sess diverged at k=$k")
    }
  }

  test("dedup-state and outer-eviction crash-restarts settle identically to steady") {
    // The t1_restart_replay / ssjoin_outer_restart_replay promotions,
    // closing the family: every §2.5 replay has a crash-recovery twin.
    // Dedup: a post-batch resume would DROP the replayed batch's first
    // occurrences as already-seen. Outer join: nulls must fire from
    // buffers recovered across the crash — lost pending lefts never emit.
    val docs = graft.model.Tables(spark, sf, "documents")
    val t1Steady = Pipeline.replayStreamDedup(spark, docs, stageKey = sfKey)
      .as[(String, Int)].collect().toSet
    val t1Restart = Pipeline.replayStreamDedup(spark, docs, killAfterBatches = 2,
        stageKey = sfKey)
      .as[(String, Int)].collect().toSet
    assert(t1Steady.nonEmpty && t1Restart == t1Steady,
      s"t1 restart diverged: ${t1Restart.diff(t1Steady)} vs ${t1Steady.diff(t1Restart)}")
    val events = graft.model.Tables(spark, sf, "events")
    def settle(df: org.apache.spark.sql.DataFrame) =
      df.select($"l_id", $"r_id", $"user_id")
        .as[(Long, Option[Long], Long)].collect().toSet
    val oSteady = settle(Pipeline.replayIntervalJoinOuter(spark, events,
      stageKey = sfKey))
    val oRestart = settle(Pipeline.replayIntervalJoinOuter(spark, events,
      killAfterBatches = 1, stageKey = sfKey))
    assert(oSteady.exists(_._2.isEmpty) && oRestart == oSteady,
      s"outer restart diverged: ${oRestart.diff(oSteady)} vs ${oSteady.diff(oRestart)}")
  }

  test("restart recovery holds under RocksDB changelog checkpointing") {
    // The cluster-default recovery posture (r13 verdict #7): with
    // changelogCheckpointing the checkpoint stores per-batch CHANGELOGS and
    // reconstructs state by replaying them onto the last snapshot, instead
    // of restoring a full snapshot per batch — a different recovery code
    // path than the one the other restart tests certify. Run the two
    // RocksDB-relevant state shapes (timers+sessions; join buffers, forced
    // onto the RocksDB provider here) through a full crash+recover
    // lifecycle with the flag on: recovery must still settle exactly.
    val events = graft.model.Tables(spark, sf, "events")
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    Replay.withConfs(spark, Map(changelog -> "true")) {
      def sess(df: org.apache.spark.sql.DataFrame) =
        df.select($"user_id", $"n_events", $"total_cents", $"start_ms", $"end_ms")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      val sSteady = sess(Pipeline.replaySessionSummaries(spark, events,
        stageKey = sfKey))
      val sRestart = sess(Pipeline.replaySessionSummaries(spark, events,
        killAfterBatches = 2, stageKey = sfKey))
      assert(sSteady.nonEmpty && sRestart == sSteady,
        s"sess diverged under changelog checkpointing: " +
          s"${sRestart.diff(sSteady)} vs ${sSteady.diff(sRestart)}")
      withRocksDb {
        def join(df: org.apache.spark.sql.DataFrame) =
          df.select($"l_id", $"r_id", $"user_id")
            .as[(Long, Long, Long)].collect().toSet
        val jSteady = join(Pipeline.replayIntervalJoin(spark, events,
          stageKey = sfKey))
        val jRestart = join(Pipeline.replayIntervalJoin(spark, events,
          killAfterBatches = 1, stageKey = sfKey))
        assert(jSteady.nonEmpty && jRestart == jSteady,
          s"ssjoin diverged under changelog checkpointing: " +
            s"${jRestart.diff(jSteady)} vs ${jSteady.diff(jRestart)}")
      }
    }
  }

  test("outer interval-join batch-replay emits matches and watermark-proven nulls") {
    // The ssjoin_outer_replay promotion on a hand-checkable corpus: user 1's
    // view converts inside the window; user 2's purchase lands outside it;
    // user 3 never purchases. Both null rows can only emit via state
    // eviction after the sentinel files push the watermark — the semantic
    // this replay certifies. Runs the ad-hoc (stageKey = None) path.
    val events = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 10L, ts("2024-01-01 10:20:00"), "purchase"), // in-window pair
      (3L, 20L, ts("2024-01-01 10:00:00"), "view"),
      (4L, 20L, ts("2024-01-01 11:30:00"), "purchase"), // outside 30 min
      (5L, 30L, ts("2024-01-01 10:00:00"), "click")     // never converts
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Pipeline.replayIntervalJoinOuter(spark, events, nFiles = 2)
      .select($"l_id", $"r_id", $"user_id")
      .as[(Long, Option[Long], Long)].collect().toSet
    assert(out == Set((1L, Some(2L), 10L), (3L, None, 20L), (5L, None, 30L)),
      s"got $out")
  }

  test("outer replay memo tag distinguishes window configs under one stageKey") {
    // Two calls in one JVM, SAME stageKey, different withinMs: the memo tag
    // must carry the window (r10/r11 advice), because the sentinel
    // timestamps bake it in. With a stale 30-min stage reused for the 4-hour
    // window, the sentinels would sit BELOW the 4-hour eviction bound and
    // user 30's never-converted null row could never emit.
    val events = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 10L, ts("2024-01-01 10:20:00"), "purchase"),
      (3L, 20L, ts("2024-01-01 10:00:00"), "view"),
      (4L, 20L, ts("2024-01-01 11:30:00"), "purchase"), // in 4h, outside 30min
      (5L, 30L, ts("2024-01-01 10:00:00"), "click")     // never converts
    ).toDF("event_id", "user_id", "ts", "event_type")
    def run(withinMs: Long) =
      Pipeline.replayIntervalJoinOuter(spark, events, withinMs = withinMs,
          nFiles = 2, stageKey = Some("memo2cfg"))
        .select($"l_id", $"r_id", $"user_id")
        .as[(Long, Option[Long], Long)].collect().toSet
    assert(run(1800000L) ==
      Set((1L, Some(2L), 10L), (3L, None, 20L), (5L, None, 30L)))
    assert(run(14400000L) ==
      Set((1L, Some(2L), 10L), (3L, Some(4L), 20L), (5L, None, 30L)))
  }

  test("watermarked event-time window drops data later than the horizon") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val windowed = input.toDF().toDF("t", "k", "v")
      .withWatermark("t", "10 minutes")
      .groupBy(window(col("t"), "10 minutes"), col("k"))
      .agg(sum(col("v")).as("total"))
      .select(col("window.start").as("ws"), col("k"), col("total"))
    val q = windowed.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:05:00"), "a", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the first window, closing it
      input.addData((ts("2024-01-01 11:00:00"), "a", 5.0))
      q.processAllAvailable()
      // a record 50 min late, inside the long-closed first window: dropped
      input.addData((ts("2024-01-01 10:06:00"), "a", 100.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:30:00"), "a", 7.0)) // close 11:00 window
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select("ws", "total").as[(Timestamp, Double)].collect().toMap
      assert(out(ts("2024-01-01 10:00:00")) == 1.0, s"late row leaked into closed window: $out")
      assert(out(ts("2024-01-01 11:00:00")) == 5.0)
    } finally q.stop()
  }

  test("stream-static join enriches streaming rows against a broadcast dim") {
    val dim = Seq(("DI", "MMT"), ("FL", "NNA")).toDF("prefix", "major")
    val input = MemoryStream[(String, Double)]
    val joined = input.toDF().toDF("cls", "score")
      .withColumn("prefix", substring(col("cls"), 1, 2))
      .join(broadcast(dim), Seq("prefix"), "left")
    val q = joined.writeStream.format("memory").queryName("dimjoin_out")
      .outputMode("append").start()
    try {
      input.addData(("DI-K46", 8.0), ("FL-K47", 7.0), ("XX-1", 5.0))
      q.processAllAvailable()
      val out = spark.table("dimjoin_out").select("cls", "major")
        .as[(String, Option[String])].collect().toMap
      assert(out == Map("DI-K46" -> Some("MMT"), "FL-K47" -> Some("NNA"), "XX-1" -> None))
    } finally q.stop()
  }

  test("session_window groups events by inactivity gap and closes on watermark") {
    val input = MemoryStream[(Timestamp, String)]
    val sessions = input.toDF().toDF("t", "u")
      .withWatermark("t", "5 minutes")
      .groupBy(session_window(col("t"), "10 minutes"), col("u"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"), col("u"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // two events 5 min apart -> one session; third event 30 min later
      input.addData((ts("2024-01-01 10:00:00"), "u1"), (ts("2024-01-01 10:05:00"), "u1"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:40:00"), "u1")) // watermark 10:35 > session end 10:15
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:30:00"), "u1")) // close the 10:40 session too
      q.processAllAvailable()
      val out = spark.table("sess_out").select("ss", "n").as[(Timestamp, Long)].collect().toMap
      assert(out(ts("2024-01-01 10:00:00")) == 2L, s"first session wrong: $out")
      assert(out(ts("2024-01-01 10:40:00")) == 1L)
    } finally q.stop()
  }

  test("sessionize: a late cross-batch event extends the open session BACKWARD") {
    import graft.streaming.SessionTimeout
    withRocksDb {
      val input = MemoryStream[(Timestamp, Long, Double)]
      val out = SessionTimeout.summaries(
        input.toDF().toDF("ts", "user_id", "value"),
        gapMs = 10L * 60 * 1000, watermark = "30 minutes")
      val q = out.toDF().writeStream.format("memory").queryName("sess_late_out")
        .outputMode("append").start()
      try {
        input.addData((ts("2024-01-01 10:05:00"), 1L, 1.0))
        q.processAllAvailable()
        // LATE but above the watermark: merges into the open session and must
        // extend its start backward, not only its count
        input.addData((ts("2024-01-01 10:00:00"), 1L, 1.0))
        q.processAllAvailable()
        // close by in-batch gap so the session emits deterministically
        input.addData((ts("2024-01-01 11:00:00"), 1L, 1.0))
        q.processAllAvailable()
        val got = spark.table("sess_late_out")
          .select("start_ms", "end_ms", "n_events")
          .as[(Long, Long, Long)].collect()
          .filter(_._3 == 2L)
        assert(got.nonEmpty, "merged session never emitted")
        assert(got.head._1 == ts("2024-01-01 10:00:00").getTime,
          s"late event missing from the span: ${got.toSeq}")
        assert(got.head._2 == ts("2024-01-01 10:05:00").getTime)
      } finally q.stop()
    }
  }

  test("consumer transform chain runs on a stream (enrich + key + route)") {
    val input = MemoryStream[(Timestamp, String, String, String, String, String, Int, String, Double, Double)]
    val df = input.toDF().toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN",
      "F_TENLOP", "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
      // the PERMISSIVE parse's audit column rides the source frame (junk
      // rows carry the raw payload, parsed rows null); the store path must
      // drop it so a pre-existing store's column-aligned merge select does
      // not crash on a column it never had — but COUNT it first (observe)
      .withColumn("_corrupt_record",
        when(col("F_MASV") === "", lit("RAW JUNK LINE")))
    val out = Pipeline.consumerTransform(df)
    assert(!out.columns.contains("_corrupt_record"),
      "store path must not persist the audit column")
    val q = out.writeStream.format("memory").queryName("consumer_out")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-05 08:00:00"), "S1", "C1", "Math", "DI-X", "46", 20241, "8.5", 3.0, 30.0),
        // the corrupt-line shape: null record fields, payload retained —
        // null-keyed, so the pipeline rejects it from the store
        (ts("2024-01-05 08:00:01"), "", "", "", "", "", 0, "", 0.0, 0.0))
      q.processAllAvailable()
      val rows = spark.table("consumer_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("doc_id") == "C1_S1_46_20241")
      assert(rows.head.getAs[java.sql.Date]("ingest_date").toString == "2024-01-05")
      // the con.py:43 warn-and-count twin: junk is counted in the batch's
      // own pass even though the store never sees it
      val audits = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("s4_audit")))
        .filter(_.getAs[Long]("input_rows") > 0) // skip no-data batches
      assert(audits.nonEmpty, "no s4_audit observation surfaced")
      assert(audits.last.getAs[Long]("corrupt_rows") == 1L &&
        audits.last.getAs[Long]("input_rows") == 2L, audits.last.toString)
    } finally q.stop()
  }

  test("dead-letter replay splits junk from parsed rows; empty DLQ reads clean") {
    // ids chosen so %10==3 junk exists: 3 and 13 are junk, 1/2/12 parse
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (12L, 40L), (13L, 50L))
      .toDF("doc_id", "n_chars")
    val out = Pipeline.replayDeadLetter(spark, docs, nFiles = 2)
      .as[(Option[Long], Option[Long], Option[String])].collect()
    val parsed = out.filter(_._3.isEmpty).map(r => r._1.get -> r._2.get).toMap
    val junk = out.flatMap(_._3).sorted.toSeq
    assert(parsed == Map(1L -> 10L, 2L -> 20L, 12L -> 40L))
    assert(junk == Seq("JUNK 13", "JUNK 3"))
    // a corpus with NO junk must settle to an EMPTY dead-letter table that
    // reads back as an empty frame (schema-pinned), not an inference error
    val clean = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
    val out2 = Pipeline.replayDeadLetter(spark, clean, nFiles = 2)
      .as[(Option[Long], Option[Long], Option[String])].collect()
    assert(out2.length == 2 && out2.forall(_._3.isEmpty))
  }

  test("dead-letter restart replay settles exactly despite the crash-replayed batch") {
    // enough distinct rows that every one of the 4 staged files is
    // non-empty; ids 3,13,23,33 are junk (%10==3)
    val docs = (1L to 40L).map(i => (i, i * 10L)).toDF("doc_id", "n_chars")
    val out = Pipeline.replayDeadLetter(spark, docs, nFiles = 4,
      killAfterBatches = 2)
      .as[(Option[Long], Option[Long], Option[String])].collect()
    // the crash-replayed batch must NOT duplicate: exactly one output line
    // per input line, junk retained verbatim
    assert(out.length == 40, s"expected 40 settled lines, got ${out.length}")
    val junk = out.flatMap(_._3).sorted.toSeq
    assert(junk == Seq("JUNK 13", "JUNK 23", "JUNK 3", "JUNK 33"))
    val parsed = out.filter(_._3.isEmpty).map(_._1.get).sorted.toSeq
    assert(parsed == (1L to 40L).filterNot(_ % 10 == 3).toSeq)
  }

  test("kafka value parse tags tombstones into the corrupt path") {
    // The S4 parse contract without a broker (kafkaValueParse is the
    // factored semantics of kafkaJsonSource): a good JSON line parses, a
    // junk line retains its payload, and a NULL value (compaction
    // tombstone) is tagged with the sentinel — counted by the s4_audit
    // metric and rejected by the null-key filter, never an invisible
    // all-null row (r14 advice).
    val good = """{"F_MASV":"SV001","F_DIEM2":"8.5","NHHK":20241}"""
    val raw = Seq(
      (Option(good.getBytes("UTF-8")), 1L),
      (Option("not json".getBytes("UTF-8")), 2L),
      (Option.empty[Array[Byte]], 3L),
      // the JSON literal `null`: a NON-null payload whose from_json result
      // is a null STRUCT — without the null-struct arm this was the one
      // remaining invisible all-null row (review finding)
      (Option("null".getBytes("UTF-8")), 4L))
      .toDF("value", "offset")
      .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
    val out = Pipeline.kafkaValueParse(raw)
      .select("F_MASV", "_corrupt_record", "kafka_offset")
      .as[(Option[String], Option[String], Long)]
      .collect().sortBy(_._3)
    assert(out(0) == ((Some("SV001"), None, 1L)))
    assert(out(1) == ((None, Some("not json"), 2L)))
    assert(out(2) == ((None, Some(Pipeline.TombstoneMark), 3L)))
    assert(out(3) == ((None, Some("null"), 4L)))
    // and the consumerTransform audit metric counts all non-null tags:
    // the junk line, the tombstone, and the null literal all carry payloads
    assert(out.count(_._2.isDefined) == 3)
  }

  test("kafka sink projection keys messages by the record id when asked") {
    // The S3 wire contract without a broker (kafkaSinkProjection is the
    // factored projection of kafkaJsonSink): the parse's kafka_offset
    // tie-break and the upsert's last-write-wins are only correct when all
    // versions of one doc share a partition, which needs the producer to
    // SET the message key (review finding: the sink emitted no key at all
    // while the parse documented key-partitioning as the premise).
    val df = Seq((7L, "a"), (8L, "b")).toDF("doc_id", "payload")
    val keyed = Pipeline.kafkaSinkProjection(df, Some("doc_id"))
    assert(keyed.columns.toSeq == Seq("key", "value"))
    val rows = keyed.as[(String, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("7", "8"))
    assert(rows.head._2 == """{"doc_id":7,"payload":"a"}""")
    val unkeyed = Pipeline.kafkaSinkProjection(df, None)
    assert(unkeyed.columns.toSeq == Seq("value"))
  }

  /** Every merged replay at the two kill points just outside its range. */
  private def outOfRangeReplays: Seq[(String, () => Any)] = {
    val events = graft.model.Tables(spark, sf, "events")
    val docs = graft.model.Tables(spark, sf, "documents")
    val customer = graft.model.Tables(spark, sf, "customer")
    val excl = graft.query.EventsAdapter.ExcludedSemester
    Seq(-1, 4).flatMap(k => Seq[(String, () => Any)](
      s"s2 k=$k" -> (() => Pipeline.replayUpsertDaily(spark, events, nFiles = 4,
        killAfterBatches = k)),
      s"xlsx k=$k" -> (() => Pipeline.replayXlsxStream(spark, customer, nFiles = 4,
        killAfterBatches = k)),
      s"dlq k=$k" -> (() => Pipeline.replayDeadLetter(spark, docs, nFiles = 4,
        killAfterBatches = k)),
      s"t1 k=$k" -> (() => Pipeline.replayStreamDedup(spark, docs, nFiles = 4,
        killAfterBatches = k)),
      s"gpa k=$k" -> (() => Pipeline.replayStatefulGpa(spark, events, excl,
        nFiles = 4, killAfterBatches = k)),
      s"sess k=$k" -> (() => Pipeline.replaySessionSummaries(spark, events,
        nFiles = 4, killAfterBatches = k)))) ++
    Seq(-1, 2).flatMap(k => Seq[(String, () => Any)](
      s"ssjoin k=$k" -> (() => Pipeline.replayIntervalJoin(spark, events,
        nFiles = 2, killAfterBatches = k)),
      s"outer k=$k" -> (() => Pipeline.replayIntervalJoinOuter(spark, events,
        nFiles = 2, killAfterBatches = k))))
  }

  test("replay harness: every replay refuses kill points outside 0 <= k < nFiles") {
    for ((what, call) <- outOfRangeReplays)
      withClue(what)(intercept[IllegalArgumentException](call()))
  }

  test("replay harness: a sink failure propagates, and no query or conf outlives a run") {
    val width = "spark.sql.shuffle.partitions"
    val src = java.nio.file.Files.createTempDirectory("harness-src").toString + "/src"
    Seq(1L, 2L, 3L, 4L).toDF("id").repartitionByRange(2, $"id")
      .write.parquet(src)
    // a width above the harness clamp, so the run must narrow it and restore it
    Replay.withConfs(spark, Map(width -> "16")) {
      val before = (spark.conf.getOption(width), spark.conf.getOption(Replay.StateProvider))
      outOfRangeReplays.foreach { case (what, call) =>
        withClue(what)(intercept[IllegalArgumentException](call()))
      }
      val widthInSink = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      for (k <- Seq(0, 1)) {
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          Replay.run(spark, "boom", nFiles = 2, killAfterBatches = k) { _ =>
            Replay.Rung(
              stream = () => spark.readStream.schema("id BIGINT")
                .option("maxFilesPerTrigger", 1).parquet(src),
              sink = (_: org.apache.spark.sql.DataFrame, _: Long) => {
                widthInSink.add(spark.conf.get(width))
                throw new IllegalStateException("sink-boom")
              },
              settle = () => spark.emptyDataFrame,
              realBatches = () => 2,
              confs = Map(Replay.StateProvider -> Replay.RocksDbProvider))
          }
        }
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(_.contains("sink-boom")), s"k=$k lost the sink error: $msgs")
      }
      assert(widthInSink.asScala.toSet == Set("8"), s"state width not clamped: $widthInSink")
      // a normal crash+recover run on the session replay's hand corpus
      val events = Seq(
        (ts("2024-01-01 10:00:00"), 1L, 1.25),
        (ts("2024-01-01 10:10:00"), 1L, 2.50),
        (ts("2024-01-01 11:00:00"), 1L, 7.00),
        (ts("2024-01-01 10:05:00"), 2L, 5.10)
      ).toDF("ts", "user_id", "value")
      val out = Pipeline.replaySessionSummaries(spark, events, nFiles = 2,
          killAfterBatches = 1)
        .select("user_id", "n_events", "total_cents").as[(Long, Long, Long)]
        .collect().toSet
      assert(out == Set((1L, 2L, 375L), (1L, 1L, 700L), (2L, 1L, 510L)), s"got $out")
      assert(spark.streams.active.isEmpty,
        s"queries outlived their run: ${spark.streams.active.map(_.name).toSeq}")
      assert((spark.conf.getOption(width),
        spark.conf.getOption(Replay.StateProvider)) == before)
    }
  }
}
