package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryException

/** The one streaming-replay harness behind [[Pipeline]]'s §2.5 replays.
  *
  * A replay stages a corpus as files, streams them through a real source one
  * micro-batch per file into a foreachBatch sink, and re-reads the settled
  * output for the cross-engine gate. `killAfterBatches = 0` runs one steady
  * query. `killAfterBatches = k > 0` first runs a query that throws inside
  * foreachBatch after batch k's sink write and before its offset commit (the
  * worst-case failure point: the sink holds a batch the checkpoint does not
  * acknowledge), then a recovery query on the SAME checkpoint re-runs the
  * unacknowledged batch and drains the rest. This is the reference's
  * crash-then-re-deliver contract (`con.py:18,79-88`), certified by the gate:
  * the recovered output must settle to the steady answer.
  *
  * Each run gets a FRESH checkpoint and output root (a reused checkpoint
  * would no-op-resume and certify nothing); only the staged input is
  * memoized, by the rungs through [[graft.util.StageMemo]]. */
private[graft] object Replay {

  /** One replay shape as data, built by the rung from its run's output root
    * (which does not exist yet: sinks that need directories create them).
    *
    * @param stream      the streaming frame; called once per query, so the
    *                    recovery query gets a fresh plan
    * @param sink        the foreachBatch body writing under the output root
    * @param settle      re-reads the settled output
    * @param realBatches staged part count; read only when a crash is injected
    * @param absorbKeys  key of the rows a crash-replayed batch may re-emit;
    *                    dropped to one row per key only after a crash, so a
    *                    duplicate in a steady run stays a failure
    * @param confs       session confs the run needs beyond the state width */
  final case class Rung(
      stream: () => DataFrame,
      sink: (DataFrame, Long) => Unit,
      settle: () => DataFrame,
      realBatches: () => Int,
      outputMode: String = "append",
      absorbKeys: Seq[String] = Nil,
      confs: Map[String, String] = Map.empty)

  private val CrashMark = "graft-simulated-crash-post-sink-pre-commit"

  val StateProvider = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def run(spark: SparkSession, what: String, nFiles: Int,
          killAfterBatches: Int)(rung: String => Rung): DataFrame = {
    require(killAfterBatches >= 0 && killAfterBatches < nFiles,
      s"$what: killAfterBatches must be 0 (steady) or a mid-corpus crash " +
        s"point 1 <= k < nFiles; got $killAfterBatches / $nFiles")
    val root = graft.util.TempRoots.create(s"graft_${what}_run_")
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val r = rung(out)
    // repartitionByRange emits only NON-EMPTY partitions, so a small or
    // skewed corpus can stage fewer files than requested; the crash must
    // still leave a real batch for the recovery query.
    if (killAfterBatches > 0) {
      val real = r.realBatches()
      require(killAfterBatches < real,
        s"$what staged only $real real micro-batches (repartitionByRange " +
          s"clamps empty partitions); killAfterBatches=$killAfterBatches " +
          "would leave no fresh data for the recovery query")
    }
    // processAllAvailable, not AvailableNow: the sess and outer rungs emit
    // their last rows in watermark-driven no-data batches, which this drain
    // waits out. stop() in finally, so a failed drain cannot leave a running
    // query with open state stores in the session.
    def drain(batch: (DataFrame, Long) => Unit): Unit = {
      val q = r.stream().writeStream
        .foreachBatch(batch)
        .option("checkpointLocation", ckpt)
        .outputMode(r.outputMode)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    withConfs(spark, stateWidth(spark) ++ r.confs) {
      if (killAfterBatches > 0) {
        val seen = new AtomicInteger(0)
        expectInjectedCrash(drain { (b, id) =>
          r.sink(b, id)
          if (seen.incrementAndGet() == killAfterBatches)
            throw new RuntimeException(CrashMark)
        })
      }
      drain(r.sink)
    }
    val settled = r.settle()
    if (killAfterBatches > 0 && r.absorbKeys.nonEmpty) settled.dropDuplicates(r.absorbKeys)
    else settled
  }

  /** The crash query must die of the injected crash and nothing else: a
    * clean drain means the injection never fired and the run certified
    * nothing, and any other failure is re-thrown. */
  private def expectInjectedCrash(drain: => Unit): Unit =
    try { drain; sys.error("crash was injected but query drained cleanly") }
    catch {
      case e: StreamingQueryException =>
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).toSeq
        if (!msgs.exists(_.contains(CrashMark))) throw e
    }

  /** State width for one replay run: min(session width, 8). Every stateful
    * operator holds `spark.sql.shuffle.partitions` state-store instances (a
    * stream-stream join holds four per partition), and every micro-batch
    * loads, commits and snapshots all of them even when it carries a handful
    * of rows, so at bench width (32) a gate-sized replay is hundreds of
    * store commits for a few thousand rows. A streaming query pins its state
    * width at first checkpoint, and each run has a fresh one, so the clamp
    * is self-consistent; the emitted SET is partition-count-independent,
    * which is what the set-shaped oracles hash. At real scale the width is a
    * sizing decision: BASELINE.md rounds 17-18 hold the measured curve and
    * the sizing rule. */
  private def stateWidth(spark: SparkSession): Map[String, String] = {
    val key = "spark.sql.shuffle.partitions"
    scala.util.Try(spark.conf.get(key).toInt).toOption.filter(_ > 8)
      .fold(Map.empty[String, String])(_ => Map(key -> "8"))
  }

  /** The one session-conf scope: save each key, set it, run `body`, restore
    * each key (unset if it had no value) in `finally`. `confs` is evaluated
    * under the lock. The lock serializes scopes on a session-global conf:
    * two interleaved scopes could otherwise restore each other's temporary
    * value as if it were the session default (ADVICE r11). */
  private[graft] def withConfs[T](spark: SparkSession,
                                  confs: => Map[String, String])(body: => T): T =
    lock.synchronized {
      val set = confs
      val saved = set.keys.map(k => k -> spark.conf.getOption(k))
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  private val lock = new Object

  /** Staged part files of `dir` with extension `ext`. */
  private[streaming] def partCount(dir: String, ext: String = ".parquet"): Int = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) 0
    else fs.count(f => f.getName.startsWith("part-") && f.getName.endsWith(ext))
  }
}
