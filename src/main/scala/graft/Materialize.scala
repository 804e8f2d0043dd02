package graft

import org.apache.spark.sql.DataFrame

/** The one materialization seam for "compute this frame once, then fan out".
  *
  * Iterative and multi-consumer pipelines (label-propagation rounds, shared
  * tokenization scans, LSH band indexes) must pin an intermediate frame so
  * Spark neither re-executes the upstream plan per consumer nor grows an
  * unbounded lineage across iterations. HOW the pin happens is an
  * environment decision, not an operator decision, so every operator calls
  * [[pin]] and the mode comes from session config:
  *
  *   - `spark.graft.materialize.mode = local` (default):
  *     `localCheckpoint(eager)`.
  *     Right for local[k] and for short-lived interactive clusters: blocks
  *     are executor-memory/disk resident, zero extra I/O, but NOT
  *     fault-tolerant — a lost executor kills the query.
  *   - `spark.graft.materialize.mode = reliable`: `checkpoint(eager)` to
  *     the reliable checkpoint directory
  *     (`spark.sparkContext.setCheckpointDir`, or set
  *     `spark.graft.materialize.dir` and [[pin]] installs it on first use).
  *     The 100 TB posture: blocks live on the cluster FS and survive
  *     executor loss; costs one write+read of the pinned frame.
  *     RETENTION: Spark never deletes reliable checkpoint data on its own,
  *     and iterative callers (connected-components pins every round)
  *     accumulate one directory per pin for the session lifetime. Build the
  *     session with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *     so the ContextCleaner deletes a checkpoint once its frame is
  *     garbage-collected — the flag is captured when the SparkContext
  *     starts, so it CANNOT be enabled from inside [[pin]]; [[pin]] warns
  *     once per JVM when a reliable-mode session lacks it. Cleanup is
  *     GC-driven (best-effort within a session); long-lived sessions should
  *     still TTL the checkpoint directory externally.
  *
  * Any other value fails fast. Every mode pins: callers rely on a pinned
  * frame executing its upstream plan exactly once.
  *
  * Streaming frames are returned untouched in every mode (micro-batch
  * re-execution is governed by the streaming checkpoint, not this seam).
  * Both checkpoint flavors truncate lineage and materialize eagerly, so
  * downstream PLANS are identical across `local`/`reliable` — PlanChecksSpec
  * pins stay valid in either mode.
  */
object Materialize {

  // Under `spark.`, so `-Dspark.graft.materialize.mode=…` on any main's JVM
  // reaches every session: SparkConf loads each `-Dspark.*` property, and a
  // session built by `Session.build` merges SparkConf into its SQL conf.
  val ModeKey = "spark.graft.materialize.mode"
  val DirKey = "spark.graft.materialize.dir"

  private val retentionWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  def pin(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = spark.conf.get(DirKey, "")
          require(dir.nonEmpty,
            s"$ModeKey=reliable needs sparkContext.setCheckpointDir or $DirKey")
          sc.setCheckpointDir(dir)
        }
        // See RETENTION above: the cleaner flag is start-time-only, so the
        // best pin can do for a mis-built session is refuse to be silent.
        // Conf check FIRST: a well-built session must not consume the
        // once-per-JVM sentinel, or a later mis-built session in the same
        // JVM never gets the leak warning (r10 advice).
        if (!sc.getConf.getBoolean(
              "spark.cleaner.referenceTracking.cleanCheckpoints", false) &&
            !retentionWarned.getAndSet(true)) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$ModeKey=reliable without " +
              "spark.cleaner.referenceTracking.cleanCheckpoints=true (start-" +
              "time conf): every pin leaks a checkpoint dir for the session " +
              "lifetime — enable the cleaner flag or TTL the checkpoint dir")
        }
        df.checkpoint(eager = true)
      case "local" => df.localCheckpoint(eager = true)
      // A typo ('relaible') on a 100 TB cluster must not silently drop the
      // fault-tolerance posture the mode was set for.
      case other => throw new IllegalArgumentException(
        s"unknown $ModeKey: '$other' (expected local | reliable)")
    }
  }

  // NOTE (r20): a pinWithMetrics seam — riding row-level aggregates on the
  // checkpoint action via Dataset.observe — was built, verified to deliver
  // metrics on eager localCheckpoint (OPTIMIZATION_r20.md, ProbeObserve), and then REVERTED:
  // interleaved A/B showed Observation.get's wait on the ASYNC listener bus
  // (which drains behind a 32-wide run's task events) costs MORE per
  // iteration than the synchronous sub-second count it replaced (d6 7.9→9.7 s,
  // d16 7.5→11.6 s warm — OPTIMIZATION_r20.md). Don't rebuild it without
  // first timing action-end → metric-delivery on a busy session.

  /** Chainable form: `frame.groupBy(...).agg(...).pinned`. */
  implicit class DatasetPin(private val df: DataFrame) extends AnyVal {
    def pinned: DataFrame = Materialize.pin(df)
  }
}
