package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Bench's per-pass layer split, recorded on the shared test session, and
  * Bench's command line. */
class BenchSpec extends SparkSpec {

  /** Listeners on the session's three buses whose class is the recorder's
    * (or one of its inner listeners'). */
  private def recorderListeners(): Seq[String] = {
    // Neither the SparkContext bus nor the execution-listener manager has a
    // public listing; both are public in bytecode.
    def call(o: AnyRef, m: String): AnyRef = o.getClass.getMethod(m).invoke(o)
    val sc = spark.sparkContext
    val sparkListeners = call(call(sc, "listenerBus"), "listeners")
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    val execListeners = call(spark.listenerManager, "listListeners").asInstanceOf[Array[AnyRef]]
    (sparkListeners ++ execListeners ++ spark.streams.listListeners())
      .map(_.getClass.getName)
      .filter(_.startsWith(classOf[PassRecorder].getName))
  }

  test("a recorded pass carries its jobs, stages, shuffle and Catalyst time, then detaches") {
    val rec = new PassRecorder(spark)
    val split = try {
      rec.start()
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().count()
      rec.drain()
    } finally rec.close()
    val tot = split.totals.toMap
    assert(tot("jobs") >= 1, split.json)
    assert(tot("stages") >= 2, split.json)
    assert(tot("shuffle_write_records") > 0, split.json)
    assert(tot("plan_ms") > 0, split.json)
    assert(tot("deser_ms") >= 0 && tot("deser_cpu_ms") >= 0, split.json)
    assert(split.stages.forall(s => s.deserMs >= 0 && s.deserCpuMs >= 0), split.json)
    assert(split.json.contains("\"deser_cpu_ms\":"), split.json)
    assert(split.jobs.size == tot("jobs") && split.stages.size == tot("stages"))
    assert(split.stream.isEmpty, "a batch pass has no streaming progress")
    assert(recorderListeners().isEmpty)
  }

  test("a replay pass carries one progress batch per staged part") {
    import graft.streaming.Pipeline
    val nFiles = 2
    val events = spark.range(0, 200).select(
      col("id").as("event_id"), (col("id") % 13).as("user_id"),
      lit("view").as("event_type"), (col("id") * 0.5).as("value"),
      (lit(1700000000L) + col("id") * 3600).cast("timestamp").as("ts"))
    // The rung stages `repartitionByRange(nFiles, event_id)`, which writes
    // one part per non-empty range.
    val parts = events.repartitionByRange(nFiles, col("event_id"))
      .rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt
    val rec = new PassRecorder(spark)
    val split = try {
      rec.start()
      Pipeline.replayUpsertDaily(spark, events, nFiles = nFiles).count()
      rec.drain()
    } finally rec.close()
    assert(parts == nFiles)
    assert(split.stream("batches") == parts, split.json)
    assert(split.stream("addBatch") > 0, split.json)
    assert(recorderListeners().isEmpty)
  }

  test("Bench's command line: names select a subset; an unknown name is refused") {
    val known = Set("q1", "q2")
    assert(Bench.parse(Nil, known) == Right(Nil))
    assert(Bench.parse(Seq("q2", "q1", "q2"), known) == Right(Seq("q2", "q1")))
    val Left((code, msg)) = Bench.parse(Seq("q1", "nope"), known)
    assert(code == 2)
    assert(msg.contains("nope") && msg.contains(Bench.Usage))
    assert(Bench.parse(Seq("--all"), known).isLeft)
    // the default checks against the registry
    assert(Bench.parse(Seq("flagship_progress")) == Right(Seq("flagship_progress")))
  }
}
