package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Gradebook-to-answer benchmark, JVM side.
  *
  *   perfbench.Main --workload <term_bulk|regrade_trickle>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *
  * Prints one JSON result line last on stdout and writes a sidecar JSON
  * (samples, host context, per-layer detail, spans) to `--out`. */
object Main {
  // Input size, from the repo's enrollment corpus (the `events` test
  // table read through graft.query.EventsAdapter): at sf0.1 it has 1,500
  // students, each with 5 courses a term in each of 3 terms (sf0.01: 150
  // students, same shape). The store is seeded with those 3 terms; the
  // timed landings add later ones (a degree runs 12-13 terms, dim_duration).
  val Students = 1500
  val PerTerm = 5
  val SeedTerms = 3
  /** A course's roster is cut into section workbooks of at most this many
    * rows (the corpus has no sections; tens of rows a workbook). */
  val SectionCap = 40
  /** A landing not readable by then counts as failed. */
  val LandTimeoutMs = 60000L
  /** Rounds of the timed window, fixed per workload so that every build
    * does the same work; sized to take 20-30 s on a 4-vCPU host. A traced
    * run makes at least two, so that it has an untraced round to compare. */
  val Rounds = Map("term_bulk" -> 1, "regrade_trickle" -> 7)
  /** Answers and all-students reports after a term_bulk landing. */
  val BulkAnswers = 10
  val BulkReports = 6

  val Workloads = Seq("term_bulk", "regrade_trickle")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      // an idle stream lists the folder every 100 ms, not every 10 ms: the
      // listings' CPU time would otherwise grow with each operation's wall
      .config("spark.sql.streaming.pollingDelay", "100ms")
      .config("spark.hadoop.fs.landing.impl", classOf[LandingFs].getName)
      .config("spark.hadoop.fs.landing.impl.disable.cache", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok =
      try { new Run(spark, a, jvmStartMs).run(); true }
      catch { case t: Throwable => t.printStackTrace(); false }
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Samples and counters of one run's timed window. */
final class Samples {
  val freshNs = mutable.ArrayBuffer.empty[Double]
  var ingestRows = 0L
  var ingestNs = 0L
  val lookupNs = mutable.ArrayBuffer.empty[Double]
  val reportNs = mutable.ArrayBuffer.empty[Double]
  /** JVM CPU milliseconds (all threads) per landing, answer and report. */
  val landCpu = mutable.ArrayBuffer.empty[Double]
  val lookupCpu = mutable.ArrayBuffer.empty[Double]
  val reportCpu = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(why: String): Unit = { failed += 1; if (failures.size < 20) failures += why }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of p50/p75/p90/p99 with at least ten samples beyond it. */
  def supported(n: Int): Seq[Double] =
    Seq(0.5, 0.75, 0.9, 0.99).filter(p => n * (1 - p) >= 10 - 1e-9)
}

/** One run: setup, timed window, checks, report. */
final class Run(spark: SparkSession, a: Main.Args, jvmStartMs: Long) {
  import Main._
  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private val listener = new LayerListener
  sc.addSparkListener(listener)
  private val gen = new Gen(a.seed, Students, PerTerm, SectionCap)
  private val truth = new Truth
  private val pipe = new Pipe(spark, a.work, tracer)
  private val rnd = new SplittableRandom(a.seed * 7919L + 17L)
  private val s = new Samples
  private var opSeq = 0
  private def nextOp(kind: String): String = { opSeq += 1; f"$kind-$opSeq%05d" }
  /** Per timed round: (wall ns, traced). */
  private val rounds = mutable.ArrayBuffer.empty[(Long, Boolean)]
  private var timing = false

  private def books(secs: Seq[Gen.Section]): Seq[(String, Array[Byte], Int)] =
    secs.map(x => (x.file, Book.bytes(Gen.Header +: x.rows.map(_.cells)), x.rows.size))

  // ---- operations -------------------------------------------------------

  /** Land `secs` as one landing and wait until it is readable. The
    * workbooks are written before the landing's span: saving them is the
    * user's part, not the program's. */
  def landOp(secs: Seq[Gen.Section]): Unit = {
    val op = nextOp("land")
    val bs = tracer.span("bench.books", op) { books(secs) }
    s.attempted += 1
    truth.land(secs.flatMap(_.rows))
    tracer.span("op.land", op) {
      val c0 = Host.jvmCpuMs()
      val l = pipe.land(bs, op)
      landWall(op) = l.wallMs
      pipe.await(l, LandTimeoutMs) match {
        case Some(done) =>
          if (timing) {
            done.zip(l.nanos).foreach { case (d, r) => s.freshNs += (d - r).toDouble }
            s.ingestRows += l.rows
            s.ingestNs += done.max - l.nanos.min
            s.landCpu += Host.jvmCpuMs() - c0
          }
        case None =>
          s.fail(s"$op: not readable within $LandTimeoutMs ms")
          if (timing) l.nanos.foreach(_ => s.freshNs += Double.PositiveInfinity)
      }
    }
  }

  /** Answer for one student and check it against the truth. */
  def answerOp(id: String): Unit = {
    val op = nextOp("answer")
    tracer.span("op.answer", op) {
      val c0 = Host.jvmCpuMs()
      val t0 = System.nanoTime()
      val (r, t, qs) = pipe.answer(id, op)
      val dt = System.nanoTime() - t0
      s.attempted += 1
      if (timing) { s.lookupNs += dt.toDouble; s.lookupCpu += Host.jvmCpuMs() - c0 }
      if (tracer.on) queryStats += qs
      tracer.span("bench.check", op) {
        Check.answer(truth, id, r, t).foreach(why => s.fail(s"$op $id: $why"))
      }
    }
  }

  /** The all-students report, checked for every student. */
  def reportOp(): Unit = {
    val op = nextOp("report")
    tracer.span("op.report", op) {
      val c0 = Host.jvmCpuMs()
      val t0 = System.nanoTime()
      val (rows, qs) = pipe.report(op)
      val dt = System.nanoTime() - t0
      s.attempted += 1
      if (timing) { s.reportNs += dt.toDouble; s.reportCpu += Host.jvmCpuMs() - c0 }
      if (tracer.on) reportStats += qs
      tracer.span("bench.check", op) {
        Check.report(truth, rows).foreach(why => s.fail(s"$op: $why"))
      }
    }
  }
  private val queryStats = mutable.ArrayBuffer.empty[QueryStats]
  private val reportStats = mutable.ArrayBuffer.empty[QueryStats]
  private val landWall = mutable.HashMap.empty[String, Long]

  private def randomStudent(): String = gen.students(rnd.nextInt(gen.students.size)).id
  /** A full section workbook of a seeded term: regrades re-save an old
    * term's workbook, always of SectionCap rows, so every landing is the
    * same size. */
  private def randomSection(): Gen.Section = {
    val t = gen.term(rnd.nextInt(SeedTerms)).filter(_.rows.size == SectionCap)
    t(rnd.nextInt(t.size))
  }

  /** Re-save `n` seeded sections as one landing, 1-3 grades changed in each.
    * Returns a changed student. */
  private def regradeOp(n: Int): String = {
    val secs = Seq.fill(n)(randomSection()).distinct
    val changed = secs.map(sec => gen.regrade(sec, rnd).head)
    landOp(secs)
    changed.head
  }

  // ---- workloads --------------------------------------------------------

  private var nextTerm = SeedTerms

  /** One closed-loop round of the workload. */
  private def round(): Unit = a.workload match {
    case "term_bulk" =>
      // every section workbook of the next term lands at once; then an
      // advisor reads the settled store
      landOp(gen.term(nextTerm)); nextTerm += 1
      (0 until BulkAnswers).foreach(_ => answerOp(randomStudent()))
      (0 until BulkReports).foreach(_ => reportOp())
    case "regrade_trickle" =>
      // one correction: re-save, wait until readable, ask for the student;
      // then the all-students report. Only the affected student is asked:
      // the first answer after a landing costs about 1.4x a second one, and
      // a median over a half-and-half mix of the two jumped between them.
      answerOp(regradeOp(1))
      reportOp()
  }

  /** Setup phases and when each ended, seconds after JVM start. */
  private val setupMarks = mutable.LinkedHashMap.empty[String, Double]
  private def mark(name: String): Unit =
    setupMarks(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def run(): Unit = {
    // setup: seeded store, stream, warm-up landing and answers
    val setupHost = Host.open()
    mark("session")
    (0 until SeedTerms).foreach { i =>
      val rows = gen.term(i).flatMap(_.rows)
      pipe.seedTerm(rows)
      truth.land(rows)
      mark(s"seed_term_$i")
    }
    pipe.start()
    mark("stream_start")
    // warm-up of the measured paths; without it the first rounds of the
    // window ran up to 1.8x slower while the JIT compiled, and answers
    // kept getting faster through the first rounds. term_bulk warms with an
    // eighth of the next term's workbooks, which stays partly landed; its
    // timed round lands the term after it.
    if (a.workload == "term_bulk") {
      landOp(gen.term(nextTerm).zipWithIndex.collect { case (x, i) if i % 8 == 0 => x })
      nextTerm += 1
    } else answerOp(regradeOp(3))
    mark("warm_landing")
    // then four answers and two reports: with fewer, the first answers of
    // the window cost up to 1.5x the later ones
    if (a.workload == "regrade_trickle") round()
    (0 until 4).foreach(_ => answerOp(randomStudent()))
    (0 until 2).foreach(_ => reportOp())
    mark("warm_answers")

    // timed window
    val setupCtx = setupHost.close() + ("cpu_probe_ms" -> Host.cpuProbeMs())
    val host = Host.open()
    val t0 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    timing = true
    // a fixed number of rounds; --seconds only bounds the window: rounds
    // that would start past twice its length are not run and count as failed
    val deadlineNs = 2L * a.seconds * 1000000000L
    var k = 0
    val nRounds = if (a.trace) math.max(2, Rounds(a.workload)) else Rounds(a.workload)
    while (k < nRounds) {
      if (System.nanoTime() - t0 > deadlineNs) {
        s.attempted += 1
        s.fail(s"round $k not started: window past ${2 * a.seconds} s")
      } else {
        // traced rounds alternate untraced, traced, traced, untraced, ... so
        // both kinds sit equally early and late in the run
        tracer.on = a.trace && (k % 4 == 1 || k % 4 == 2)
        val r0 = System.nanoTime()
        round()
        rounds += ((System.nanoTime() - r0, tracer.on))
      }
      k += 1
    }
    tracer.on = false
    timing = false
    val windowS = (System.nanoTime() - t0) / 1e9
    val hostCtx = host.close() + ("cpu_probe_ms" -> Host.cpuProbeMs())

    // after the window: stop, drain, check the settled store
    val progress = pipe.stop()
    listener.drain()
    pipe.countStaged()
    s.attempted += 1
    Check.store(truth, pipe.storeRows()).foreach(why => s.fail(s"settled store: $why"))
    val (files, bytes) = pipe.storeSize()
    val storeRows = truth.size.toLong

    // Operation costs are JVM CPU time, not wall time: on a shared host the
    // wall time of the same operation moved by a quarter between runs with
    // the host's load, and its CPU time, which leaves out time stolen by
    // the hypervisor or spent waiting for a core, moved far less. The
    // wall-clock figures are in the sidecar.
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("ingest_rows_per_cpu_s", s.ingestRows / (s.landCpu.sum / 1e3), "rows/cpu-s"),
      ("lookup_cpu_p50_ms", Stats.median(s.lookupCpu.toSeq), "ms"),
      ("report_cpu_p50_ms", Stats.median(s.reportCpu.toSeq), "ms"),
      ("store_bytes_per_row", bytes.toDouble / storeRows, "bytes/row"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"))
    val wall = Map(
      "freshness_p50_s" -> Stats.median(s.freshNs.toSeq) / 1e9,
      "ingest_rows_per_s" -> s.ingestRows / (s.ingestNs / 1e9),
      "lookup_p50_ms" -> Stats.median(s.lookupNs.toSeq) / 1e6,
      "report_p50_s" -> Stats.median(s.reportNs.toSeq) / 1e9)
    val layers = if (a.trace) Layers.metrics(tracer.all, listener, pipe, progress,
      queryStats.toSeq, reportStats.toSeq, rounds.toSeq, landWall.toMap,
      (files, bytes, storeRows)) else Nil
    layers.find(_._1 == "trace.accounted_share").foreach { case (_, share, _) =>
      s.attempted += 1
      if (share < 0.9) s.fail(f"layer self times account for $share%.3f of the traced wall, under 0.9")
    }
    val metrics = if (a.trace) layers else e2e

    val samples = Map(
      "freshness" -> Sample.summary(s.freshNs.toSeq, 1e9, "s"),
      "lookup" -> Sample.summary(s.lookupNs.toSeq, 1e6, "ms"),
      "report" -> Sample.summary(s.reportNs.toSeq, 1e9, "s"),
      "ingest" -> Map("rows" -> s.ingestRows, "seconds" -> s.ingestNs / 1e9),
      "land_cpu" -> Sample.summary(s.landCpu.toSeq, 1, "ms"),
      "lookup_cpu" -> Sample.summary(s.lookupCpu.toSeq, 1, "ms"),
      "report_cpu" -> Sample.summary(s.reportCpu.toSeq, 1, "ms"))
    val sidecar = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "window_s" -> windowS, "rounds" -> k,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "host" -> hostCtx, "host_setup" -> setupCtx, "setup_marks_s" -> setupMarks.toMap,
      "samples" -> samples,
      "attempted" -> s.attempted, "failed" -> s.failed,
      "failed_share" -> s.failed.toDouble / s.attempted,
      "failures" -> s.failures.toSeq,
      "wall" -> wall,
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "batches" -> progress.filter(_.numInputRows > 0).map(p => Map(
        "batch" -> p.batchId, "trigger_start" -> p.timestamp, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)),
      "spans" -> (if (a.trace) tracer.all.map(x => Seq(x.id, x.parent, x.name, x.op,
        x.start, x.end)) else Nil))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json.of(sidecar).getBytes("UTF-8"))

    val result = Map(
      "correct" -> (s.failed == 0), "attempted" -> s.attempted, "failed" -> s.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json.of(result))
  }
}

object Sample {
  /** Median, the highest percentile the sample supports, the count and the
    * samples themselves. */
  def summary(ns: Seq[Double], div: Double, unit: String): Map[String, Any] = {
    val xs = ns.map(_ / div)
    Map("n" -> xs.size, "unit" -> unit, "values" -> xs) ++
      (Seq(0.5) ++ Stats.supported(xs.size)).distinct.map(p =>
        s"p${math.round(p * 100)}" -> Stats.pct(xs, p)).toMap
  }
}

object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  /** `v` as JSON; a non-finite number (a percentile over a landing that
    * never became readable) is written as null. */
  def of(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(finite(v).asInstanceOf[Map[String, Any]])
  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite).toList
    case x => x
  }
}
