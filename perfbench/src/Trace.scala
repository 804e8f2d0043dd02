package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one call from the benchmark into a layer. `op` ties together the
  * spans of one landing or one answer. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      start: Long, end: Long)

/** In-memory span recorder. Off, it records nothing and tags no jobs; a
  * traced run switches it on for alternate rounds. */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Time `body` as span `name`; Spark jobs it starts carry the layer tag. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val prevTag = sc.getLocalProperty(Tracer.LayerKey)
      current.set(id)
      sc.setLocalProperty(Tracer.LayerKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Tracer.LayerKey, prevTag)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val LayerKey = "perfbench.layer"
}

/** Spark runtime counters per layer tag, fed by job/stage/task events.
  * The listener bus is asynchronous: the counters are read only after the
  * timed window ends ([[drain]]), never waited on inside it. */
final class LayerListener extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
    val schedDelayMs = new AtomicLong
  }
  val byLayer = new ConcurrentHashMap[String, Acc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong

  private def acc(layer: String): Acc = byLayer.computeIfAbsent(layer, _ => new Acc)
  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.LayerKey))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = layerOf(e.properties)
    acc(l).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageLayer.put(s, l))
    jobsStarted.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(stageLayer.getOrDefault(e.stageId, "untagged"))
    a.tasks.incrementAndGet()
    a.cpuNs.addAndGet(m.executorCpuTime)
    a.gcMs.addAndGet(m.jvmGCTime)
    a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    a.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    val info = e.taskInfo
    val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime
    a.schedDelayMs.addAndGet(math.max(0L, delay))
  }

  /** Wait, outside any timed window, until every started job has ended and
    * the bus has been quiet for a moment. */
  def drain(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var lastTotal = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val total = jobsEnded.get() + byLayer.values.asScala.map(_.tasks.get).sum
      if (total != lastTotal) { lastTotal = total; quietSince = System.currentTimeMillis() }
      if (jobsEnded.get() >= jobsStarted.get() &&
          System.currentTimeMillis() - quietSince > 150) return
      Thread.sleep(10)
    }
  }
}

/** Host context beside (not among) the metrics: CPU pressure stall share
  * over an interval, load average, JVM GC time. */
object Host {
  /** PSI "some" total in microseconds from /proc/pressure/cpu; -1 if absent. */
  def psiSomeUs(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/pressure/cpu")
    try src.getLines().find(_.startsWith("some")).get.split("total=")(1).trim.toLong
    finally src.close()
  }.getOrElse(-1L)

  def loadavg(): Seq[Double] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally src.close()
  }.getOrElse(Nil)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set (VmHWM) in MB, from /proc/self/status. */
  def peakRssMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get
      .replaceAll("[^0-9]", "").toLong / 1024.0
    finally src.close()
  }.getOrElse(-1.0)

  /** Host speed probe: milliseconds for a fixed single-thread SHA-256 loop
    * (about 50 ms on an idle 2020s core). It explains an outlier run; it
    * never scales a metric. */
  def cpuProbeMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](4096)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 20000) { md.update(buf); buf(i & 4095) = md.digest()(0); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  /** Aggregate CPU ticks from /proc/stat: (steal, total); empty if absent. */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }.toOption

  /** CPU time of the whole JVM, all threads, in milliseconds. */
  def jvmCpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Milliseconds the JIT compilers have spent, all threads. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Context of one interval, opened with [[open]] and closed with [[close]]. */
  final class Window(psi0: Long, gc0: Long, cpu0: Double, jit0: Long,
                     ticks0: Option[(Long, Long)], t0: Long) {
    def close(): Map[String, Any] = {
      val wallUs = (System.nanoTime() - t0) / 1000.0
      val psi1 = psiSomeUs()
      val steal = for ((s0, a0) <- ticks0; (s1, a1) <- cpuTicks() if a1 > a0)
        yield (s1 - s0).toDouble / (a1 - a0)
      Map(
        "wall_s" -> wallUs / 1e6,
        "cpu_stall_share" -> (if (psi0 < 0 || psi1 < 0) -1.0 else (psi1 - psi0) / wallUs),
        "cpu_steal_share" -> steal.getOrElse(-1.0),
        "loadavg" -> loadavg(),
        "jvm_gc_ms" -> (gcMs() - gc0),
        "jvm_cpu_ms" -> (jvmCpuMs() - cpu0),
        "jit_ms" -> (jitMs() - jit0))
    }
  }
  def open(): Window = new Window(psiSomeUs(), gcMs(), jvmCpuMs(), jitMs(), cpuTicks(),
    System.nanoTime())
}
