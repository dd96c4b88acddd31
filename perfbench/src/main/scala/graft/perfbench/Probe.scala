package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced mode. One span per layer call:
  * name, start, end, parent span and the request id shared by every span
  * of one operation. With tracing off, [[span]] only runs its body.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, req: Long, counters: Map[String, Long])

final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var req: Long = -1L
  /** Counter source read at span boundaries (set once the listener exists). */
  var counters: () => Map[String, Long] = () => Map.empty

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counters()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counters()
        stack = stack.tail
        spans += Span(id, name, t0, t1, parent, req,
          c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) }.filter(_._2 != 0))
      }
    }

  /** Spans named `name` recorded while request ids were in `reqs`. */
  def durationsMs(name: String, reqs: Long => Boolean = _ => true): Seq[Double] =
    spans.iterator.filter(s => s.name == name && reqs(s.req))
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Self time per span name: duration minus the durations of its children. */
  def selfMs: Map[String, Double] = {
    val child = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.groupMapReduce(_.name)(s => (s.endNs - s.startNs - child.getOrElse(s.id, 0L)) / 1e6)(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"req":${s.req},"counters":{$cs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark's own execution counters, summed from a listener the benchmark
  * registers: jobs, tasks, shuffle bytes, spill, scan bytes, output bytes
  * and executor run time.
  */
final class SparkCounters extends SparkListener {
  val jobs, tasks, shuffleWrite, shuffleRead, spill, scan, written, runMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      scan.addAndGet(m.inputMetrics.bytesRead)
      written.addAndGet(m.outputMetrics.bytesWritten)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.graftbench.BusShim.drain(sc)
    Map("jobs" -> jobs.get, "tasks" -> tasks.get, "shuffle_write_b" -> shuffleWrite.get,
      "shuffle_read_b" -> shuffleRead.get, "spill_b" -> spill.get, "scan_b" -> scan.get,
      "written_b" -> written.get, "executor_run_ms" -> runMs.get)
  }
}

/** Per-query counters from each finished query's own plan: Catalyst time
  * (analysis + optimization + physical planning, from the query's planning
  * tracker) and the partition directories its file scans read (the scan
  * node's "number of partitions read" metric).
  */
final class QueryCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val planMs, partitionsRead = new AtomicLong
  private def add(qe: QueryExecution): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    partitionsRead.addAndGet(collectWithSubqueries(qe.executedPlan) {
      case scan: FileSourceScanExec => scan.metrics.get("numPartitions").fold(0L)(_.value)
    }.sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** JVM-wide public counters: CPU, GC, JIT, heap, codegen. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Machine-wide CPU ticks (all, stolen) from the first line of
    * /proc/stat: time the hypervisor took from this machine's CPUs.
    * (0, 0) where the file does not exist.
    */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.take(8).sum, f(7))
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Heap still in use after explicit full collections, with pauses that
    * let Spark's ContextCleaner release what the first ones freed.
    */
  def retainedHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** Host-speed calibration: a fixed integer-arithmetic loop, timed apart
  * from any Spark work. The program cannot move it; only the host can. The
  * shared reference host changed speed by up to 1.7x within an hour, and
  * every wall-clock and CPU figure of a run moved with it.
  */
object Calibration {
  /** The median pass on the reference host. */
  val RefMs = 150.0
  private val Steps = 50000000

  private def pass(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < Steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    if (acc == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Median of five timed passes after two untimed ones, in ms. */
  def ms(): Double = {
    pass(); pass()
    Stats.median((0 until 5).map(_ => pass()))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest percentile with at least ten samples beyond it, with that
    * percentile; below forty samples there is no tail, and this is the median.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = if (xs.length < 40) 0.5 else 1.0 - 10.0 / xs.length
    (p, quantile(xs, p))
  }
}
