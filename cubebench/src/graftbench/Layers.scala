package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as seen by [[JobTap]]; times are epoch milliseconds. */
final class JobRec(val id: Int, val desc: String, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Records every job with its description, span and task totals. Events
  * arrive on the listener-bus thread only, so the per-job counters need
  * no locking; readers call [[Bridge.drainListeners]] first.
  */
final class JobTap extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = new JobRec(e.jobId, desc, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs that started inside [from, to] (epoch ms). */
  def within(from: Long, to: Long): Seq[JobRec] =
    jobs.values().asScala.filter(j => j.start >= from && j.start <= to)
      .toSeq.sortBy(_.start)
}

/** Catalyst phase times of every action on every session, registered
  * through the static conf `spark.sql.queryExecutionListeners` so that
  * sessions cloned with `newSession()` (as the cube run does) report too.
  */
final class PhaseTap extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = PhaseTap.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = PhaseTap.record(qe)
}

object PhaseTap {
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  val actions = new AtomicLong

  def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def add(key: String, acc: AtomicLong): Unit =
      ph.get(key).foreach(p => acc.addAndGet(p.durationMs))
    add("analysis", analysisMs)
    add("optimization", optimizationMs)
    add("planning", planningMs)
    actions.incrementAndGet()
  }

  def snapshot(): Array[Long] =
    Array(analysisMs.get, optimizationMs.get, planningMs.get, actions.get)
}

/** JVM-wide counters read as deltas around the timed loop. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  def gcCount(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionCount, 0L)).sum
  def jitMs(): Long =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
  /** CPU time of every thread of this JVM. */
  def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak used heap, sampled every 50 ms while running. */
  final class HeapSampler extends Thread("bench-heap-sampler") {
    setDaemon(true)
    private val bean = ManagementFactory.getMemoryMXBean
    val peak = new AtomicLong
    @volatile var running = true
    override def run(): Unit =
      while (running) {
        val u = bean.getHeapMemoryUsage.getUsed
        peak.accumulateAndGet(u, (a: Long, b: Long) => math.max(a, b))
        Thread.sleep(50)
      }
  }
}

/** A benchmark-side span; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** In-memory span log, written once at exit. Span 0 is the run; each
  * thread nests its spans under its own innermost open span. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => List(0))
  private val next = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Time `body` as a span under this thread's innermost open span. */
  def apply[T](name: String)(body: => T): T = {
    val id = next.getAndIncrement()
    val parent = stack.get.head
    stack.set(id :: stack.get)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack.set(stack.get.tail)
      val s = Span(id, parent, name, t0, System.currentTimeMillis())
      synchronized(buf += s)
    }
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Union length of intervals (ms). */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Part of [from, to] covered by the given intervals. */
  def covered(from: Long, to: Long, iv: Seq[(Long, Long)]): Long =
    union(iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) })
}
