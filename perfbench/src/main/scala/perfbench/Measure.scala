package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON rendering of the result files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of unsorted samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** Wall clock in ms with sub-ms digits, and CPU seconds. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ms: Double = System.nanoTime() / 1e6
  def processCpuS: Double = os.getProcessCpuTime / 1e9
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU seconds of the live Java threads: the program's own work. The
    * JIT compiler and GC worker threads are not Java threads and are left
    * out: in live runs they spent a third to a half of the process CPU,
    * and their share rose and fell with the box's load (a run at loadavg
    * 1.5 spent 26 process CPU s, one at 2.8 spent 36, on the same work).
    * A thread that ends between two readings drops out of the second. */
  def cpuS: Double = threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum / 1e9
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  /** Seconds the collectors have spent so far. */
  def gcS: Double = { var t = 0L; gcs.forEach(g => t += g.getCollectionTime); t / 1e3 }
  def load1: Double = os.getSystemLoadAverage
  def time[T](f: => T): (T, Double) = { val t = ms; val r = f; (r, ms - t) }
}

/** Old-generation heap used after a forced full collection, the run's
  * live set; [[settle]] is called at phase ends and the peak over those
  * readings is kept. */
final class HeapPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .filter(p => p.getType == MemoryType.HEAP &&
      p.getName.toLowerCase.contains("old") && p.isCollectionUsageThresholdSupported)
  private var peak = 0L
  def settle(): Unit = {
    // the second collection follows the ContextCleaner's reaction to the
    // first, so blocks of unreachable datasets are gone when read
    System.gc(); Thread.sleep(300); System.gc()
    pools.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }
  def peakMb: Double = peak / 1048576.0
}

/** Spark counters the ledger accumulates; deltas between two snapshots
  * cover one phase. */
final case class SparkSnap(
    taskCpuNs: Long = 0, taskRunMs: Long = 0, gcMs: Long = 0,
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    planMs: Double = 0, codegenNs: Long = 0, atMs: Long = 0) {
  def -(o: SparkSnap): SparkSnap = SparkSnap(taskCpuNs - o.taskCpuNs,
    taskRunMs - o.taskRunMs, gcMs - o.gcMs, jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, planMs - o.planMs,
    codegenNs - o.codegenNs, atMs - o.atMs)
}

/** The benchmark-side Spark ledger: one scheduler listener and one query
  * execution listener per session (tracker phases), plus the codegen
  * compile-time counter. Registered only in traced runs. */
final class Ledger(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var s = SparkSnap()
  /** (start, end) epoch ms of every job, for the driver-gap figure. */
  private val jobSpans = mutable.Map[Int, (Long, Long)]()
  private val groupJobs = mutable.Map[String, Long]().withDefaultValue(0L)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) s = s.copy(
      taskCpuNs = s.taskCpuNs + m.executorCpuTime,
      taskRunMs = s.taskRunMs + m.executorRunTime,
      gcMs = s.gcMs + m.jvmGCTime,
      tasks = s.tasks + 1,
      shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = s.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { s = s.copy(stages = s.stages + 1) }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    s = s.copy(jobs = s.jobs + 1)
    jobSpans(e.jobId) = (e.time, Long.MaxValue)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => groupJobs(g) += 1)
  }
  /** Jobs started so far under a job group. */
  def jobsIn(group: String): Long = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized(groupJobs(group))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(p => jobSpans(e.jobId) = (p._1, e.time))
  }
  private def planned(qe: QueryExecution): Unit = synchronized {
    s = s.copy(planMs = s.planMs + qe.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def snap(): SparkSnap = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized(s.copy(codegenNs = CodeGenerator.compileTime,
      atMs = System.currentTimeMillis()))
  }

  /** Wall ms inside [from, to) covered by no running job. */
  def driverGapMs(from: Long, to: Long): Double = synchronized {
    val spans = jobSpans.values.map { case (a, b) =>
      (math.max(a, from), math.min(b, to)) }.filter(x => x._1 < x._2)
      .toSeq.sortBy(_._1)
    var covered = 0L; var end = from
    spans.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    (to - from - covered).toDouble
  }

  /** The spark.* per-layer metrics for one phase of `width` cores. */
  def metrics(a: SparkSnap, b: SparkSnap, width: Int): Seq[(String, Double, String)] = {
    val d = b - a
    val wallMs = math.max(1L, d.atMs).toDouble
    Seq(
      ("spark.task_cpu_ms", d.taskCpuNs / 1e6, "ms"),
      ("spark.task_run_ms", d.taskRunMs.toDouble, "ms"),
      ("spark.gc_ms", d.gcMs.toDouble, "ms"),
      ("spark.jobs", d.jobs.toDouble, "count"),
      ("spark.stages", d.stages.toDouble, "count"),
      ("spark.tasks", d.tasks.toDouble, "count"),
      ("spark.shuffle_read_bytes", d.shuffleRead.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", d.shuffleWrite.toDouble, "bytes"),
      ("spark.spill_bytes", d.spill.toDouble, "bytes"),
      ("spark.plan_ms", d.planMs, "ms"),
      ("spark.codegen_ms", d.codegenNs / 1e6, "ms"),
      ("spark.driver_gap_ms", driverGapMs(a.atMs, b.atMs), "ms"),
      ("spark.cpu_util", d.taskCpuNs / 1e6 / (wallMs * width), "ratio"))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Metrics of one run, in insertion order, plus its op accounting. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val extra = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.Buffer[String]()
  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def putAll(ms: Seq[(String, Double, String)]): Unit =
    ms.foreach { case (n, v, u) => put(n, v, u) }
  /** Count one operation; a failed one also records why. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

/** Node and expression names of a DataFrame's executed plan, through
  * adaptive-execution wrappers. */
object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def names(df: org.apache.spark.sql.DataFrame): Set[String] =
    collect(df.queryExecution.executedPlan) { case p =>
      p.nodeName +: p.expressions.flatMap(_.collect {
        // runtime-replaced functions survive as an Invoke on their evaluator
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _: org.apache.spark.sql.types.ObjectType)
            if v != null => v.getClass.getSimpleName
        case e => e.prettyName
      })
    }.flatten.toSet
}
