package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Job group names the client thread sets around its calls, so the
  * listener can attribute jobs to the op that submitted them. Jobs of a
  * streaming micro-batch carry the query id instead and count as `stream`.
  */
object Groups {
  val Stream = "stream"
  val Publish = "publish"
  val Get = "get"
  val Scan = "scan"
  val Query = "query"
  val Other = "other"

  /** Runs `body` with `group` as the client thread's job group. */
  def within[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** Totals of the Spark work attributed to one group. */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var jobWallMs = 0L
}

/** Per-layer counters from Spark's public listeners. Registered only for
  * the traced half of a run; `close` removes them again.
  */
final class Trace(spark: SparkSession) {
  private val totals = new ConcurrentHashMap[String, GroupTotals]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private var analysisMs, optimizationMs, planningMs = 0L
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def of(group: String): GroupTotals =
    totals.computeIfAbsent(group, _ => new GroupTotals)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val group =
        if (p.exists(_.getProperty("sql.streaming.queryId") != null)) Groups.Stream
        else p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(Groups.Other)
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, group))
      of(group).synchronized { of(group).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val group = jobGroup.getOrDefault(e.jobId, Groups.Other)
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      of(group).synchronized { of(group).jobWallMs += e.time - t0 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = of(stageGroup.getOrDefault(e.stageInfo.stageId, Groups.Other))
      g.synchronized { g.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = of(stageGroup.getOrDefault(e.stageId, Groups.Other))
      val m = e.taskMetrics
      g.synchronized {
        g.tasks += 1
        if (m != null) {
          g.runMs += m.executorRunTime
          g.cpuNs += m.executorCpuTime
          g.gcMs += m.jvmGCTime
          g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          g.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
    }
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  /** Waits until every event posted so far has reached the listeners. */
  def settle(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  def close(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  /** Forgets everything counted so far (work done before a window). */
  def reset(): Unit = {
    settle()
    totals.clear()
    synchronized { analysisMs = 0; optimizationMs = 0; planningMs = 0 }
    progress.synchronized(progress.clear())
  }

  def group(g: String): GroupTotals = of(g)
  def all: GroupTotals = {
    val t = new GroupTotals
    totals.values.asScala.foreach { g =>
      t.jobs += g.jobs; t.stages += g.stages; t.tasks += g.tasks; t.runMs += g.runMs
      t.cpuNs += g.cpuNs; t.gcMs += g.gcMs; t.delayMs += g.delayMs
      t.shuffleBytes += g.shuffleBytes; t.spillBytes += g.spillBytes; t.jobWallMs += g.jobWallMs
    }
    t
  }

  /** Catalyst phase totals (ms) over every execution the listener saw. */
  def catalyst: (Long, Long, Long) = synchronized((analysisMs, optimizationMs, planningMs))

  /** Writes the scheduler, exec and catalyst rows for `ops` client ops over
    * a window of `wallS` seconds on `slots` task slots.
    */
  def report(r: Report, ops: Long, wallS: Double, slots: Int): Unit = {
    settle()
    val t = all
    val (an, opt, pl) = catalyst
    val n = ops.toDouble
    r.put("catalyst.analysis_ms_per_op", Stats.ratio(an, n), "ms", ops)
    r.put("catalyst.optimization_ms_per_op", Stats.ratio(opt, n), "ms", ops)
    r.put("catalyst.planning_ms_per_op", Stats.ratio(pl, n), "ms", ops)
    r.put("scheduler.jobs_per_op", Stats.ratio(t.jobs, n), "count", ops)
    r.put("scheduler.stages_per_op", Stats.ratio(t.stages, n), "count", ops)
    r.put("scheduler.tasks_per_op", Stats.ratio(t.tasks, n), "count", ops)
    r.put("scheduler.delay_ms_per_task", Stats.ratio(t.delayMs, t.tasks), "ms", t.tasks)
    r.put("exec.run_ms_per_op", Stats.ratio(t.runMs, n), "ms", ops)
    r.put("exec.cpu_ms_per_op", Stats.ratio(t.cpuNs / 1e6, n), "ms", ops)
    r.put("exec.gc_ms_per_op", Stats.ratio(t.gcMs, n), "ms", ops)
    r.put("exec.shuffle_bytes_per_op", Stats.ratio(t.shuffleBytes, n), "B", ops)
    r.put("exec.spill_bytes_per_op", Stats.ratio(t.spillBytes, n), "B", ops)
    r.put("exec.busy_share", Stats.ratio(t.runMs / 1000.0, wallS * slots), "ratio", t.tasks)
  }
}

/** Process CPU, GC time and heap peak over a window. */
final class JvmWindow {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heap.foreach(_.resetPeakUsage())
  private val cpu0 = os.getProcessCpuTime
  private val gc0 = gcs.map(_.getCollectionTime).sum

  def report(r: Report): Unit = {
    r.put("jvm.cpu_s", (os.getProcessCpuTime - cpu0) / 1e9, "s", 1)
    r.put("jvm.gc_ms", (gcs.map(_.getCollectionTime).sum - gc0).toDouble, "ms", 1)
    r.put("jvm.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB", 1)
  }
}
