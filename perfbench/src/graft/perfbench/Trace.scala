package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the run's clock (epoch microseconds). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    t0: Long, t1: Long)

/** Epoch-microsecond clock with nanoTime resolution, on the same base as
  * the millisecond timestamps Spark's listener events carry. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** JVM-wide counters read around each traced op. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def jitS: Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime / 1e3 else 0.0
  }

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Wall seconds for fixed single-thread integer work: the xorshift
    * loop of `graft.Bench`'s spin probe. Identical work every time, so
    * its spread across runs is host speed, not the program. */
  def spinProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Spans and per-layer counters of the traced ops of one run. Spark's
  * job, task and plan events arrive on the listener bus; while an op is
  * traced, `currentOp` names it and every event is charged to it (the
  * bus is drained when a traced op opens and when it ends). Nothing is
  * written until the run ends. */
final class Trace(spark: SparkSession) {
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 1L
  @volatile private var currentOp = -1L
  @volatile private var currentRoot = 0L
  /** Job group of the open build/action span → that span's id. */
  private val groupSpan = mutable.Map.empty[String, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]

  def add(key: String, v: Double): Unit = lock.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def newId(): Long = lock.synchronized { nextId += 1; nextId - 1 }

  def record(s: Span): Unit = lock.synchronized { spans += s }

  def snapshot: (Seq[Span], Map[String, Double]) = lock.synchronized {
    (spans.toList, counters.toMap)
  }

  /** Open op `op`. Late events of the ops before it, traced or not,
    * are drained first, so none is charged to this one. */
  def begin(op: Long, root: Long): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    currentRoot = root
    currentOp = op
  }

  def end(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    currentOp = -1L
    lock.synchronized { groupSpan.clear(); jobStart.clear() }
  }

  /** Time `body` as a child span of `op`. Spark jobs started inside it
    * run under a job group naming the span, so the listener can hang
    * them below it. */
  def span[T](op: Long, parent: Long, name: String)(body: => T): T = {
    val id = newId()
    val group = s"op$op:$name"
    lock.synchronized { groupSpan(group) = id }
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = Clock.nowUs
    try body
    finally {
      record(Span(id, parent, op, name, t0, Clock.nowUs))
      spark.sparkContext.clearJobGroup()
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (currentOp < 0) return
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      lock.synchronized { jobStart(e.jobId) = (e.time, group) }
      add("exec.jobs", 1)
      if (group.endsWith(":build")) add("queries.build_jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = currentOp
      if (op < 0) return
      lock.synchronized {
        jobStart.remove(e.jobId).foreach { case (t0, group) =>
          val parent = groupSpan.getOrElse(group, currentRoot)
          spans += Span(nextId, parent, op, "exec.job", t0 * 1000L,
            e.time * 1000L)
          nextId += 1
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (currentOp >= 0) add("exec.stages", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (currentOp < 0) return
      val info = e.taskInfo
      add("exec.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      add("exec.task_s", info.duration / 1e3)
      val m = e.taskMetrics
      if (m == null) return
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      add("exec.sched_delay_s", math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult) / 1e3)
      add("exec.input_records", m.inputMetrics.recordsRead)
      add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("exec.shuffle_write_mb",
        m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1048576.0)
      add("exec.spill_mb",
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("exec.result_mb", m.resultSize / 1048576.0)
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)

    private def phases(qe: QueryExecution): Unit = {
      val op = currentOp
      if (op < 0) return
      add("plans.actions", 1)
      for ((phase, ph) <- qe.tracker.phases) {
        if (Set("analysis", "optimization", "planning")(phase)) {
          add(s"plans.${phase}_s", ph.durationMs / 1e3)
          record(Span(newId(), currentRoot, op, s"plans.$phase",
            ph.startTimeMs * 1000L, ph.endTimeMs * 1000L))
        }
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }
}
