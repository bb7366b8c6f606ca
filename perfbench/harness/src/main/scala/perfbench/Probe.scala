package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Counters read from outside the engine: a SparkListener for jobs,
  * stages and tasks, and JVM MXBeans for CPU, GC, JIT and class loading.
  * Nothing here changes what the engine does; the listener is registered
  * only for traced passes. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val classes = ManagementFactory.getClassLoadingMXBean

  final case class Sample(cpuNs: Long, gcMs: Long, jitMs: Long,
                          classesLoaded: Long, codegenNs: Long)

  def sample(): Sample = Sample(
    os.getProcessCpuTime,
    gcs.map(_.getCollectionTime.max(0L)).sum,
    if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
    classes.getTotalLoadedClassCount,
    CodeGenerator.compileTime)

  /** Heap in use after full collections: what the run retains. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** One layer call of a traced pass. `parent` is -1 for a pass root. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, var endNs: Long = 0L)

/** A Spark job seen by the listener, tied to the span that was open when
  * it started through the job group the harness sets. */
final case class JobRec(jobId: Int, span: String, phase: String,
                        startMs: Long, var endMs: Long = 0L)

/** Per-pass totals of the listener's task and stage events. */
final class ExecTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val jobsByPhase: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

final class Probe extends SparkListener {
  private var totals = new ExecTotals
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  private val open = mutable.Map.empty[Int, JobRec]

  def reset(): Unit = synchronized { totals = new ExecTotals }
  def snapshot(): ExecTotals = synchronized { totals }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(Probe.GroupKey))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(Probe.PhaseKey))).getOrElse("other")
    val rec = JobRec(e.jobId, group, phase, e.time)
    open(e.jobId) = rec
    jobs += rec
    totals.jobs += 1
    totals.jobsByPhase(phase) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals.tasks += 1
    if (e.reason != Success) totals.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      totals.taskRunMs += m.executorRunTime
      totals.taskCpuNs += m.executorCpuTime
      totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      totals.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      totals.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      totals.peakExecMem = totals.peakExecMem.max(m.peakExecutionMemory)
    }
  }
}

object Probe {
  val PhaseKey = "perfbench.phase"
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}
