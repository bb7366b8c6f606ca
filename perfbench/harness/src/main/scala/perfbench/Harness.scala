package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Times units of work as construct → plan → materialize → lifecycle,
  * each phase timed from outside by the call into its layer. In a traced
  * pass every call is also a [[Span]], and Spark jobs are tied to spans by
  * the job group set here. */
final class Harness(val spark: SparkSession, runId: String) {
  val sc = spark.sparkContext
  val probe = new Probe
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var traced = false
  private var nextSpan = 0
  private val stack = mutable.Stack[Span]()

  /** Operations attempted and failed in this run; the first 100 failures
    * keep their cause for the report. */
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty

  def fail(unit: String, pass: Int, cause: String): Unit = {
    failed += 1
    if (failures.size < 100) failures += Map("unit" -> unit, "pass" -> pass, "cause" -> cause)
  }

  def startTracing(): Unit = if (!traced) {
    BusShim.drain(sc); probe.reset(); sc.addSparkListener(probe); traced = true
  }
  def stopTracing(): Unit = if (traced) {
    BusShim.drain(sc); sc.removeSparkListener(probe); traced = false
    sc.clearJobGroup(); sc.setLocalProperty(Probe.PhaseKey, null)
  }
  def drainBus(): Unit = BusShim.drain(sc)

  /** Time `body` as one layer call. Returns the result and its seconds. */
  def timed[A](name: String, layer: String, phase: String = null)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!traced) {
      val a = body
      return (a, (System.nanoTime() - t0) / 1e9)
    }
    val s = Span(nextSpan, stack.headOption.map(_.id).getOrElse(-1), name, layer, t0)
    nextSpan += 1
    spans += s
    stack.push(s)
    val prevGroup = sc.getLocalProperty(Probe.GroupKey)
    val prevPhase = sc.getLocalProperty(Probe.PhaseKey)
    sc.setJobGroup(s"$runId/${s.id}", name, interruptOnCancel = false)
    if (phase != null) sc.setLocalProperty(Probe.PhaseKey, phase)
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      stack.pop()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      sc.setLocalProperty(Probe.PhaseKey, prevPhase)
    }
  }

  /** Full materialization of an already planned query: every row is pulled
    * through the physical plan that the plan phase built, inside a SQL
    * execution as a Dataset action would run it, and discarded after it is
    * folded into the row count and fingerprint. */
  def materialize(df: DataFrame, name: String): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var fp = 0L
        while (it.hasNext) { fp += Fingerprint.row(it.next(), schema); n += 1 }
        Iterator.single((n, fp))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

/** A workload runs one pass at a time: its units, the seconds its checks
  * took (left out of `pass_s`), and per-layer figures of its own. */
trait Workload {
  def pass(index: Int): (Seq[UnitTimes], Double, Map[String, Double])
}

/** One unit's phase seconds; `ok` is false when any phase threw. */
final case class UnitTimes(name: String, construct: Double, plan: Double,
                           materialize: Double, lifecycle: Double, ok: Boolean) {
  def latency: Double = construct + plan + materialize
  def total: Double = latency + lifecycle
}

/** Stats of one pass, untraced or traced. */
final case class PassStats(traced: Boolean, wallS: Double, checkS: Double,
                           cpuS: Double, units: Seq[UnitTimes], jvm0: Jvm.Sample,
                           jvm1: Jvm.Sample, exec: ExecTotals,
                           extra: Map[String, Double]) {
  def passS: Double = wallS - checkS
}
