package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One closed loop: a single client thread runs
  * a warm pass, then timed passes until `--seconds` have elapsed, and
  * writes the result object to `--out`.
  *
  *   perfbench.Main --workload olap|corpus|ingest --seed N --seconds S
  *     --trace 0|1 --data DIR --work DIR --out FILE --launch-ms EPOCH_MS
  *     [--expected FILE] [--ingest-spec FILE] [--record]
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The session `graft.Bench` builds, with the warehouse and the local
    * directories placed under the work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s session warm-up, with its flagship query read from the
    * benchmark's own data directory. */
  def benchWarmup(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.SparkEntry.queries("join_star_revenue")(spark, dataDir).count()
    spark.range(1)
      .selectExpr("explode(from_json('{\"a\":1}', 'map<string,int>')) AS (k, v)")
      .count()
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted average of
    * all order statistics. On the dozen or so unit executions of a run it
    * is far steadier than the one or two order statistics `percentile`
    * interpolates between. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  def main(argv: Array[String]): Unit = {
    def parse(rest: List[String]): List[(String, String)] = rest match {
      case "--record" :: tail => ("record" -> "1") :: parse(tail)
      case k :: v :: tail if k.startsWith("--") => (k.drop(2) -> v) :: parse(tail)
      case Nil => Nil
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val args = parse(argv.toList).toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val dataDir = args("data")
    val work = args("work")
    val launchMs = args("launch-ms").toLong
    val record = args.contains("record")
    val cpus = Runtime.getRuntime.availableProcessors
    val runId = s"$workload-$seed-$launchMs"

    def sinceLaunch: Double = (System.currentTimeMillis() - launchMs) / 1000.0
    val jvmStartS = (java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime - launchMs) / 1000.0
    val spark = session(cpus, work)
    val h = new Harness(spark, runId)
    val sessionS = sinceLaunch
    benchWarmup(spark, dataDir)
    val warmupS = sinceLaunch

    val expected: Map[String, Expected] = args.get("expected").map { f =>
      val m = json.readValue(new File(f), classOf[Map[String, Any]])
      m("queries").asInstanceOf[Map[String, Map[String, Any]]].map { case (k, v) =>
        k -> Expected(v("rows").toString.toLong,
          Option(v.getOrElse("fp", null)).map(x => java.lang.Long.parseUnsignedLong(x.toString, 16)))
      }
    }.getOrElse(Map.empty)

    val workloadImpl: Workload = workload match {
      case "olap" => new QueryWorkload(h, dataDir, QueryWorkload.olap, "queries", expected, seed)
      case "corpus" => new QueryWorkload(h, dataDir, QueryWorkload.corpus, "llm", expected, seed)
      case "ingest" => new IngestWorkload(h, args("ingest-spec"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def runPass(i: Int) = h.timed(s"pass $i", "perfbench")(workloadImpl.pass(i))._1

    // set-up ends with one untimed warm pass that fills SessionCache fits,
    // codegen and JIT; its outputs are checked like any other pass
    val workloadSetupS = sinceLaunch
    runPass(0)
    val setupS = sinceLaunch

    val passes = mutable.ArrayBuffer.empty[PassStats]
    val t0 = System.nanoTime()
    var i = 1
    // Whole passes: at least two untraced ones, and more while `seconds`
    // have not elapsed. A traced run alternates untraced and traced passes
    // and ends on an untraced one, so the overhead compares a traced pass
    // with the untraced passes on both sides of it.
    def done: Boolean = (System.nanoTime() - t0) / 1e9 >= seconds &&
      passes.count(!_.traced) >= 2 && !passes.last.traced && (!trace || passes.exists(_.traced))
    while (!done) {
      val tracedPass = trace && i % 2 == 0
      if (tracedPass) h.startTracing() else h.stopTracing()
      h.probe.reset()
      val j0 = Jvm.sample()
      val w0 = System.nanoTime()
      val (units, checkS, extra) = runPass(i)
      val wall = (System.nanoTime() - w0) / 1e9
      val j1 = Jvm.sample()
      if (tracedPass) h.drainBus()
      passes += PassStats(tracedPass, wall, checkS, (j1.cpuNs - j0.cpuNs) / 1e9,
        units, j0, j1, h.probe.snapshot(), extra)
      i += 1
    }
    h.stopTracing()
    val liveHeap = Jvm.liveHeapMb()

    val untraced = passes.filterNot(_.traced).toSeq
    val tracedPasses = passes.filter(_.traced).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def put(name: String, value: Double, unit: String): Unit =
      metrics(name) = Map("value" -> value, "unit" -> unit)
    if (!trace) {
      val lat = untraced.flatMap(_.units.filter(_.ok).map(_.latency))
      put("setup_s", setupS, "s")
      put("pass_s", median(untraced.map(_.passS)), "s")
      put("query_p50_s", hdQuantile(lat, 0.5), "s")
      put("query_p90_s", hdQuantile(lat, 0.9), "s")
      // JIT compilation is still half of the process CPU this early in a
      // JVM's life, and the share moves from run to run; it is reported as
      // jvm.jit_s and left out here
      put("cpu_s", median(untraced.map(p => p.cpuS - (p.jvm1.jitMs - p.jvm0.jitMs) / 1e3)), "s")
      put("live_heap_mb", liveHeap, "MB")
    } else {
      def med(f: PassStats => Double): Double = median(tracedPasses.map(f))
      def phase(f: UnitTimes => Double)(ps: PassStats): Double = ps.units.map(f).sum
      put("construct_s", med(phase(_.construct)), "s")
      put("construct_jobs", med(_.exec.jobsByPhase("construct").toDouble), "count")
      put("plans.plan_s", med(phase(_.plan)), "s")
      put("exec.materialize_s", med(phase(_.materialize)), "s")
      put("exec.jobs", med(_.exec.jobs.toDouble), "count")
      put("exec.stages", med(_.exec.stages.toDouble), "count")
      put("exec.tasks", med(_.exec.tasks.toDouble), "count")
      put("exec.task_run_s", med(_.exec.taskRunMs / 1e3), "s")
      put("exec.task_cpu_s", med(_.exec.taskCpuNs / 1e9), "s")
      put("exec.shuffle_write_mb", med(_.exec.shuffleWriteBytes / 1048576.0), "MB")
      put("exec.shuffle_read_mb", med(_.exec.shuffleReadBytes / 1048576.0), "MB")
      put("exec.spill_mb", med(_.exec.spillBytes / 1048576.0), "MB")
      put("exec.peak_exec_mem_mb", med(_.exec.peakExecMem / 1048576.0), "MB")
      put("exec.task_failures", tracedPasses.map(_.exec.taskFailures).sum.toDouble, "count")
      put("exec.codegen_compile_s", med(p => (p.jvm1.codegenNs - p.jvm0.codegenNs) / 1e9), "s")
      put("jvm.jit_s", med(p => (p.jvm1.jitMs - p.jvm0.jitMs) / 1e3), "s")
      put("jvm.gc_s", med(p => (p.jvm1.gcMs - p.jvm0.gcMs) / 1e3), "s")
      put("jvm.classes_loaded", med(p => (p.jvm1.classesLoaded - p.jvm0.classesLoaded).toDouble), "count")
      put("core.lifecycle_s", med(phase(_.lifecycle)), "s")
      IngestWorkload.perLayer.foreach { case (name, unit) =>
        put(name, med(_.extra.getOrElse(name, 0.0)), unit)
      }
      val tracedS = median(tracedPasses.map(_.passS))
      val untracedS = median(untraced.map(_.passS))
      put("trace.pass_s", tracedS, "s")
      put("trace.overhead_pct", 100.0 * (tracedS - untracedS) / untracedS, "%")
      put("trace.unaccounted_pct", med(p =>
        100.0 * (p.passS - p.units.map(_.total).sum) / p.passS), "%")
    }

    val unitMedians = passes.flatMap(_.units).groupBy(_.name).map { case (n, us) =>
      n -> Map("latency_s" -> median(us.map(_.latency).toSeq),
        "construct_s" -> median(us.map(_.construct).toSeq),
        "plan_s" -> median(us.map(_.plan).toSeq),
        "materialize_s" -> median(us.map(_.materialize).toSeq),
        "lifecycle_s" -> median(us.map(_.lifecycle).toSeq))
    }
    val report = mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "max_heap_mb" -> Jvm.maxHeapMb, "passes" -> passes.size,
      "untraced_pass_s" -> untraced.map(_.passS), "traced_pass_s" -> tracedPasses.map(_.passS),
      "untraced_pass_cpu_s" -> untraced.map(_.cpuS),
      "untraced_pass_jit_s" -> untraced.map(p => (p.jvm1.jitMs - p.jvm0.jitMs) / 1e3),
      "untraced_latencies_s" -> untraced.flatMap(_.units.filter(_.ok).map(_.latency)),
      "failures" -> h.failures.toSeq, "units" -> unitMedians,
      // seconds since launch at which each part of set-up ended
      "setup_timeline_s" -> Map("jvm_started" -> jvmStartS, "session" -> sessionS,
        "bench_warmup" -> warmupS, "workload_setup" -> workloadSetupS, "warm_pass" -> setupS))
    if (trace) {
      val traceFile = s"$work/trace-$runId.json"
      writeTrace(h, runId, traceFile)
      report("trace_file") = traceFile
    }
    if (workload == "ingest") report("steps") = IngestWorkload.stepTimes.map { k =>
      k -> median(passes.map(_.extra.getOrElse(k, 0.0)).toSeq)
    }.toMap
    Some(workloadImpl).collect { case w: QueryWorkload if record => w }.foreach { w =>
      report("observed") = w.observed.map { case (k, v) =>
        k -> v.map { case (r, f) => Map("rows" -> r, "fp" -> Fingerprint.hex(f)) }.toSeq
      }.toMap
    }
    val result = Map(
      "correct" -> (h.failed == 0),
      "attempted" -> h.attempted,
      "failed" -> h.failed,
      "metrics" -> metrics.toMap,
      "report" -> report.toMap)
    Files.write(Paths.get(args("out")), json.writeValueAsBytes(result))
    spark.stop()
  }

  /** Spans with their self time, and the jobs tied to them, for one run. */
  private def writeTrace(h: Harness, runId: String, file: String): Unit = {
    val children = h.spans.groupBy(_.parent).map { case (p, ss) =>
      p -> ss.map(s => s.endNs - s.startNs).sum
    }
    val spans = h.spans.map { s =>
      val dur = s.endNs - s.startNs
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "dur_s" -> dur / 1e9,
        "self_s" -> (dur - children.getOrElse(s.id, 0L)) / 1e9)
    }
    val jobs = h.probe.jobs.map { j =>
      Map("job" -> j.jobId, "span" -> j.span, "phase" -> j.phase,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)
    }
    Files.write(Paths.get(file), json.writeValueAsBytes(
      Map("run_id" -> runId, "spans" -> spans.toSeq, "jobs" -> jobs.toSeq)))
  }
}
