package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.core.Ckpt._
import graft.etl.{Normalize, Pipeline, Writers}
import graft.streaming.{DedupGate, EventStreams}

/** The ingest workload: the reference's batch loader followed by three
  * streaming drains, over inputs that `gen_ingest.py` generated from the
  * seed and set-up turned into parquet. A pass writes into a fresh warehouse:
  *
  *  1. `Pipeline.refreshZones` on the zones CSV;
  *  2. per month, `Normalize.normalizeTripsObserved` + `withTripId` and
  *     `Writers.writeTripsMonthly`;
  *  3. one month again (the idempotent overwrite);
  *  4. `Writers.compactParquet` on the trips table;
  *  5. `DedupGate.gate` (against a corpus index checkpointed once per
  *     run), `EventStreams.dedupStream` and
  *     `EventStreams.tumblingCounts`, each drained from many small files
  *     with `Trigger.AvailableNow`.
  *
  * Checks (row counts, and stream outputs against their batch results)
  * run after the step they check; their time is left out of `pass_s`. */
final class IngestWorkload(h: Harness, specFile: String, work: String) extends Workload {
  private val spark = h.spark
  private val spec = Main.json.readValue(new File(specFile), classOf[Map[String, Any]])
  private def num(m: Map[String, Any], k: String): Long = m(k).toString.toLong
  private val months = spec("months").asInstanceOf[Seq[Map[String, Any]]]
  private val reloadIdx = num(spec, "reload_month").toInt
  private val landedTotal = num(spec, "landed_total")
  private val filesPerTrigger = num(spec, "max_files_per_trigger").toString
  IngestWorkload.toParquet(spark, spec("raw").asInstanceOf[Seq[Map[String, Any]]])
  private val docsSchema = spark.read.parquet(spec("docs_corpus").toString).schema

  private def docsStream: DataFrame = spark.readStream.schema(docsSchema)
    .option("maxFilesPerTrigger", filesPerTrigger).parquet(spec("docs_incoming_dir").toString)
  private def eventStream: DataFrame = spark.readStream.schema(EventStreams.eventSchema)
    .option("maxFilesPerTrigger", filesPerTrigger).parquet(spec("events_dir").toString)
  private val minJaccard = 0.2
  /** The gate's static side, built and checkpointed once per run as a
    * deployment would keep it; it outlives every pass. */
  private val gateIndex: DataFrame = graft.core.Ckpt.retained {
    DedupGate.corpusIndex(spark.read.parquet(spec("docs_corpus").toString)).ckpt()
  }

  /** Batch results the stream outputs must equal, computed once. */
  private val batchEvents =
    spark.read.schema(EventStreams.eventSchema).parquet(spec("events_dir").toString)
  private val expectedStreams: Map[String, (Long, Long)] = Map(
    "gate" -> h.materialize(DedupGate.gate(
      spark.read.schema(docsSchema).parquet(spec("docs_incoming_dir").toString),
      gateIndex, minJaccard), "gate batch"),
    // dropDuplicatesWithinWatermark is streaming-only; its batch result is
    // the plain dedup on the same key
    "dedup" -> h.materialize(batchEvents.dropDuplicates("event_id"), "dedup batch"),
    "tumbling" -> h.materialize(EventStreams.tumblingCounts(batchEvents), "tumbling batch"))
  require(expectedStreams("dedup")._1 == num(spec, "events_distinct"),
    s"batch dedup kept ${expectedStreams("dedup")._1} events, the generator expects " +
      s"${num(spec, "events_distinct")}")

  private def dirStats(path: String): (Long, Long) = {
    val files = Option(new File(path)).filter(_.exists).toSeq.flatMap(walk)
      .filter(f => f.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
  def pass(index: Int): (Seq[UnitTimes], Double, Map[String, Double]) = {
    val wh = s"$work/ingest/pass-$index"
    val trips = s"$wh/taxi_trips"
    val conf = Pipeline.Conf(tripsSource = "", zonesSource = spec("zones_csv").toString,
      warehouse = wh)
    val units = mutable.ArrayBuffer.empty[UnitTimes]
    var checkS = 0.0
    var (rowsIn, rowsRejected, landed) = (0L, 0L, 0L)
    var swept = (0L, 0L)
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    def check(unit: String)(ok: => Option[String]): Unit = {
      val t0 = System.nanoTime()
      try ok.foreach(cause => h.fail(unit, index, cause))
      catch { case e: Throwable => h.fail(unit, index, s"check threw ${e.getClass.getName}: ${e.getMessage}") }
      checkS += (System.nanoTime() - t0) / 1e9
    }
    def countOf(path: String): Long = spark.read.parquet(path).count()

    /** One step: construct, materialize, then the Ckpt release and Debris
      * sweep. `materialize` returns the planning seconds Spark reports for
      * steps that plan inside the materializing call. False if it threw. */
    def step[A](name: String, layer: String)(construct: => A)(materialize: A => Double): Boolean = {
      h.attempted += 1
      var (c, p, m, l) = (0.0, 0.0, 0.0, 0.0)
      var ok = true
      h.timed(name, layer) {
        val (_, release) = graft.core.Ckpt.collecting {
          try {
            val (built, tc) = h.timed("construct", layer, "construct")(construct)
            c = tc
            val (planned, tm) = h.timed("materialize", layer, "materialize")(materialize(built))
            p = planned
            m = tm - planned
          } catch {
            case e: Throwable =>
              ok = false
              h.fail(name, index, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
          }
        }
        l = h.timed("lifecycle", "core", "lifecycle") {
          release()
          val (b, s) = graft.core.Debris.sweep(spark)
          swept = (swept._1 + b, swept._2 + s)
        }._2
      }
      units += UnitTimes(name, c, p, m, l, ok)
      ok
    }

    if (step("etl.zones", "etl")(()) { _ => Pipeline.refreshZones(spark, conf); 0.0 })
    check("etl.zones") {
      val n = countOf(s"$wh/taxi_zones")
      if (n == num(spec, "zones_landed")) None
      else Some(s"zones: expected ${num(spec, "zones_landed")} rows, got $n")
    }

    def load(name: String, m: Map[String, Any]): Unit = {
      var obs: org.apache.spark.sql.Observation = null
      val ok = step(name, "etl") {
        val (df, o) = Normalize.normalizeTripsObserved(spark.read.parquet(m("path").toString))
        obs = o
        Normalize.withTripId(df)
      } { df => Writers.writeTripsMonthly(df, trips); 0.0 }
      // the observation is only filled by a write that ran
      if (ok) check(name) {
        val got = obs.get
        def g(k: String): Long = Option(got.getOrElse(k, 0L)).map(_.toString.toLong).getOrElse(0L)
        rowsIn += g("rows_in"); rowsRejected += g("rows_rejected")
        landed += g("rows_in") - g("rows_rejected")
        Seq("rows_in", "rows_rejected", "null_passengers").collectFirst {
          case k if g(k) != num(m, k) => s"${m("month")} $k: expected ${num(m, k)}, got ${g(k)}"
        }
      }
    }
    months.zipWithIndex.foreach { case (m, i) => load(s"etl.load.$i", m) }
    var beforeReload = -1L
    check("etl.reload") {
      beforeReload = countOf(trips)
      if (beforeReload == landedTotal) None
      else Some(s"landed rows: expected $landedTotal, got $beforeReload")
    }
    load("etl.reload", months(reloadIdx))
    check("etl.reload") {
      val n = countOf(trips)
      if (n == beforeReload) None else Some(s"reload changed the row count: $beforeReload -> $n")
    }
    val (filesLoaded, bytesLoaded) = Seq("taxi_trips", "taxi_zones")
      .map(t => dirStats(s"$wh/$t")).reduce((a, b) => (a._1 + b._1, a._2 + b._2))

    var compacted = 0
    if (step("etl.compact", "etl")(()) { _ => compacted = Writers.compactParquet(spark, trips); 0.0 })
    check("etl.compact") {
      val n = countOf(trips)
      if (n == landedTotal) None else Some(s"compaction: expected $landedTotal rows, got $n")
    }
    val (_, storedBytes) = dirStats(trips)

    // streaming drains: many small files, several micro-batches each
    def drain(name: String, mode: String)(build: => DataFrame): Unit = {
      val table = s"pb_${name}_$index"
      val ok = step(s"streaming.$name", "streaming")(build) { df =>
        val q = df.writeStream.outputMode(mode).format("memory")
          .queryName(table).option("checkpointLocation", s"$wh/checkpoints/$name")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        progress ++= q.recentProgress
        q.recentProgress.map(p => Option(p.durationMs.get("queryPlanning")).map(_.toLong).getOrElse(0L)).sum / 1e3
      }
      if (ok) check(s"streaming.$name") {
        val got = h.materialize(spark.table(table), table)
        spark.catalog.dropTempView(table)
        val want = expectedStreams(name)
        if (got == want) None
        else Some(s"stream $name: ${got._1} rows ${Fingerprint.hex(got._2)}, " +
          s"batch ${want._1} rows ${Fingerprint.hex(want._2)}")
      }
    }
    drain("gate", "append")(DedupGate.gate(docsStream, gateIndex, minJaccard))
    drain("dedup", "append")(EventStreams.dedupStream(eventStream))
    drain("tumbling", "complete")(EventStreams.tumblingCounts(eventStream))

    val t0 = System.nanoTime()
    IngestWorkload.rm(new File(wh))
    checkS += (System.nanoTime() - t0) / 1e9

    def unitS(prefix: String): Double = units.filter(_.name.startsWith(prefix)).map(_.latency).sum
    def dur(k: String): Double = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble
    val finals = progress.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val state = finals.flatMap(_.stateOperators.toSeq)
    val loadS = unitS("etl.load") + unitS("etl.reload")
    val extra = Map(
      "core.swept_broadcasts" -> swept._1.toDouble,
      "core.swept_shuffles" -> swept._2.toDouble,
      "etl.rows_in" -> rowsIn.toDouble,
      "etl.rows_rejected" -> rowsRejected.toDouble,
      "etl.files_written" -> (filesLoaded + compacted).toDouble,
      "etl.bytes_written_mb" -> (bytesLoaded + storedBytes) / 1048576.0,
      "etl.rows_per_s" -> landed / loadS,
      "etl.bytes_per_row" -> storedBytes.toDouble / landedTotal,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.events_per_s" -> progress.map(_.numInputRows).sum / unitS("streaming."),
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mem_mb" -> state.map(_.memoryUsedBytes).sum / 1048576.0,
      // ingest-only step times, reported beside the metrics
      "etl.zones_s" -> unitS("etl.zones"),
      "etl.load_s" -> unitS("etl.load"),
      "etl.reload_s" -> unitS("etl.reload"),
      "etl.compact_s" -> unitS("etl.compact"),
      "streaming.drain_s" -> unitS("streaming."),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.state_commit_ms" -> state.map(_.commitTimeMs).sum.toDouble)
    (units.toSeq, checkS, extra)
  }
}

object IngestWorkload {
  private val tripColumns: Seq[(String, DataType)] = Seq(
    "VendorID" -> LongType, "PULocationID" -> LongType, "DOLocationID" -> LongType,
    "passenger_count" -> DoubleType, "trip_distance" -> DoubleType,
    "RatecodeID" -> DoubleType, "store_and_fwd_flag" -> StringType,
    "payment_type" -> LongType, "fare_amount" -> DoubleType, "extra" -> DoubleType,
    "mta_tax" -> DoubleType, "tip_amount" -> DoubleType, "tolls_amount" -> DoubleType,
    "improvement_surcharge" -> DoubleType, "total_amount" -> DoubleType,
    "congestion_surcharge" -> DoubleType)
  private def struct(cols: Seq[(String, DataType)]): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** The parquet schemas of the generator's files: green months ship
    * `lpep_*` timestamps as strings, yellow months `tpep_*` as typed
    * local timestamps, as the TLC files do. */
  private val rawSchemas: Map[String, StructType] = Map(
    "green" -> struct(tripColumns ++ Seq("lpep_pickup_datetime" -> StringType,
      "lpep_dropoff_datetime" -> StringType, "trip_type" -> DoubleType)),
    "yellow" -> struct(tripColumns ++ Seq("tpep_pickup_datetime" -> TimestampNTZType,
      "tpep_dropoff_datetime" -> TimestampNTZType, "Airport_fee" -> DoubleType)),
    "docs" -> struct(Seq("doc_id" -> LongType, "text" -> StringType)),
    "events" -> EventStreams.eventSchema)

  /** Turn each JSON-lines file `gen_ingest.py` wrote into the parquet
    * files the workload reads, one Spark job per file: its rows are tagged
    * with the index of their parquet file in `_file`. Runs in set-up. */
  def toParquet(spark: SparkSession, files: Seq[Map[String, Any]]): Unit = files.foreach { f =>
    val targets = f("parquet").asInstanceOf[Seq[String]]
    val tmp = new File(targets.head + ".tmp")
    val schema = rawSchemas(f("schema").toString).add("_file", IntegerType)
    spark.read.schema(schema).option("mode", "FAILFAST").json(f("json").toString)
      .coalesce(1).write.partitionBy("_file").parquet(tmp.getPath)
    targets.zipWithIndex.foreach { case (target, k) =>
      val dir = new File(tmp, s"_file=$k")
      val part = Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet")) match {
        case Seq(p) => p
        case ps => sys.error(s"expected one parquet file in $dir, found ${ps.size}")
      }
      Files.move(part.toPath, new File(target).toPath)
    }
    rm(tmp)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** Per-layer metrics that a pass reports through its extra map; they
    * read 0 on workloads that do not call the layer. */
  val perLayer: Seq[(String, String)] = Seq(
    "core.swept_broadcasts" -> "count", "core.swept_shuffles" -> "count",
    "etl.rows_in" -> "count", "etl.rows_rejected" -> "count",
    "etl.files_written" -> "count", "etl.bytes_written_mb" -> "MB",
    "etl.rows_per_s" -> "1/s", "etl.bytes_per_row" -> "B",
    "streaming.batches" -> "count", "streaming.events_per_s" -> "1/s",
    "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB")

  /** Ingest-only step times: in the report, not in the metric set, since
    * the metric set is printed for every workload. */
  val stepTimes: Seq[String] = Seq("etl.zones_s", "etl.load_s", "etl.reload_s",
    "etl.compact_s", "streaming.drain_s", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.wal_commit_ms", "streaming.state_commit_ms")
}
