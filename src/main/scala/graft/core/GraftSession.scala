package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's only session builder. Every entry point and the test
  * suite get their session here, so numbers taken at different entry
  * points run one configuration:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions, where `cpus` is
  *    `SPARK_GRAFT_CPUS` or, when that is unset, the JVM's processor count;
  *  - AQE on, session time zone UTC, UI off, log level WARN;
  *  - `spark.sql.extensions=graft.plans.GraftExtensions`, the one install
  *    point of the graft SQL functions, UDAFs and native join strategies;
  *  - parquet timestamps written as INT64 micros: INT96 (Spark's
  *    compatibility default) carries no usable min/max stats.
  *
  * A role differs from that only where its case below says why.
  */
object GraftSession {

  object Role extends Enumeration {
    val Bench, Verify, TimeQuery, Explain, Ingest, Stream, StreamBench,
      GenScale, CcBench, RangeBench, ScaleBench, Test = Value
  }

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(role: Role.Value): SparkSession = {
    import Role._
    // Test: 16 threads run the sf1-fixture anchors in parallel, while 4
    // shuffle partitions pin the plan shapes and partition-id-dependent
    // machinery the suites assert on, whatever the host's core count
    val (threads, partitions) = if (role == Test) (16, 4) else (cpus, cpus)
    val b = SparkSession.builder()
      // Ingest: SPARK_MASTER points the loader at a cluster
      .master(if (role == Ingest) sys.env.getOrElse("SPARK_MASTER", s"local[$threads]")
        else s"local[$threads]")
      .appName(s"graft-${role.toString.toLowerCase(java.util.Locale.ROOT)}")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Verify: INT64-micros timestamps carry isAdjustedToUTC=true, which
      // DuckDB surfaces as TIMESTAMP WITH TIME ZONE ("+00:00" suffix), so
      // every timestamp-valued result would string-mismatch the oracle's
      // naive TIMESTAMP; INT96 reads back naive on the DuckDB side
      .config("spark.sql.parquet.outputTimestampType",
        if (role == Verify) "INT96" else "TIMESTAMP_MICROS")
    // Stream, StreamBench: transformWithState (running totals, the CUSUM
    // drift gate) runs only on the RocksDB state store
    if (role == Stream || role == StreamBench)
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Bench: the layout demo's saveAsTable would hit "location not empty"
    // against a leftover spark-warehouse/ from an earlier run (the
    // in-memory catalog forgets tables across JVMs)
    if (role == Bench) b.config("spark.sql.warehouse.dir", freshWarehouse())
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A temporary warehouse, deleted on exit so repeated runs don't fill
    * the temp volume with bucketed table copies. */
  private def freshWarehouse(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-wh")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir.toString
  }
}
