package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** One-time comparison for the olap and corpus families: each registry
  * query timed as `graft.Bench` times it (`count()`), as a write to Spark's
  * `noop` sink, and as this benchmark times it (construct + plan +
  * materialize of the planned query). Each figure is the minimum of
  * `reps` executions after one warm execution, each with the Ckpt release
  * and Debris sweep between executions, outside the timed window.
  *
  *   perfbench.CountVsNoop DATA_DIR WORK_DIR OUT_JSON REPS
  */
object CountVsNoop {
  def main(argv: Array[String]): Unit = {
    val Array(dataDir, work, out, repsArg) = argv
    val reps = repsArg.toInt
    val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
    Main.benchWarmup(spark, dataDir)
    val h = new Harness(spark, "count-vs-noop")
    val registry = graft.SparkEntry.queries
    val corpusFamily = graft.llm.Dedup.defs.keySet ++ graft.llm.SimSearch.defs.keySet ++
      graft.llm.Curation.defs.keySet
    val olapFamily = registry.keySet.filter(n =>
      n.startsWith("taxi_") || n.startsWith("tpch_") || n.startsWith("join_"))
    def once(name: String)(action: DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      val (_, release) = graft.core.Ckpt.collecting(action(registry(name)(spark, dataDir)))
      val t = (System.nanoTime() - t0) / 1e9
      release()
      graft.core.Debris.sweep(spark)
      t
    }
    val rows = (olapFamily.toSeq.sorted.map(_ -> "olap") ++
      corpusFamily.toSeq.sorted.map(_ -> "corpus")).map { case (name, family) =>
      try {
        val count: DataFrame => Unit = df => { df.count(); () }
        val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
        val bench: DataFrame => Unit = df => {
          df.queryExecution.executedPlan
          h.materialize(df, name); ()
        }
        once(name)(count)
        def best(a: DataFrame => Unit) = (1 to reps).map(_ => once(name)(a)).min
        Map("query" -> name, "family" -> family, "count_s" -> best(count),
          "noop_s" -> best(noop), "bench_s" -> best(bench))
      } catch {
        case e: Throwable => Map("query" -> name, "family" -> family, "error" -> e.toString)
      }
    }
    Files.write(Paths.get(out), Main.json.writerWithDefaultPrettyPrinter().writeValueAsBytes(rows))
    spark.stop()
  }
}
