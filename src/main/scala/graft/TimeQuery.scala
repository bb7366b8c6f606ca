package graft

import graft.core.GraftSession

/** Single-query timing harness: runs one registered query N times in one
  * JVM so steady-state cost separates from first-run codegen/JIT warmup
  * (this host also shows heavy scheduler noise — compare MINIMA, not runs).
  *
  *   runMain graft.TimeQuery <query> [sfDir] [runs]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.TimeQuery <query> [sfDir] [runs]")
    val name = args(0)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.build(GraftSession.Role.TimeQuery)
    // SPARK_GRAFT_WARM=1: absorb the UNIVERSAL first-job runtime init
    // (codegen compiler, shuffle machinery, scan JIT — measured ~7 s on
    // run1 of even a trivial-plan query) with the same warmup Bench
    // runs, so run1 then measures the QUERY's own cold cost (plan
    // analysis + its codegen + cache-cold scans), not Spark's.
    if (sys.env.get("SPARK_GRAFT_WARM").contains("1")) {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
      spark.range(1)
        .selectExpr(
          "explode(from_json('{\"a\":1}', 'map<string,int>')) AS (k, v)")
        .count()
    }
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val (n, release) = graft.core.Ckpt.collecting {
        SparkEntry.queries(name)(spark, sf).count()
      }
      println(f"[timequery] run$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      // untimed, between runs: same deterministic lifecycle Bench uses
      // (ckpt release r14, broadcast/shuffle sweep r15), so run-i's dead
      // blocks can't tax run-i+1
      release()
      graft.core.Debris.sweep(spark): Unit
    }
    spark.stop()
  }
}
