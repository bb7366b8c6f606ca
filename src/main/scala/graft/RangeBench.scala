package graft

import org.apache.spark.sql.DataFrame
import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** DEV harness: point-in-interval join head-to-head (the CcBench
  * evidence pattern) — the same containment workload through three
  * plans:
  *
  *   - `bnlj`: the naive range predicate Spark plans as
  *     BroadcastNestedLoopJoin (every point scans every interval);
  *   - `bucketed`: [[graft.ops.IntervalJoin]]'s exploded equi-join (the
  *     shuffle-based form for data-sized interval tables);
  *   - `native`: [[graft.plans.RangeNative]]'s broadcast range join
  *     (sorted starts + prefix-max ends, binary-search probes).
  *
  * All three must agree on count (asserted); wall seconds printed as one
  * JSON line. runMain graft.RangeBench [sfDir] [runs]
  */
object RangeBench {
  def main(args: Array[String]): Unit = {
    val sf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.build(GraftSession.Role.RangeBench)

    def intervals(): DataFrame = graft.core.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("ts").as("iv_start"),
        (col("ts") + expr("interval 90 minutes")).as("iv_end"))
    def points(): DataFrame = graft.core.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id").as("pt_id"), col("ts"))

    def bnlj(): DataFrame = {
      val p = points(); val i = intervals()
      p.join(broadcast(i),
        p("ts") >= i("iv_start") && p("ts") < i("iv_end"))
    }
    def bucketed(): DataFrame = graft.ops.IntervalJoin
      .joinPointInInterval(points(), intervals(), "ts", "iv_start", "iv_end")
    def native(): DataFrame = graft.plans.RangeNative
      .joinRangeNative(points(), intervals(), "ts", "iv_start", "iv_end")

    val variants = Seq("bnlj" -> (() => bnlj()),
      "bucketed" -> (() => bucketed()), "native" -> (() => native()))
    val counts = variants.map { case (n, f) => n -> f().count() }
    require(counts.map(_._2).distinct.size == 1,
      s"variants disagree: $counts")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val times = variants.map { case (n, f) =>
      f().count() // warmup
      n -> med((1 to runs).map { _ =>
        val t0 = System.nanoTime(); f().count()
        (System.nanoTime() - t0) / 1e9
      })
    }
    val nPts = points().count(); val nIvs = intervals().count()
    println(f"""[rangebench] {"points":$nPts,"intervals":$nIvs,""" +
      f""""matches":${counts.head._2},""" +
      times.map { case (n, t) => f""""${n}_sec":$t%.3f""" }
        .mkString(",") + "}")
    spark.stop()
  }
}
