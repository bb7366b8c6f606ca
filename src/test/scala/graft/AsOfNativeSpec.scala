package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, LessThan, Literal}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinExec, AsOfNative}

/** The native as-of operator (logical node + strategy + sort-merge exec)
  * against the composed union+window formulation that the DuckDB ASOF
  * oracle already hash-checks — plus plan-shape and NULL-semantics
  * assertions the oracle can't express. */
class AsOfNativeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def purchases(extra: String*): DataFrame =
    graft.core.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select((Seq("event_id", "user_id", "ts") ++ extra).map(col): _*)

  private def clicks(tsName: String): DataFrame =
    graft.core.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as(tsName))

  // AQE stage boundaries (AdaptiveSparkPlanExec, QueryStageExec) report no
  // children — recurse through their wrapped plans explicitly
  private def collectExec(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: collectExec(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: collectExec(q.plan)
    case other => p +: (other.children ++ other.subqueries).flatMap(collectExec)
  }

  test("native backward as-of equals the oracle-checked window formulation") {
    val native = graft.queries.EventsBatch.defs("join_asof_native")(spark, sf)
    val composed = graft.queries.EventsBatch.defs("join_asof")(spark, sf)
    assert(native.count() === composed.count())
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("native forward as-of equals the oracle-checked forward formulation") {
    val native =
      graft.queries.EventsBatch.defs("join_asof_native_forward")(spark, sf)
    val composed =
      graft.queries.EventsBatch.defs("join_asof_forward")(spark, sf)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("plan shape: AsOfJoinExec with one hash exchange per side, no window") {
    val df = AsOfNative.joinAsOfNative(purchases(), clicks("click_ts"),
      Seq("user_id"), Seq("c_user_id"), "ts", "click_ts")
    df.collect()
    val nodes = collectExec(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]), "native exec missing")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "native path must not fall back to a window")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 2, s"expected ≤2 exchanges (one per side), saw $shuffles")
  }

  test("key-pushdown rule mirrors left-key predicates onto the right side") {
    val df = AsOfNative.joinAsOfNative(purchases(), clicks("click_ts"),
        Seq("user_id"), Seq("c_user_id"), "ts", "click_ts")
      .filter(col("user_id") < 10)
    val optimized = df.queryExecution.optimizedPlan
    val asof = optimized.collect { case j: graft.plans.AsOfJoin => j }.head
    // the mirrored `< 10` lands on the right side, and Catalyst's own
    // pushdown then carries it through the alias Project to the scan
    val rightFiltered = asof.right.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.exists {
          case LessThan(_: Attribute, l: Literal) => l.value == 10L
          case _ => false
        } => f
    }
    assert(rightFiltered.nonEmpty,
      s"mirrored right-side key filter missing:\n$optimized")
    // and the mirrored plan returns the same rows as filtering after
    val unpushed = AsOfNative.joinAsOfNative(purchases(), clicks("click_ts2"),
        Seq("user_id"), Seq("c_user_id"), "ts", "click_ts2")
      .withColumnRenamed("click_ts2", "click_ts")
      .filter(col("user_id") < 10)
    assert(df.exceptAll(unpushed).isEmpty && unpushed.exceptAll(df).isEmpty)
  }

  test("NULL keys and times never match; left rows always survive") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, Option(1L), Option(ts("2024-01-01 10:00:00"))),
      (2L, Option(1L), None),                               // null left time
      (3L, Option.empty[Long], Option(ts("2024-01-01 10:00:00"))), // null key
      (4L, Option(2L), Option(ts("2024-01-01 10:00:00"))))
      .toDF("id", "k", "t")
    val right = Seq(
      (Option(1L), Option(ts("2024-01-01 09:00:00")), "a"),
      (Option(1L), Option.empty[Timestamp], "null-time"),
      (Option.empty[Long], Option(ts("2024-01-01 09:30:00")), "null-key"),
      (Option(2L), Option(ts("2024-01-01 11:00:00")), "after"))
      .toDF("rk", "rt", "v")
    val out = AsOfNative.joinAsOfNative(left, right,
        Seq("k"), Seq("rk"), "t", "rt")
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(out === Map(
      1L -> Some("a"),   // normal match
      2L -> None,        // null left time
      3L -> None,        // null left key
      4L -> None))       // only a LATER right row exists (backward)
    val fwd = AsOfNative.joinAsOfNative(left, right,
        Seq("k"), Seq("rk"), "t", "rt", forward = true)
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(fwd === Map(
      1L -> None,        // only an EARLIER right row (forward)
      2L -> None, 3L -> None,
      4L -> Some("after")))
  }

  test("equal timestamps are strict: rt == lt matches in neither direction") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, 1L, ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), "same")).toDF("rk", "rt", "v")
    val b = AsOfNative.joinAsOfNative(left, right, Seq("k"), Seq("rk"), "t", "rt")
      .select("v").collect().head.isNullAt(0)
    val f = AsOfNative.joinAsOfNative(left, right, Seq("k"), Seq("rk"), "t", "rt",
      forward = true).select("v").collect().head.isNullAt(0)
    assert(b && f, "equal-timestamp right row must not match (strict < / >)")
  }

  test("many left rows share one forward match; dense same-key runs stream correctly") {
    import spark.implicits._
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val left = (0 until 50).map(i => (i.toLong, 7L, ts(9, i))).toDF("id", "k", "t")
    val right = Seq((7L, ts(10, 30), "only")).toDF("rk", "rt", "v")
    val fwd = AsOfNative.joinAsOfNative(left, right, Seq("k"), Seq("rk"), "t", "rt",
      forward = true).select("id", "v").as[(Long, String)].collect()
    assert(fwd.length === 50 && fwd.forall(_._2 == "only"),
      "every earlier left row shares the single later right row")
  }
}
