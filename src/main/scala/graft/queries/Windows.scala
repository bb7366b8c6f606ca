package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Window-function surface (SURVEY.md §2 "Window functions").
  *
  * Determinism rules for oracle parity:
  *  - `row_number`/`ntile` only over a TOTAL order (unique tiebreaker).
  *  - `rank`/`dense_rank`/`percent_rank`/`cume_dist` may see ties — their
  *    outputs are tie-stable by definition.
  * Scale: window partitions are `user_id`/`o_custkey`-grained — millions of
  * small partitions, never one giant partition (a single unpartitioned
  * window would serialize on one task at 100 TB).
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    // h-index per supplier over per-part order reach: h = max h such that
    // h of the supplier's parts each appear in >= h orders — the classic
    // rank-vs-value crossing, one window over per-supplier part counts
    // (bounded by parts-per-supplier, not data volume).
    "win_h_index" -> ((s, d) => {
      val pc = t(s, d, "lineitem")
        .groupBy(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .agg(count_distinct(col("l_orderkey")).as("n_orders"))
      val rn = row_number().over(Window.partitionBy(col("sk"))
        .orderBy(col("n_orders").desc, col("pk")))
      pc.withColumn("rnk", rn)
        .groupBy(col("sk"))
        .agg(max(when(col("n_orders") >= col("rnk"), col("rnk"))
          .otherwise(0L)).as("h_index"))
        .orderBy(col("sk"))
    }),

    // ranking family over a unique total order per partition. The
    // partition key (o_orderstatus) has cardinality 3, so the naive
    // "window then rn <= 100" plan is THREE tasks each sorting a third
    // of the corpus — the skewed-window shape this registry bans at
    // scale. Two-phase instead (r14): (1) a local top-100 per
    // (physical-partition, status) window — parallelism is
    // partitions x statuses, each group input-partition-sized — feeds a
    // global top-100 window over <= 100·P·|status| candidate rows (the
    // global top-100 of a status is top-100 within its own physical
    // partition, so the prune is lossless); (2) rank/dense_rank depend
    // only on o_orderpriority, so they come from the (status, priority)
    // COUNT table (15 rows: rank = 1 + running count of stricter
    // priorities, dense_rank = priority index) broadcast back onto the
    // survivors. No corpus-sized sort anywhere; identical output.
    "win_rank" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      // lossless local prune: keep each physical partition's top-100 per
      // status (any global-top-100 row is top-100 within its own
      // partition, for ANY partition layout). One level bounds the
      // global-window input at 100·P·|status|; when the metadata split
      // estimate says P is huge (the 100 TB case: ~10⁶ splits would
      // still feed 3·10⁸ candidates to the 3-partition final window), a
      // SECOND prune over a balanced repartition caps it at
      // 100·parallelism·|status| regardless of input partition count.
      // Both paths are lossless, so the gate never changes the result —
      // it only decides whether the extra candidate shuffle is worth
      // buying (measured +0.5 s at sf1 for zero benefit there).
      def prune(df: org.apache.spark.sql.DataFrame) = {
        val w = Window
          .partitionBy(col("pid"), col("o_orderstatus"))
          .orderBy(col("o_orderpriority"), col("o_orderkey"))
        df.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(w))
          .filter(col("lrn") <= 100).drop("pid", "lrn")
      }
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val bytes = o.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      val estSplits = math.max(o.inputFiles.length.toLong,
        bytes / math.max(1L, conf.filesMaxPartitionBytes) + 1L)
      val par = s.sparkContext.defaultParallelism
      val pruned = prune(o)
      val cand =
        if (estSplits > 64L * par) prune(pruned.repartition(par))
        else pruned
      val wCum = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      val rkTab = o
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("c"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          (coalesce(sum(col("c")).over(
            wCum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1)
            .cast("int").as("rk"),
          row_number().over(wCum).cast("int").as("drk"))
      val wGlobal = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
      cand
        .withColumn("rn", row_number().over(wGlobal))
        .filter(col("rn") <= 100)
        .join(broadcast(rkTab), Seq("o_orderstatus", "o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("rn"), col("rk"), col("drk"))
    }),

    // lag / lead per user ordered by event time (+id tiebreak)
    "win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events").select(
        col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        lag(col("value"), 2, -1.0).over(w).as("prev2_or_default"))
    }),

    // running total + running count, rows unbounded-preceding frame
    "win_running" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        sum(col("value")).over(w).as("running_sum"),
        count(lit(1)).over(w).as("running_n"),
        min(col("value")).over(w).as("running_min"))
    }),

    // sliding rows frame (moving average over last 3 events)
    "win_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        avg(col("value")).over(w).as("mavg3"),
        max(col("value")).over(w).as("mmax3"))
    }),

    // RANGE frame over a numeric ordering key
    "win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
        .rangeBetween(-1000, Window.currentRow)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        count(lit(1)).over(w).as("n_in_range"),
        sum(col("o_totalprice")).over(w).as("sum_in_range"))
    }),

    // distribution family: ntile over unique order; percent_rank/cume_dist
    // over a (possibly tied) value order
    "win_distribution" -> ((s, d) => {
      val uniq = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_custkey"))
      val byBal = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
      t(s, d, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(uniq).as("quartile_by_key"),
        percent_rank().over(byBal).as("pr_bal"),
        cume_dist().over(byBal).as("cd_bal"))
    }),

    // first/last value with explicit frame (whole partition)
    "win_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"))
    }),

    // nth_value over the whole partition (deterministic: unique-key order)
    "win_nth_value" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        nth_value(col("event_type"), 2).over(w).as("second_type"),
        nth_value(col("value"), 3).over(w).as("third_value"))
    }),

    // top-k per group (reference B3/B5 generalized): top-3 orders per
    // customer by totalprice, orderkey tiebreak
    "win_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),

    // ratio-to-partition-total / delta-from-partition-mean (the BI
    // "percent of group" shape): one unordered whole-partition frame.
    // The partition total accumulates in DECIMAL then casts to double so
    // both engines divide the SAME numerator — a raw double sum's
    // addition order is engine-dependent at the 6th decimal.
    "win_ratio_total" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
      val tot = sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
        .cast("double")
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") / tot * 100, 6).as("pct_of_status"),
        round(col("o_totalprice") - tot / count(lit(1)).over(w), 4)
          .as("delta_from_avg"))
    }),

    // gaps-and-islands: longest consecutive-ACTIVE-DAY streak per user.
    // The island key is day − row_number(day): consecutive days share it,
    // a gap shifts it — the classic relational streak detection (no
    // iteration, no state). Scale shape: the distinct + both aggregates
    // and the window are all user_id-partitioned, so one shuffle keys the
    // whole query; per-user day counts are bounded by the calendar (≤366
    // rows/user/year) whatever the event volume.
    "win_streaks" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"))
        // partition by user_id BEFORE the distinct: HashPartitioning on a
        // subset of the grouping keys satisfies the distinct, the window,
        // and both downstream aggregates — one exchange keys the whole
        // query (pinned in PlanAuditSpec) instead of distinct hashing on
        // (user_id, day) and the window re-shuffling on user_id
        .repartition(col("user_id"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("max_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("active_days"))
    }),

    // the SAME top-3-per-customer via the bounded-heap aggregate
    // (functions.Aggregators.TopKAgg): map-side partials keep ≤3 rows per
    // (customer, partition), so the shuffle carries ≤ 3·|groups|·P rows.
    // Honest comparison (PlanAuditSpec pins it): Spark 4 ALREADY bounds
    // the window form's shuffle the same way via Partial WindowGroupLimit
    // — the aggregate's remaining edge is that the window plan must SORT
    // every partition (O(n log n)) before its partial limit, while the
    // heap does O(n log k) updates with no sort and no final
    // sort+window pass. Oracle: identical SQL to win_topk_per_group.
    "win_topk_agg" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr("topk3_by(o_totalprice, o_orderkey)").as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), col("col.tie").as("o_orderkey"),
          col("col.ord").as("o_totalprice"), (col("pos") + 1).as("rn"))
    }),

    // top-k WITH TIES: rank() ≤ 3 keeps every row tied at the cutoff —
    // the ANSI FETCH FIRST k WITH TIES semantics row_number can't give.
    // Deterministic regardless of tie order because ALL tied rows are
    // emitted (no per-tie tiebreak needed). Same partial WindowGroupLimit
    // shuffle bound as the other top-k forms.
    "win_topk_ties" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc)
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), rank().over(w).as("rnk"))
        .filter(col("rnk") <= 3)
    }),

    // rolling exact median over a 25-row trailing frame: an ordered-set
    // aggregate as a WINDOW function (robust smoothing — the moving-avg
    // family's outlier-proof sibling). One user-keyed exchange + sort;
    // the per-row frame re-sort is O(k log k) scan-side work, no extra
    // shuffle at any volume.
    "win_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-24, 0)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("med25"))
    })
  )

  val sql: Map[String, String] = Map(
    "win_h_index" -> """
      WITH pc AS (
        SELECT l_suppkey AS sk, l_partkey AS pk,
               count(DISTINCT l_orderkey) AS n_orders
        FROM lineitem GROUP BY 1, 2
      ), rk AS (
        SELECT sk, n_orders,
               row_number() OVER (PARTITION BY sk
                                  ORDER BY n_orders DESC, pk) AS rnk
        FROM pc
      )
      SELECT sk, max(CASE WHEN n_orders >= rnk THEN rnk ELSE 0 END) AS h_index
      FROM rk GROUP BY sk ORDER BY sk""",

    "win_topk_ties" -> """
      SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC) AS rnk
        FROM orders
      ) WHERE rnk <= 3""",

    "win_rolling_median" -> """
      SELECT event_id, user_id,
             round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 6) AS med25
      FROM events""",

    "win_rank" -> """
      SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, o_orderpriority,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderpriority, o_orderkey) AS rn,
               rank() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_orderpriority) AS rk,
               dense_rank() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderpriority) AS drk
        FROM orders
      ) WHERE rn <= 100""",

    "win_lag_lead" -> """
      SELECT event_id, user_id, value,
             lag(value, 1) OVER w AS prev_value,
             lead(event_type, 1) OVER w AS next_type,
             lag(value, 2, -1.0) OVER w AS prev2_or_default
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "win_running" -> """
      SELECT event_id, user_id,
             sum(value) OVER w AS running_sum,
             count(*) OVER w AS running_n,
             min(value) OVER w AS running_min
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "win_moving_avg" -> """
      SELECT event_id, user_id,
             avg(value) OVER w AS mavg3,
             max(value) OVER w AS mmax3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",

    "win_range_frame" -> """
      SELECT o_orderkey, o_orderstatus,
             count(*) OVER w AS n_in_range,
             sum(o_totalprice) OVER w AS sum_in_range
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""",

    "win_distribution" -> """
      SELECT c_custkey, c_mktsegment,
             ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey)
               AS quartile_by_key,
             percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
               AS pr_bal,
             cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
               AS cd_bal
      FROM customer""",

    "win_first_last" -> """
      SELECT event_id, user_id,
             first_value(event_type) OVER w AS first_type,
             last_value(event_type) OVER w AS last_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",

    "win_nth_value" -> """
      SELECT event_id, user_id,
             nth_value(event_type, 2) OVER w AS second_type,
             nth_value(value, 3) OVER w AS third_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",

    "win_topk_per_group" -> """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
      ) WHERE rn <= 3""",

    "win_topk_agg" -> """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
      ) WHERE rn <= 3""",

    "win_ratio_total" -> """
      SELECT o_orderkey, o_orderstatus,
             round(o_totalprice /
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w
                 AS DOUBLE) * 100, 6) AS pct_of_status,
             round(o_totalprice -
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w
                 AS DOUBLE) / count(*) OVER w, 4) AS delta_from_avg
      FROM orders WHERE o_orderkey <= 2000
      WINDOW w AS (PARTITION BY o_orderstatus)""",

    // sum over BIGINT would be HUGEINT in DuckDB (pandas-bridge hazard) —
    // active_days is cast back to BIGINT explicitly
    "win_streaks" -> """
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      ), islands AS (
        SELECT user_id,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INT) AS grp
        FROM days
      ), streaks AS (
        SELECT user_id, grp, count(*) AS len
        FROM islands GROUP BY user_id, grp
      )
      SELECT user_id, max(len) AS max_streak, count(*) AS n_streaks,
             CAST(sum(len) AS BIGINT) AS active_days
      FROM streaks GROUP BY user_id"""
  )
}
