package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Relational operator surface: aggregations, joins, set ops, sorts
  * (SURVEY.md §2 tier B/C — "Aggregations", "Joins", "Sorts / limits /
  * set ops").
  *
  * Every query here is paired with ANSI SQL in [[graft.SparkEntry.oracleSql]]
  * and hash-checked against DuckDB over the same parquet. Column names are
  * aliased identically on both sides. All queries are deterministic SETS of
  * rows: any `limit` is preceded by a total order with a unique tiebreaker.
  *
  * Scale notes (100 TB design point):
  *  - Only TRUE dimensions (`region` 5 rows, `nation` 25 rows, zones) are
  *    explicitly `broadcast()`. `customer`/`supplier` scale with the fact
  *    tables, so a forced broadcast is an executor OOM at 100 TB — their
  *    join strategy is left to AQE / autoBroadcastJoinThreshold, which
  *    still broadcasts them at small SF but degrades safely to a shuffle
  *    join when they outgrow the threshold.
  *  - Aggregations are plain `groupBy.agg` → Spark's partial (map-side)
  *    + final hash aggregate; no `collect` anywhere.
  *  - The lineitem⋈orders join is an equi-join on the natural key, which
  *    AQE can convert or skew-split at runtime.
  */
object Relational {

  // per-corpus max distinct-parts-per-order for the basket family's
  // bounded_collect_set(64) saturation guard (r15, the VERDICT r14 #2
  // domain-probe pattern): the max basket size is a corpus property, so
  // the 1-row probe job runs once per corpus per session instead of once
  // per construction; the fail-loud require stays on every path.
  private val basketMaxCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def basketMaxSz(d: String, baskets: DataFrame): Int =
    basketMaxCache.getOrElseUpdate(d,
      baskets.agg(coalesce(max(size(col("parts"))), lit(0)))
        .head().getInt(0))
  type Q = (SparkSession, String) => DataFrame

  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Exact-integer revenue in 1/10000-dollar units (cents × (100 −
    * disc%)) with ONE double division on output — the scale-stable form
    * of `sum(revenue)`: the r12 sf1 parity sweep showed raw double
    * revenue sums drifting past the 6-dp canon round between engines
    * once groups reach ~10⁶ rows (association-order error ∝ ε·n·Σ|x|).
    * BIGINT headroom to ~sf100; beyond that the sum moves to
    * DECIMAL(38,0). Twins mirror the identical integer expression. */
  private def revenueU = round(col("l_extendedprice") * 100).cast("bigint") *
    (lit(100L) - round(col("l_discount") * 100).cast("bigint"))
  private def sumRevenue = sum(revenueU).cast("double") / 10000.0

  val defs: Map[String, Q] = Map(
    // ---- Aggregations --------------------------------------------------
    // TPC-H Q1 shape: multi-key hash aggregate with sum/avg/count.
    // Semantics from reference analytics surface (SURVEY §2 B1/B2).
    "agg_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2002-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("bigint"))
            .cast("double") / 100.0).as("sum_base_price"),
          sumRevenue.as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // DECIMAL money semantics (SURVEY §1.2 risk #1: the reference's DDL
    // declares NUMERIC for fare columns; this engine is double end-to-end
    // with a decimal escape hatch). Exercises the exact path: cast to
    // DECIMAL(12,2) at the scan, sum in decimal — no FP drift whatever the
    // aggregation order, the property NUMERIC buys a billing user. The
    // FINAL projection casts back to DOUBLE for transport only: the
    // driver's pandas bridge renders one side's decimals as float64 (the
    // r2 HUGEINT lesson), so a scale-4 decimal with a trailing zero
    // ("….8990" vs float64 "….899") hash-drifts even when the values are
    // identical — r4's one red entry. Decimal→double is correctly rounded
    // and deterministic on both engines, so the exact-in-decimal result
    // survives the cast bit-for-bit.
    "agg_decimal_money" -> ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val disc1 = (lit(1.0) - col("l_discount")).cast("decimal(12,2)")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(price).cast("double").as("sum_price_dec"),
          sum(price * disc1).cast("double").as("sum_disc_price_dec"),
          max(price).cast("double").as("max_price_dec"),
          count(lit(1)).as("n"))
    }),

    // exact count-distinct (HLL/approx variant is bench-only: llm/approx)
    "agg_count_distinct" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
          count(lit(1)).as("n_rows"))
    }),

    // ROLLUP region→nation revenue with subtotal labels. Revenue sums in
    // EXACT integer 1/10000-dollar units (cents × (100 − disc%)) with one
    // double division on output: the r12 sf1 parity sweep showed the raw
    // double sum drifting ~1e-2 at Σ ≈ 6e10 per region between engines
    // (association-order error), while the integer grid cannot. BIGINT
    // headroom: grand total ≈ 6e17 at sf1, two orders below overflow —
    // beyond that, the sum moves to DECIMAL(38,0).
    "agg_rollup" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      val revU = round(col("l_extendedprice") * 100).cast("bigint") *
        (lit(100L) - round(col("l_discount") * 100).cast("bigint"))
      // aggregation pushed BELOW the joins (r14): the rollup only needs
      // per-(region, nation) sums, so lineitem pre-aggregates to one row
      // per order before touching orders/customer — the two big shuffle
      // joins then move |orders| slim rows instead of |lineitem| wide
      // ones (the lines-per-order factor, ~4×), and the rollup's Expand
      // runs over the 25-row (region, nation) pre-aggregate instead of
      // tripling the joined corpus. Sums re-aggregate losslessly
      // (sum-of-sums, sum-of-counts); BIGINT headroom unchanged.
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum(revU).as("rev_o"), count(lit(1)).as("n_o"))
      perOrder
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev_o")).as("rev_rn"), sum(col("n_o")).as("n_rn"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(col("rev_rn")).as("rev_u"), sum(col("n_rn")).as("n"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          (col("rev_u").cast("double") / 10000.0).as("revenue"), col("n"))
    }),

    // CUBE over two low-cardinality keys.
    "agg_cube" -> ((s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
    }),

    // GROUPING SETS via SQL surface; grouping() markers distinguish a
    // real NULL group key from a rolled-up one (same text both engines)
    "agg_grouping_sets" -> ((s, d) => {
      graft.core.Tables.registerAll(s, d)
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS st,
               coalesce(o_orderpriority, 'ALL') AS pri,
               count(*) AS n, sum(o_totalprice) AS total,
               CAST(grouping(o_orderstatus) AS INT) AS g_st,
               CAST(grouping(o_orderpriority) AS INT) AS g_pri
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      """)
    }),

    // statistical aggregates
    "agg_stats" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          stddev_samp(col("l_quantity")).as("sd_qty"),
          var_samp(col("l_discount")).as("var_disc"),
          corr(col("l_quantity"), col("l_extendedprice")).as("corr_qp"),
          covar_samp(col("l_quantity"), col("l_discount")).as("cov_qd"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_tax")).as("max_tax"))
    }),

    // OLS regression + distribution-shape aggregates. regr_* are the
    // standard least-squares definitions in both engines; skewness and
    // kurtosis are POPULATION moments in Spark vs sample-adjusted in
    // DuckDB, so the twin recomputes them from raw moments — and the
    // regressand is l_discount (magnitude ≤ 0.1) so every emitted double
    // sits comfortably inside the comparator's 6-decimal rounding.
    "agg_stats2" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("regr_slope(l_discount, l_quantity)").as("slope_dq"),
          expr("regr_intercept(l_discount, l_quantity)").as("icept_dq"),
          expr("regr_r2(l_discount, l_quantity)").as("r2_dq"),
          expr("regr_count(l_discount, l_quantity)").cast("long")
            .as("n_pairs"),
          expr("regr_avgx(l_discount, l_quantity)").as("avg_qty"),
          expr("regr_avgy(l_discount, l_quantity)").as("avg_disc"),
          skewness(col("l_discount")).as("skew_disc"),
          kurtosis(col("l_discount")).as("kurt_disc"))
    }),

    // market-basket co-occurrence: part pairs appearing in the same order,
    // with support and lift. Pairs are generated INSIDE each order's
    // (bounded, ~4-element) collected part set with array HOFs — one
    // order-keyed aggregate then one pair aggregate, instead of the
    // distinct + self-join + aggregate form's three shuffles of the same
    // rows. Still quadratic only in LINES PER ORDER, never in orders;
    // per-part totals broadcast-join back for lift. Top 50 by
    // (count, pair) is a deterministic TakeOrdered.
    "join_basket_pairs" -> ((s, d) => {
      // r14: bounded_collect_set + fail-loud probe (see rec_item_cosine —
      // same basket kernel, same exactness contract), and the pair
      // expansion runs as the stacked posexplode + sliced-explode codegen
      // generators instead of the nested transform/flatten lambda, whose
      // per-element lambdas evaluate INTERPRETED (the exactPairCommon
      // lesson, applied late to this family member).
      val baskets = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(expr("bounded_collect_set(l_partkey, 64)").as("parts"))
        .ckpt(eager = false) // consumed by 3 plan legs below
      val maxSz = basketMaxSz(d, baskets)
      require(maxSz <= 64, s"join_basket_pairs: a basket holds $maxSz " +
        "distinct parts — saturates the bounded_collect_set cap 64; " +
        "raise the cap")
      val nOrders = baskets.select(count(lit(1)).as("n_orders"))
      val perPart = baskets
        .select(explode(col("parts")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n_pk"))
      val pairs = baskets
        .filter(size(col("parts")) >= 2)
        .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
        .select(col("p1"), explode(expr(
          "slice(parts, i + 2, size(parts) - i - 1)")).as("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_both"))
      // top-50 FIRST: the rank key (n_both, p1, p2) lives entirely on the
      // pair aggregate, so the per-part lift joins run on 50 rows instead
      // of the full pair table — at sf1 that removes two sort-merge joins
      // of ~7M pair rows against the 2M-row perPart (the pre-r14 shape's
      // dominant cost), and at 100 TB it makes the post-top-k work
      // CONSTANT instead of corpus-sized. The 50-row side broadcasts; the
      // inner joins cannot drop rows (every ranked part exists in perPart
      // by construction).
      val top = pairs
        .orderBy(col("n_both").desc, col("p1"), col("p2"))
        .limit(50)
      broadcast(top)
        .join(perPart.select(col("pk").as("p1"), col("n_pk").as("n_p1")), Seq("p1"))
        .join(perPart.select(col("pk").as("p2"), col("n_pk").as("n_p2")), Seq("p2"))
        .crossJoin(nOrders)
        .select(col("p1"), col("p2"), col("n_both"),
          (col("n_both").cast("double") / col("n_orders").cast("double"))
            .as("support"),
          (col("n_both").cast("double") * col("n_orders").cast("double") /
            (col("n_p1").cast("double") * col("n_p2").cast("double")))
            .as("lift"))
        .orderBy(col("n_both").desc, col("p1"), col("p2"))
    }),

    // RFM segmentation: per-customer recency/frequency/monetary value
    // quartiles (the classic CRM cut). Deliberately NOT ntile: a
    // partition-less ntile window is a single-task global sort — the one
    // plan shape this registry bans. Instead the three quartile cutoffs
    // come from ONE exact-percentile aggregate (parallel partial/final)
    // and ride to the scan as a broadcast 1-row cross join; assignment is
    // then a pure comparison, so the whole query is two aggregates and a
    // map whatever the customer count.
    "agg_rfm_segments" -> ((s, d) => {
      val o = t(s, d, "orders")
      val asOf = o.select(max(col("o_orderdate")).as("as_of"))
      val rfm = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice")).as("monetary"))
        .crossJoin(broadcast(asOf))
        .withColumn("recency_days",
          datediff(col("as_of"), col("last_order")).cast("int"))
      val cuts = rfm.agg(
        expr("percentile(recency_days, array(0.25, 0.5, 0.75))").as("rc"),
        expr("percentile(frequency, array(0.25, 0.5, 0.75))").as("fc"),
        expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("mc"))
      def q(c: org.apache.spark.sql.Column, cut: String) =
        when(c <= expr(s"$cut[0]"), 1).when(c <= expr(s"$cut[1]"), 2)
          .when(c <= expr(s"$cut[2]"), 3).otherwise(4)
      rfm.crossJoin(broadcast(cuts))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"),
          q(col("recency_days"), "rc").as("r_quartile"),
          q(col("frequency"), "fc").as("f_quartile"),
          q(col("monetary"), "mc").as("m_quartile"))
    }),

    // equi-width histogram: 20 bins over the observed [min, max] range.
    // Bounds come from one aggregate and broadcast; bin assignment is a
    // floor expression on the scan (identical IEEE math in both engines),
    // so the histogram is two aggregates end to end at any scale.
    "agg_histogram" -> ((s, d) => {
      val o = t(s, d, "orders")
      val bounds = o.agg(min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      o.crossJoin(broadcast(bounds))
        .withColumn("bin", least(lit(19),
          floor((col("o_totalprice") - col("mn")) /
            ((col("mx") - col("mn")) / 20.0))).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("bin_min"),
          max(col("o_totalprice")).as("bin_max"))
    }),

    // exact percentiles (interpolating, = SQL percentile_cont)
    "agg_percentile" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
          expr("percentile(l_extendedprice, 0.75)").as("p75_price"))
    }),

    // ordered-set aggregates, ANSI WITHIN GROUP syntax: percentile_disc
    // returns an actual member of the group (vs percentile_cont's
    // interpolation — agg_percentile covers that); the p50 pair exposes
    // the disc/cont divergence on even-sized groups
    "agg_percentile_disc" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p25_disc"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p50_disc"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p75_disc"),
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p50_cont"))
    }),

    // Bowley (quartile) skewness — the robust skew a monitoring pipeline
    // prefers over the moment skew (no third powers, no outlier blowup):
    // (q3 + q1 − 2·q2)/(q3 − q1) on EXACT-CENT quartile MEMBERS
    // (percentile_disc returns an element, never an interpolation), so
    // the whole statistic is one floor-ppm division of BIGINTs.
    "agg_bowley_skew" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("bigint").as("v"))
        .groupBy(col("grp"))
        .agg(
          // Spark's percentile_disc returns DOUBLE even for integral
          // input — the selected value is an exact group member, so the
          // BIGINT cast is lossless and REQUIRED (a float64 column would
          // hash-mismatch the twin's BIGINT in the driver's pandas
          // bridge — the ml_confusion dtype trap)
          expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v)" +
            " AS BIGINT)").as("q1"),
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)" +
            " AS BIGINT)").as("q2"),
          expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v)" +
            " AS BIGINT)").as("q3"))
        .selectExpr("grp", "q1", "q2", "q3",
          "CASE WHEN q3 > q1 THEN CAST(floor(1e6 * (q3 + q1 - 2 * q2)" +
            " / (q3 - q1) + 0.5) AS BIGINT)" +
            " ELSE CAST(0 AS BIGINT) END AS bowley_ppm")
    }),

    // quartile coefficient of dispersion — bowley's SCALE companion
    // ((q3−q1)/(q3+q1), the robust relative-spread monitor): same
    // exact-cent quartile members, one floor-ppm division.
    "agg_qcd" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("bigint").as("v"))
        .groupBy(col("grp"))
        .agg(
          expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v)" +
            " AS BIGINT)").as("q1"),
          expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v)" +
            " AS BIGINT)").as("q3"))
        .selectExpr("grp", "q1", "q3",
          "CASE WHEN q3 + q1 > 0 THEN CAST(floor(1e6 * (q3 - q1)" +
            " / (q3 + q1) + 0.5) AS BIGINT)" +
            " ELSE CAST(0 AS BIGINT) END AS qcd_ppm")
    }),

    // collect_set canonicalized to a sorted csv string (array hashing is
    // engine-specific; string form is oracle-stable)
    "agg_collect" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
          .as("priorities"))
    }),

    // arg-max/arg-min (max_by/min_by). The ordering value is the
    // composite exact integer price-cents·10^10 + orderkey — a STRICT
    // total order, because argmax on the raw price is undefined under
    // ties and the r12 sf1 parity sweep hit exactly that (the replicated
    // fixture repeats the price domain, Spark and DuckDB kept different
    // tied keys). max picks the largest key among max-price ties, min
    // the smallest among min-price ties; keys must sit below 10^10.
    "agg_minmax_by" -> ((s, d) => {
      t(s, d, "orders")
        .withColumn("pck",
          round(col("o_totalprice") * 100).cast("bigint") * 10000000000L
            + col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("max_by(o_orderkey, pck)").as("max_price_order"),
          expr("min_by(o_orderkey, pck)").as("min_price_order"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
    }),

    // pivot: event_type → columns (explicit value list keeps the plan
    // single-pass: groupBy + pivot is one shuffle)
    "agg_pivot" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(col("value")))
    }),

    // ---- Joins ---------------------------------------------------------
    // TPC-H Q5 shape: star join, true dims broadcast, customer left to
    // AQE (it is fact-scale at 100 TB — see the header note).
    "join_star_revenue" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("2000-01-01").cast("timestamp"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sumRevenue.as("revenue"), count(lit(1)).as("n_items"))
    }),

    // left outer: every customer, order stats (0 for orderless customers)
    "join_left_outer" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice")), lit(0.0)).as("total_spent"))
    }),

    // right outer join (orders ⟕← customer from the other side)
    "join_right_outer" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      o.join(c, col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_nationkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             countDistinct(col("c_custkey")).as("n_customers"))
    }),

    // full outer: nations by supplier-presence vs customer-presence
    "join_full_outer" -> ((s, d) => {
      val su = t(s, d, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"))
      val cu = t(s, d, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      su.join(cu, col("s_nationkey") === col("c_nationkey"), "full")
        .select(
          coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"))
    }),

    // left-semi (EXISTS): customers with at least one 'F' order
    "join_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    }),

    // left-anti (NOT EXISTS): customers with no orders at all
    "join_anti" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_orderless"))
    }),

    // theta / non-equi self join on a broadcastable dim
    "join_theta" -> ((s, d) => {
      val n1 = t(s, d, "nation").select(
        col("n_nationkey").as("k1"), col("n_name").as("name1"),
        col("n_regionkey").as("rk1"))
      val n2 = t(s, d, "nation").select(
        col("n_nationkey").as("k2"), col("n_name").as("name2"),
        col("n_regionkey").as("rk2"))
      n1.join(broadcast(n2), col("rk1") === col("rk2") && col("k1") < col("k2"))
        .select(col("name1"), col("name2"))
    }),

    // cross join (tiny × tiny only — scale rule: never cross-join facts)
    "join_cross" -> ((s, d) => {
      val r1 = t(s, d, "region").select(col("r_name").as("a"))
      val r2 = t(s, d, "region").select(col("r_name").as("b"))
      r1.crossJoin(broadcast(r2))
    }),

    // TPC-H Q7 shape: double-aliased dim join (reference B5 semantics —
    // pickup-zone × dropoff-zone generalizes to cust-nation × supp-nation)
    "join_nation_matrix" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n1 = t(s, d, "nation").select(
        col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val n2 = t(s, d, "nation").select(
        col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
        .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
        .groupBy(col("cust_nation"), col("supp_nation"))
        .agg(sumRevenue.as("revenue"))
    }),

    // ---- Set ops / distinct / sort-limit -------------------------------
    "set_union_all" -> ((s, d) => {
      val c = t(s, d, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val b = c.filter(col("c_acctbal") < 0).select(col("c_custkey").as("k"))
      a.union(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
    }),

    "set_intersect" -> ((s, d) => {
      val c = t(s, d, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
      a.intersect(b)
    }),

    "set_except" -> ((s, d) => {
      val c = t(s, d, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
      a.except(b)
    }),

    // multiset variants: duplicates preserved per bag semantics
    "set_intersect_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderstatus"), col("o_orderpriority"))
      val b = o.filter(col("o_totalprice") > 300000.0)
        .select(col("o_orderstatus"), col("o_orderpriority"))
      a.intersectAll(b)
    }),

    "set_except_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderstatus"), col("o_orderpriority"))
      val b = o.filter(col("o_totalprice") > 300000.0)
        .select(col("o_orderstatus"), col("o_orderpriority"))
      a.exceptAll(b)
    }),

    // unionByName with missing columns (null-filled on both sides)
    "set_union_by_name" -> ((s, d) => {
      val su = t(s, d, "supplier").select(
        col("s_name").as("name"), col("s_acctbal").as("acctbal"),
        lit("supplier").as("kind"))
      val cu = t(s, d, "customer").filter(col("c_custkey") <= 100).select(
        col("c_name").as("name"), lit("customer").as("kind"),
        col("c_mktsegment").as("segment"))
      su.unionByName(cu, allowMissingColumns = true)
    }),

    // multi-key sort with injected nulls, NULLS FIRST, deterministic limit
    "sort_nulls_limit" -> ((s, d) => {
      t(s, d, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price_or_null"),
          col("o_orderstatus"))
        .orderBy(asc_nulls_first("price_or_null"), asc("o_orderkey"))
        .limit(50)
    }),

    // distinct on a column pair
    "distinct_pairs" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()),

    // dropDuplicates-by-key semantics, made deterministic for the oracle:
    // keep the MIN orderkey per (status, priority) — what dropDuplicates
    // returns up to tie-order; this form is order-independent.
    "dedup_subset_keys" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(min(col("o_orderkey")).as("keeper_orderkey"))),

    // boolean aggregates (universal/existential per group)
    "agg_bool" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          bool_and(col("o_totalprice") > 1000.0).as("all_over_1k"),
          bool_or(col("o_totalprice") > 450000.0).as("any_over_450k"),
          bool_and(col("o_orderpriority").isNotNull).as("all_prioritized"))
    }),

    // fuzzy self-join (entity resolution): all name pairs within hamming
    // distance 1, found by deletion-neighborhood blocking — each name
    // emits length(name) masked variants; equal-length names differing in
    // exactly one position collide on exactly the variant masking that
    // position, so recall is pigeonhole-EXACT and the candidate volume is
    // O(N·L + true pairs) instead of the O(N²) all-pairs comparison. The
    // DuckDB oracle IS the brute force, so the driver hash-check proves
    // blocked ≡ brute-force on real data. The levenshtein verify is
    // provably redundant (variant equality ⇒ hamming ≤ 1) but kept as the
    // candidate-verify stage every blocking scheme needs once recall is
    // probabilistic.
    // numeric band join (|a.price − b.price| ≤ ε) via bucket blocking:
    // each row keys to floor(price/ε); a pair within ε differs by at most
    // one bucket, so exploding one side to {b−1, b, b+1} turns the band
    // predicate into an EQUI-join + exact verify filter. Each qualifying
    // pair's bucket offset is unique ⇒ no dedup needed. The DuckDB oracle
    // is the brute-force range join, so hash parity proves blocked ≡
    // exact — same contract as join_fuzzy_hamming. 100 TB shape: O(n·k)
    // candidates (k = band density), shuffled on bucket id; the naive
    // form is a quadratic theta join the plan audit forbids.
    "join_band_numeric" -> ((s, d) => {
      val p = t(s, d, "part").filter(col("p_partkey") <= 2000)
        .select(col("p_partkey").as("k"), col("p_retailprice").as("price"))
      val eps = 0.25
      val x = p.withColumn("b", floor(col("price") / eps))
      val y = p.select(col("k").as("k2"), col("price").as("price2"),
        explode(array(floor(col("price") / eps) - 1,
          floor(col("price") / eps),
          floor(col("price") / eps) + 1)).as("b"))
      x.join(y, Seq("b"))
        .filter(col("k") < col("k2") &&
          abs(col("price") - col("price2")) <= eps)
        .select(col("k").as("k1"), col("k2"),
          round(abs(col("price") - col("price2")), 2).as("price_gap"))
        .orderBy(col("k1"), col("k2"))
    }),

    "join_fuzzy_hamming" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val masked = c
        .select(col("id"), col("name"),
          explode(expr("sequence(1, length(name))")).as("p"))
        .withColumn("variant",
          concat(expr("substring(name, 1, p - 1)"), lit(""),
            expr("substring(name, p + 1)")))
        .select(col("id"), col("name"), col("variant"))
      masked.select(col("id").as("id1"), col("name").as("n1"), col("variant"))
        .join(masked.select(col("id").as("id2"), col("name").as("n2"),
          col("variant")), Seq("variant"))
        .filter(col("id1") < col("id2"))
        .dropDuplicates("id1", "id2")
        .filter(levenshtein(col("n1"), col("n2")) <= 1)
        .select(col("id1"), col("id2"),
          levenshtein(col("n1"), col("n2")).as("dist"))
    }),

    // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match each other, unlike plain = — the standard trap when joining
    // on nullable dimensions. The aggregate side is |status domain| = 3
    // rows, so it is broadcast explicitly: without the hint the planner
    // shuffle-joins on a 3-value key — every row of the fact side hashes
    // into 3 tasks, the canonical skew scale-killer (and BroadcastHashJoin
    // supports <=> as its key expression).
    "join_null_safe" -> ((s, d) => {
      val a = t(s, d, "orders").select(
        nullif(col("o_orderstatus"), lit("P")).as("k"),
        col("o_orderkey"))
      val b = t(s, d, "orders")
        .select(nullif(col("o_orderstatus"), lit("P")).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_same_status"))
      a.join(broadcast(b), a("k") <=> b("k"))
        .groupBy(a("k").as("status_or_null"))
        .agg(count(lit(1)).as("n_orders"), max(col("n_same_status")).as("n_same"))
    }),

    // spatial radius self-join via grid blocking (ops/SpatialGrid.scala —
    // design notes there). Points live on a synthetic 1000×1000 plane
    // derived deterministically from the supplier key: salted-md5
    // coordinates in integer TENTHS, r = 120 units = 1200 tenths, so the
    // distance predicate is EXACT bigint — no trig, no fp in the answer;
    // only the reported distance takes one sqrt, computed identically on
    // both engines. The DuckDB oracle is the brute-force O(n²) join, so
    // hash parity PROVES blocked ≡ exact on the real points.
    // radius-bounded kNN (top-3 nearest within r = 1200) per point: the
    // candidate set comes from the SAME grid blocking as
    // join_spatial_grid (complete within r by construction), then one
    // per-anchor rank window over the radius-bounded — hence locally
    // bounded — neighbor list. The radius bound is what makes blocked
    // kNN exact: an unbounded kNN could have its k-th neighbor outside
    // the 3×3 cell ring. Distances are exact bigints; ties break on the
    // neighbor key. The DuckDB oracle is the brute-force quadratic form,
    // so hash parity proves blocked ≡ exact.
    "join_spatial_knn" -> ((s, d) => {
      def axis(salt: String): Column =
        conv(substring(md5(concat(lit(salt),
          col("s_suppkey").cast("string"))), 1, 4), 16, 10)
          .cast("bigint") % 10000
      val pts = t(s, d, "supplier")
        .select(col("s_suppkey").as("k"),
          axis("gx:").as("xi"), axis("gy:").as("yi"))
      val pairs = graft.ops.SpatialGrid.radiusSelfJoin(pts, 1200L)
        .filter(col("k1") =!= col("k2"))
      val sym = pairs.select(col("k1").as("anchor"), col("k2").as("nb"),
          col("d2"))
        .union(pairs.select(col("k2"), col("k1"), col("d2")))
      val w = Window.partitionBy(col("anchor"))
        .orderBy(col("d2"), col("nb"))
      sym.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
    }),

    "join_spatial_grid" -> ((s, d) => {
      def axis(salt: String): Column =
        conv(substring(md5(concat(lit(salt),
          col("s_suppkey").cast("string"))), 1, 4), 16, 10)
          .cast("bigint") % 10000
      val pts = t(s, d, "supplier")
        .select(col("s_suppkey").as("k"),
          axis("gx:").as("xi"), axis("gy:").as("yi"))
      graft.ops.SpatialGrid.radiusSelfJoin(pts, 1200L)
        .select(col("k1"), col("k2"),
          round(sqrt(col("d2").cast("double")) / 10.0, 3).as("dist"))
        .orderBy(col("k1"), col("k2"))
    }),

    // DBSCAN (Ester et al. 1996) over the same md5-derived supplier
    // coordinates: eps = 600, minPts = 4 (core ⟺ ≥ 3 neighbors within
    // eps). Fully composed from existing scale-safe machinery — the
    // neighbor pairs come from the grid-blocked radius join (never a
    // quadratic theta join), clusters are min-label connected components
    // over the core-core subgraph (the large-star/small-star O(log d)
    // loop), and border points take the MIN label among their adjacent
    // cores (the deterministic replacement for scan-order assignment,
    // which is irreproducible by design). Integer coordinates make the
    // distance predicate exact; every role/label decision is integer.
    // Twin: brute-force pairs + recursive-CTE closure (the dedup_exact
    // pattern), so driver hash parity proves blocked ≡ exact again.
    "spatial_dbscan" -> ((s, d) => {
      def axis(salt: String): Column =
        conv(substring(md5(concat(lit(salt),
          col("s_suppkey").cast("string"))), 1, 4), 16, 10)
          .cast("bigint") % 10000
      val pts = t(s, d, "supplier")
        .select(col("s_suppkey").as("k"),
          axis("gx:").as("xi"), axis("gy:").as("yi"))
        .ckpt(eager = false) // pairs leg + noise anti-join leg
      val pairs = graft.ops.SpatialGrid.radiusSelfJoin(pts, 600L)
        .select(col("k1"), col("k2"))
      val sym = pairs.union(pairs.select(col("k2"), col("k1")))
        .toDF("a", "b")
        .ckpt(eager = false) // counts + core edges + border
      val core = sym.groupBy(col("a")).agg(count(lit(1)).as("nn"))
        .filter(col("nn") >= 3).select(col("a").as("k"))
        .ckpt(eager = false)
      val coreEdges = sym
        .join(core.select(col("k").as("a")), Seq("a"))
        .join(core.select(col("k").as("b")), Seq("b"))
        .filter(col("a") < col("b"))
        .select(col("a").as("doc1"), col("b").as("doc2"))
      val labels = graft.llm.Dedup.connectedComponentsFast(
        core.select(col("k").as("doc_id")), coreEdges)
        .ckpt(eager = false) // core output + border assignment
      val coreOut = labels.select(col("doc_id").as("k"),
        lit("core").as("role"), col("label").as("cluster"))
      val border = sym
        .join(core.select(col("k").as("a")), Seq("a"), "left_anti")
        .join(labels.select(col("doc_id").as("b"), col("label")), Seq("b"))
        .groupBy(col("a").as("k"))
        .agg(min(col("label")).as("cluster"))
        .select(col("k"), lit("border").as("role"), col("cluster"))
      val assigned = coreOut.union(border)
      val noise = pts.select(col("k"))
        .join(assigned.select(col("k")), Seq("k"), "left_anti")
        .select(col("k"), lit("noise").as("role"),
          lit(-1L).as("cluster"))
      assigned.union(noise)
    }),

    // ---- More TPC-H composite shapes -----------------------------------
    // Q10 shape: revenue lost to returned items per customer, top 20.
    // nation broadcasts (true dim); customer joins post-aggregate-sized
    // fact output via AQE's choice.
    "tpch_q10_returns" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("1999-07-01").cast("timestamp"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // Q12 shape (adapted: fixture has no shipmode/receiptdate): late-vs-
    // prompt shipping lag per linestatus with URGENT/HIGH conditional
    // counts — the map-side conditional-aggregate pattern.
    "tpch_q12_priority" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    }),

    // Q6 shape: the pure scan-filter-aggregate — every predicate is
    // scan-pushable, so the plan is one parquet scan + partial/final agg.
    "tpch_q6_forecast" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("2000-01-01").cast("timestamp") &&
                col("l_discount").between(0.02, 0.06) &&
                col("l_quantity") < 30)
        // decimal-exact accumulation: same sf0.1-scale drift class as Q19
        // (global sum ~4e8); see the note there
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(12,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Q19 shape: disjunctive multi-clause predicate over a joined pair —
    // Catalyst extracts the common l_partkey = p_partkey conjunct so the
    // join stays an equi-join and only the residual OR filters post-join.
    "tpch_q19_brands" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)))
        // decimal-exact revenue (the agg_decimal_money pattern): a single
        // corpus-wide double sum of ~5e8 drifts past the comparator's 6th
        // decimal once the row count reaches sf0.1 — summation order is
        // not associative in IEEE doubles. Exact DECIMAL accumulation is
        // engine-independent; cast back to double only at the end.
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1.0) - col("l_discount")).cast("decimal(12,2)"))
          .cast("double").as("revenue"), count(lit(1)).as("n_lines"))
    }),

    // Q14 shape: promo revenue share in a ship-month — scalar percentage
    // from two conditional sums in ONE pass (no second scan).
    "tpch_q14_promo" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.filter(col("l_shipdate") >= lit("1999-03-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1999-04-01").cast("timestamp"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev)).as("promo_revenue_pct"))
    }),

    // Q8 shape (adapted to the fixture's reduced columns — no partsupp):
    // national market share — the widest TPC-H join tree expressible here
    // (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ supplier ⋈ nation
    // ⋈ part). Both nation legs and region are true dims → broadcast;
    // part/customer/supplier are left to AQE (they scale with the facts).
    // The share is two conditional sums in one final agg keyed on the
    // order year — 2 result rows from a fact-sized input.
    "tpch_q8_market_share" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val sup = t(s, d, "supplier")
      val n1 = t(s, d, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = t(s, d, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val r = t(s, d, "region").filter(col("r_name") === "EUROPE")
      val p = t(s, d, "part").filter(col("p_type") === "STANDARD")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("2001-01-01").cast("timestamp"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .select(year(col("o_orderdate")).as("o_year"),
          revenue.as("volume"), col("supp_nation"))
        .groupBy(col("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", col("volume"))
            .otherwise(lit(0.0))) / sum(col("volume"))).as("mkt_share"))
    }),

    // Q13 shape: customer order-count distribution — the canonical
    // outer-join-then-double-aggregate. The join condition carries the
    // extra priority predicate (a join-side filter, NOT a post-join WHERE:
    // a WHERE would turn the left join inner and drop zero-order
    // customers). Second agg keys on the first agg's tiny output.
    "tpch_q13_custdist" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // Q15 shape: top supplier by quarterly revenue — an aggregate consumed
    // TWICE (rows + its own scalar max). localCheckpoint materializes the
    // 100-row agg once; the max side is a 1-row broadcast, so the "equals
    // the maximum" filter is a broadcast join, not a second fact scan.
    // Double-equality on the max is safe: both legs read the SAME
    // materialized sums, so there is no recomputation drift.
    "tpch_q15_topsupp" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1999-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sumRevenue.as("total_revenue"))
        .ckpt(eager = false)
      val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
      t(s, d, "supplier")
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    // Q2 shape (adapted: fixture has no partsupp, so "supply cost" is the
    // minimum observed sale price per (part, supplier) pair in lineitem):
    // min-cost supplier per part within one region. Aggregate first, then
    // a per-part window min + equality filter keeps EVERY supplier tied at
    // the minimum — the window re-shuffles only the region-pruned
    // aggregate output, never the fact table, and the min is an exact
    // value picked from the data (no arithmetic) so the FP equality is
    // safe on both engines. The limit rides a total order with a unique
    // (p_partkey, s_suppkey) tiebreaker.
    "tpch_q2_mincost" -> ((s, d) => {
      val euro = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val p = t(s, d, "part").filter(col("p_size").between(10, 20))
      // r15 (§2.3/§3.2): both downstream joins filter ON THE GROUP KEYS, so
      // semi-pruning lineitem to qualifying (part, supplier) keys BEFORE
      // the near-unique pair aggregate is result-identical (groups drop
      // wholesale; min() inside a kept group is untouched) and the big
      // shuffle runs over ~4-5% of the lines (p_size band ≈ 22% of parts ×
      // EUROPE ≈ 20% of suppliers) instead of all of them.
      val cost = t(s, d, "lineitem")
        .join(p.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(euro.select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("supply_cost"))
      cost.join(p, col("l_partkey") === col("p_partkey"))
        .join(euro, col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_cost",
          min(col("supply_cost")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("supply_cost") === col("min_cost"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("s_acctbal"), col("n_name"), col("supply_cost"))
        .orderBy(desc("s_acctbal"), asc("p_partkey"), asc("s_suppkey"))
        .limit(20)
    }),

    // Q9 shape (adapted: no partsupp → unit cost proxied by a fixed
    // retailprice fraction): profit by supplier nation × ship year over a
    // name-filtered part family. The LIKE filter prunes part before the
    // join (pushed to the scan); nation broadcasts; part/supplier are
    // AQE-sized since they scale with the facts.
    "tpch_q9_profit" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "part").filter(col("p_name").like("%gear%")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).as("o_year"))
        // exact 1/10000-dollar units: revU − 10·qty·retail_cents
        // (0.1·qty·retail dollars ≡ qty·rc·10 in 1e-4-dollar units)
        .agg(((sum(revenueU
          - lit(10L) * round(col("l_quantity")).cast("bigint")
            * round(col("p_retailprice") * 100).cast("bigint")))
          .cast("double") / 10000.0).as("sum_profit"))
    }),

    // Q11 shape (adapted: "inventory value" = price×qty shipped by one
    // nation's suppliers): per-part value kept only where it exceeds a
    // fixed fraction of the national total. The agg output is
    // materialized once (lazy localCheckpoint) and consumed twice — rows
    // + its own grand total; the 1-row total broadcasts into a theta
    // join, so the second consumption costs no fact re-scan (Q15's
    // reuse pattern with a > instead of =).
    "tpch_q11_important" -> ((s, d) => {
      val vals = t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")
          .filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(col("l_extendedprice") * col("l_quantity")).as("part_value"))
        .ckpt(eager = false)
      val thr = vals.agg((sum(col("part_value")) * lit(0.002)).as("threshold"))
      vals.join(broadcast(thr), col("part_value") > col("threshold"))
        .select(col("partkey"), col("part_value"))
    }),

    // Q16 shape (adapted): distinct-supplier counts per part descriptor
    // over the observed (part, supplier) sale pairs, excluding
    // negative-balance suppliers via an anti-join — the NOT IN subquery's
    // scale-safe form (stays a bounded shuffle even if the exclusion
    // list grew fact-sized, where a broadcast NOT IN would OOM).
    "tpch_q16_suppcnt" -> ((s, d) => {
      // r14: the part-descriptor filter keeps ~1/6 of parts, so it
      // semi-prunes the pair stream BEFORE the distinct — the expensive
      // near-unique-key shuffle runs over the qualifying ~16% instead of
      // every observed (part, supplier) pair. The descriptor join-back
      // then attaches brand/type/size to the already-distinct pairs.
      val keep = t(s, d, "part").filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47))
      val pairs = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(keep.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .distinct()
        .join(t(s, d, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
      pairs.join(keep, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // Q20 shape (adapted): suppliers who shipped excess volume of a
    // name-matched part family in one year — two nested semi-joins. The
    // part family semi-prunes the qty aggregate's INPUT (filter before
    // shuffle), the >threshold pair aggregate then semi-prunes supplier;
    // both IN subqueries plan as LeftSemi hash joins and nothing wider
    // than the qualifying pair list ever materializes. The threshold
    // compares sums of integral quantities — exact in FP.
    "tpch_q20_excess" -> ((s, d) => {
      val partsLike = t(s, d, "part")
        .filter(col("p_name").like("%small%")).select(col("p_partkey"))
      val shipped = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("2000-01-01").cast("timestamp"))
        .join(partsLike, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 60)
        .select(col("l_suppkey")).distinct()
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name").isin(
          "NATION_1", "NATION_6", "NATION_11", "NATION_16", "NATION_21"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    }),

    // Q5 proper (local-supplier volume): distinct from join_star_revenue
    // by the defining Q5 twist — the supplier must sit in the SAME
    // nation as the customer (s_nationkey = c_nationkey inside the join
    // condition), so revenue only counts intra-nation fulfilment. The
    // region-filtered nation list broadcasts; the equality lands in the
    // supplier hash join's key, not a post-filter.
    "tpch_q5_local_supplier" -> ((s, d) => {
      val asia = broadcast(t(s, d, "nation")
        .join(broadcast(t(s, d, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      t(s, d, "lineitem")
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
                  col("o_orderdate") <  lit("2000-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(asia, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sumRevenue.as("revenue"))
    }),

    // item-item cosine recommender: per anchor item, the top-5
    // co-purchased neighbors by cooccurrence cosine cooc/√(f_i·f_j).
    // Pairs come from the SAME within-basket HOF expansion as
    // join_basket_pairs (quadratic in basket size only, never in
    // orders); the per-anchor candidate set is bounded by co-purchase
    // degree, so the rank window never sees more than one item's
    // neighborhood. Cosine inputs are exact integers; the score lands
    // on the floor-ppm grid.
    "rec_item_cosine" -> ((s, d) => {
      // r14: bounded_collect_set(l_partkey, 64) — the basket buffer is a
      // primitive long[66] with flat serialization, so the sort-based
      // aggregation this near-unique key stream falls back to sorts flat
      // binary rows and allocates nothing per update (stock collect_set's
      // boxed per-group set was this family's GC driver — the
      // llm_substring_dup lesson). TPC-H baskets hold ≤7 lineitems; the
      // 1-row max-size probe on the grouped checkpoint below makes the
      // cap FAIL-LOUD (a saturated basket reads 65), so truncated sets
      // can never stream.
      val baskets = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(expr("bounded_collect_set(l_partkey, 64)").as("parts"))
        .ckpt(eager = false)
      val maxSz = basketMaxSz(d, baskets)
      require(maxSz <= 64, s"rec_item_cosine: a basket holds $maxSz " +
        "distinct parts — saturates the bounded_collect_set cap 64; " +
        "raise the cap")
      val perPart = baskets
        .select(explode(col("parts")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("f"))
      // two stacked codegen generators (posexplode + sliced explode)
      // instead of the nested interpreted transform/flatten lambda —
      // the exactPairCommon lesson (r13): HOF lambdas run interpreted
      // per element, and this expansion touches every basket
      val pairs = baskets
        .filter(size(col("parts")) >= 2)
        .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
        .select(col("p1"), explode(expr(
          "slice(parts, i + 2, size(parts) - i - 1)")).as("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_both"))
      val sym = pairs.union(pairs.select(col("p2"), col("p1"), col("n_both")))
      val w = Window.partitionBy(col("p1"))
        .orderBy(col("cos_ppm").desc, col("p2"))
      sym
        .join(perPart.select(col("pk").as("p1"), col("f").as("n_p1")),
          Seq("p1"))
        .join(perPart.select(col("pk").as("p2"), col("f").as("n_p2")),
          Seq("p2"))
        .filter(col("n_both") >= 2)
        .selectExpr("p1", "p2", "n_both",
          "CAST(floor(1e6 * n_both / sqrt(CAST(n_p1 AS DOUBLE) * " +
            "CAST(n_p2 AS DOUBLE)) + 0.5) AS BIGINT) AS cos_ppm")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
    }),

    // Q3 shape (shipping priority), DataFrame-API variant: Subqueries
    // carries the spark.sql surface of Q3 (`tpch_q3_shipping`, 1999
    // cutoff); this is the declarative-plan twin at the 1998 cutoff —
    // distinct name, both live (they shadowed each other until r9).
    // Segment-filtered customers × orders
    // placed before the cutoff × lines shipped after it, top-10 orders by
    // revenue. Both date predicates push to their scans; the limit plans
    // as TakeOrderedAndProject (per-partition heap, never a global sort);
    // l_orderkey is the unique tiebreak the hash compare needs.
    "tpch_q3_shipping_df" -> ((s, d) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
        .join(t(s, d, "orders").filter(col("o_orderdate") < cutoff),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem").filter(col("l_shipdate") > cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
    }),

    // Q4 shape (order-priority checking, EXISTS adapted to the schema:
    // "has a returned line" replaces commit<receipt): the EXISTS plans as
    // a LeftSemi hash join — lineitem is filtered BEFORE the shuffle and
    // only order keys cross it; counts per priority are exact integers.
    "tpch_q4_priority_check" -> ((s, d) => {
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("2000-01-01").cast("timestamp"))
        .join(t(s, d, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // Q7 shape (volume shipping between two nations, by direction and
    // year): both nation dimensions are broadcast PRE-FILTERED to the two
    // nations of interest, so the 4-way fact join only carries qualifying
    // rows; the anti-symmetric pair filter runs on the 2×2 broadcast
    // product, not the facts.
    "tpch_q7_nation_volume" -> ((s, d) => {
      // 4-nation set: at sf0.001 the tiny supplier table covers only a
      // couple of nations, so a literal 2-nation pair can be empty —
      // the 4×4 grid keeps the anti-symmetric shape non-degenerate at
      // every sf while staying a broadcast-filtered dimension
      val pair = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
      val n1 = broadcast(t(s, d, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, d, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumRevenue.as("volume"))
    }),

    // Q17 shape (small-quantity-order revenue), DataFrame-API variant of
    // Subqueries' correlated-subquery surface (distinct brand cut; both
    // live since r9 — they shadowed each other before): the per-part
    // average decorrelates into ONE grouped aggregate equi-joined back —
    // never a per-row subquery. The branded line set is materialized once
    // (lazy checkpoint) for both the aggregate and the probe. Quantities
    // are integral doubles, so avg = exact-sum/count is deterministic on
    // both engines and the 0.2·avg threshold cannot ulp-flip.
    "tpch_q17_small_qty_df" -> ((s, d) => {
      val branded = t(s, d, "lineitem")
        .join(t(s, d, "part").filter(col("p_brand") === "Brand#3")
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .ckpt(eager = false)
      val avgQty = branded.groupBy(col("l_partkey").as("ap"))
        .agg((avg(col("l_quantity")) * lit(0.2)).as("qty_cut"))
      branded.join(avgQty, col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < col("qty_cut"))
        // exact cents then ONE division chain: the raw double sum was
        // run-to-run unstable inside DuckDB itself at sf1 (parallel
        // aggregation order), never mind cross-engine
        .agg((sum(round(col("l_extendedprice") * 100).cast("bigint"))
          .cast("double") / 100.0 / lit(7.0)).as("avg_yearly"))
    }),

    // Q18 shape (large-volume customers): the HAVING sum(qty) aggregate
    // runs FIRST and only qualifying order keys join outward to orders/
    // customer — the classic aggregate-then-join ordering that keeps the
    // join input at |big orders|, not |lineitem|. Integral quantities ⇒
    // exact threshold; top-20 via TakeOrderedAndProject.
    "tpch_q18_big_orders" -> ((s, d) => {
      val big = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300.0)
      big.join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Q22 shape (prospect customers, adapted: "no RECENT order" replaces
    // the phone-prefix filter): the positive-balance average is computed
    // over exact CENTS (2-decimal doubles recover integers), so the
    // threshold is summation-order-free on both engines; the NOT EXISTS
    // is a left-anti join against the date-filtered order keys (filter
    // pushed to the scan, only keys shuffle).
    "tpch_q22_prospects" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_acctbal"),
        round(col("c_acctbal") * 100).cast("bigint").as("bal_cents"))
      val thr = cust.filter(col("bal_cents") > 0L)
        .agg((sum(col("bal_cents").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_cents"))
      cust.join(broadcast(thr),
          col("bal_cents").cast("double") > col("avg_cents"))
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("c_acctbal")).as("totacctbal"))
    })
  )

  /** DuckDB-equivalent SQL, same aliases, same table names. */
  val sql: Map[String, String] = Map(
    "tpch_q5_local_supplier" -> """
      SELECT n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
                   AND s_nationkey = c_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '2000-01-01'
      GROUP BY n_name""",

    "rec_item_cosine" -> """
      WITH bp AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      ), freq AS (
        SELECT p, count(*) AS f FROM bp GROUP BY p
      ), pairs AS (
        SELECT a.p AS p1, b.p AS p2, count(*) AS n_both
        FROM bp a JOIN bp b ON a.ok = b.ok AND a.p <> b.p
        GROUP BY 1, 2
      ), scored AS (
        SELECT p1, p2, n_both,
               CAST(floor(1e6 * n_both / sqrt(CAST(n_p1 AS DOUBLE) * CAST(n_p2 AS DOUBLE)) + 0.5) AS BIGINT) AS cos_ppm
        FROM (SELECT pairs.p1, pairs.p2, pairs.n_both,
                     f1.f AS n_p1, f2.f AS n_p2
              FROM pairs
              JOIN freq f1 ON f1.p = pairs.p1
              JOIN freq f2 ON f2.p = pairs.p2)
        WHERE n_both >= 2
      )
      SELECT p1, p2, n_both, cos_ppm, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY p1
          ORDER BY cos_ppm DESC, p2) AS rn
        FROM scored)
      WHERE rn <= 5""",

    "tpch_q3_shipping_df" -> """
      SELECT l_orderkey,
             sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
             o_orderdate
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""",

    "tpch_q4_priority_check" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '2000-01-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority""",

    "tpch_q7_nation_volume" -> """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
        AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
        AND n1.n_name <> n2.n_name
      GROUP BY 1, 2, 3""",

    "tpch_q17_small_qty_df" -> """
      WITH branded AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_brand = 'Brand#3')
      ), cuts AS (
        SELECT l_partkey AS ap, avg(l_quantity) * 0.2 AS qty_cut
        FROM branded GROUP BY l_partkey
      )
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
      FROM branded JOIN cuts ON l_partkey = ap
      WHERE l_quantity < qty_cut""",

    "tpch_q18_big_orders" -> """
      WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300.0
      )
      SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
             total_qty
      FROM big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20""",

    "tpch_q22_prospects" -> """
      WITH cust AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
      ), thr AS (
        SELECT CAST(sum(bal_cents) AS DOUBLE) / count(*) AS avg_cents
        FROM cust WHERE bal_cents > 0
      )
      SELECT c_nationkey AS nationkey, count(*) AS numcust,
             sum(c_acctbal) AS totacctbal
      FROM cust, thr
      WHERE CAST(bal_cents AS DOUBLE) > avg_cents
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY c_nationkey""",

    "tpch_q10_returns" -> """
      SELECT c_custkey, c_name, n_name, c_acctbal,
             sum(l_extendedprice * (1.0 - l_discount)) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '1999-07-01'
      GROUP BY c_custkey, c_name, n_name, c_acctbal
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",

    "tpch_q12_priority" -> """
      SELECT l_linestatus,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate
      GROUP BY l_linestatus""",

    "agg_bool" -> """
      SELECT o_orderstatus,
             bool_and(o_totalprice > 1000.0) AS all_over_1k,
             bool_or(o_totalprice > 450000.0) AS any_over_450k,
             bool_and(o_orderpriority IS NOT NULL) AS all_prioritized
      FROM orders GROUP BY o_orderstatus""",

    // brute-force band join — DuckDB's IEJoin handles the range predicate;
    // the Spark side must reproduce it exactly from bucket blocking
    "join_band_numeric" -> """
      WITH p AS (SELECT p_partkey AS k, p_retailprice AS price FROM part
                 WHERE p_partkey <= 2000)
      SELECT a.k AS k1, b.k AS k2,
             round(abs(a.price - b.price), 2) AS price_gap
      FROM p a JOIN p b
        ON a.k < b.k
       AND b.price >= a.price - 0.25 AND b.price <= a.price + 0.25
      ORDER BY k1, k2""",

    "join_fuzzy_hamming" -> """
      SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      FROM customer a
      JOIN customer b
        ON length(a.c_name) = length(b.c_name)
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1""",

    "join_spatial_knn" -> """
      WITH pts AS (
        SELECT s_suppkey AS k,
               CAST(('0x' || substr(md5('gx:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000 AS xi,
               CAST(('0x' || substr(md5('gy:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000 AS yi
        FROM supplier
      ), cand AS (
        SELECT a.k AS anchor, b.k AS nb,
               (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) AS d2
        FROM pts a JOIN pts b ON a.k <> b.k
        WHERE (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) <= 1440000
      )
      SELECT anchor, nb, d2, rn FROM (
        SELECT anchor, nb, d2,
               row_number() OVER (PARTITION BY anchor
                 ORDER BY d2, nb) AS rn
        FROM cand)
      WHERE rn <= 3""",

    "join_spatial_grid" -> """
      WITH pts AS (
        SELECT s_suppkey AS k,
               CAST(('0x' || substr(md5('gx:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000 AS xi,
               CAST(('0x' || substr(md5('gy:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000 AS yi
        FROM supplier)
      SELECT a.k AS k1, b.k AS k2,
             ROUND(SQRT(CAST((a.xi-b.xi)*(a.xi-b.xi)
                           + (a.yi-b.yi)*(a.yi-b.yi) AS DOUBLE))/10.0, 3)
               AS dist
      FROM pts a JOIN pts b ON a.k < b.k
      WHERE (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) <= 1440000
      ORDER BY k1, k2""",

    "spatial_dbscan" -> """
      WITH RECURSIVE pts AS (
        SELECT s_suppkey AS k,
               CAST(('0x' || substr(md5('gx:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000 AS xi,
               CAST(('0x' || substr(md5('gy:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000 AS yi
        FROM supplier
      ), prs AS (
        SELECT a.k AS k1, b.k AS k2
        FROM pts a JOIN pts b ON a.k < b.k
        WHERE (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) <= 360000
      ), sym AS (
        SELECT k1 AS a, k2 AS b FROM prs
        UNION ALL SELECT k2, k1 FROM prs
      ), core AS (
        SELECT a AS k FROM sym GROUP BY a HAVING count(*) >= 3
      ), ce AS (
        SELECT s.a AS src, s.b AS dst
        FROM sym s JOIN core c1 ON c1.k = s.a JOIN core c2 ON c2.k = s.b
      ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM ce
        UNION
        SELECT e.dst, rr.r FROM reach rr JOIN ce e ON e.src = rr.node
      ), comp AS (
        SELECT node, min(r) AS lbl FROM reach GROUP BY node
      ), corelbl AS (
        SELECT c.k, coalesce(mp.lbl, c.k) AS lbl
        FROM core c LEFT JOIN comp mp ON mp.node = c.k
      ), border AS (
        SELECT s.a AS k, min(cl.lbl) AS lbl
        FROM sym s JOIN corelbl cl ON cl.k = s.b
        WHERE s.a NOT IN (SELECT k FROM core)
        GROUP BY s.a
      )
      SELECT k, 'core' AS role, lbl AS cluster FROM corelbl
      UNION ALL
      SELECT k, 'border', lbl FROM border
      UNION ALL
      SELECT p.k, 'noise', CAST(-1 AS BIGINT)
      FROM pts p
      WHERE p.k NOT IN (SELECT k FROM corelbl)
        AND p.k NOT IN (SELECT k FROM border)""",

    "join_null_safe" -> """
      SELECT a.k AS status_or_null, count(*) AS n_orders,
             max(b.n_same_status) AS n_same
      FROM (SELECT nullif(o_orderstatus, 'P') AS k, o_orderkey
            FROM orders) a
      JOIN (SELECT nullif(o_orderstatus, 'P') AS k, count(*) AS n_same_status
            FROM orders GROUP BY 1) b
        ON a.k IS NOT DISTINCT FROM b.k
      GROUP BY a.k""",

    "tpch_q6_forecast" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue,
             count(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        AND l_shipdate <  TIMESTAMP '2000-01-01'
        AND l_discount BETWEEN 0.02 AND 0.06
        AND l_quantity < 30""",

    "tpch_q19_brands" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue,
             count(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
             AND l_quantity BETWEEN 10 AND 40)""",

    "tpch_q14_promo" -> """
      SELECT 100.0 *
               sum(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1.0 - l_discount)
                        ELSE 0.0 END) /
               sum(l_extendedprice * (1.0 - l_discount)) AS promo_revenue_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1999-03-01'
        AND l_shipdate <  TIMESTAMP '1999-04-01'""",

    // DuckDB year() is BIGINT; Spark's is INT — the cast pins the schema
    "tpch_q8_market_share" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1.0 - l_discount)
                      ELSE 0.0 END) /
               sum(l_extendedprice * (1.0 - l_discount)) AS mkt_share
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN part ON l_partkey = p_partkey
      WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
        AND o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '2001-01-01'
      GROUP BY 1""",

    "tpch_q13_custdist" -> """
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
      )
      GROUP BY c_count""",

    "tpch_q15_topsupp" -> """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate <  TIMESTAMP '1999-04-01'
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""",

    "tpch_q2_mincost" -> """
      WITH cost AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
        FROM lineitem GROUP BY 1, 2
      ), euro AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
      ), ranked AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
               supply_cost,
               min(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
        FROM cost
        JOIN part ON l_partkey = p_partkey
        JOIN euro ON l_suppkey = s_suppkey
        WHERE p_size BETWEEN 10 AND 20
      )
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
             supply_cost
      FROM ranked WHERE supply_cost = min_cost
      ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 20""",

    "tpch_q9_profit" -> """
      SELECT n_name AS nation, year(l_shipdate) AS o_year,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 - 10 * CAST(round(l_quantity) AS BIGINT)
                   * CAST(round(p_retailprice * 100) AS BIGINT))
               AS DOUBLE) / 10000.0 AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
      GROUP BY 1, 2""",

    "tpch_q11_important" -> """
      WITH vals AS (
        SELECT l_partkey AS partkey,
               sum(l_extendedprice * l_quantity) AS part_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY 1
      )
      SELECT partkey, part_value FROM vals
      WHERE part_value > (SELECT sum(part_value) * 0.002 FROM vals)""",

    "tpch_q16_suppcnt" -> """
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1'
        AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
        AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3""",

    "tpch_q20_excess" -> """
      WITH shipped AS (
        SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate <  TIMESTAMP '2000-01-01'
          AND l_partkey IN
                (SELECT p_partkey FROM part WHERE p_name LIKE '%small%')
        GROUP BY 1, 2
      )
      SELECT s_suppkey, s_name, s_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_6', 'NATION_11', 'NATION_16',
                       'NATION_21')
        AND s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 60)""",

    "agg_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_base_price,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS sum_disc_price,
             avg(l_quantity) AS avg_qty,
             avg(l_discount) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2002-09-01'
      GROUP BY l_returnflag, l_linestatus""",

    "agg_count_distinct" -> """
      SELECT l_returnflag,
             count(DISTINCT l_orderkey) AS n_orders,
             count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
             count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag""",

    "agg_decimal_money" -> """
      SELECT l_returnflag,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_price_dec,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_disc_price_dec,
             CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS max_price_dec,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag""",

    "agg_rollup" -> """
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS revenue,
             count(*) AS n
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)""",

    "agg_cube" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "agg_grouping_sets" -> """
      SELECT coalesce(o_orderstatus, 'ALL') AS st,
             coalesce(o_orderpriority, 'ALL') AS pri,
             count(*) AS n, sum(o_totalprice) AS total,
             CAST(grouping(o_orderstatus) AS INT) AS g_st,
             CAST(grouping(o_orderpriority) AS INT) AS g_pri
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    "agg_stats" -> """
      SELECT l_returnflag,
             stddev_samp(l_quantity) AS sd_qty,
             var_samp(l_discount) AS var_disc,
             corr(l_quantity, l_extendedprice) AS corr_qp,
             covar_samp(l_quantity, l_discount) AS cov_qd,
             min(l_discount) AS min_disc,
             max(l_tax) AS max_tax
      FROM lineitem GROUP BY l_returnflag""",

    "agg_stats2" -> """
      WITH mom AS (
        SELECT l_returnflag,
               regr_slope(l_discount, l_quantity) AS slope_dq,
               regr_intercept(l_discount, l_quantity) AS icept_dq,
               regr_r2(l_discount, l_quantity) AS r2_dq,
               CAST(regr_count(l_discount, l_quantity) AS BIGINT) AS n_pairs,
               regr_avgx(l_discount, l_quantity) AS avg_qty,
               regr_avgy(l_discount, l_quantity) AS avg_disc,
               avg(l_discount) AS mu,
               avg(l_discount * l_discount) AS m2r,
               avg(l_discount * l_discount * l_discount) AS m3r,
               avg(l_discount * l_discount * l_discount * l_discount) AS m4r
        FROM lineitem GROUP BY l_returnflag
      )
      SELECT l_returnflag, slope_dq, icept_dq, r2_dq, n_pairs, avg_qty,
             avg_disc,
             (m3r - 3 * mu * m2r + 2 * mu * mu * mu)
               / pow(m2r - mu * mu, 1.5) AS skew_disc,
             (m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * pow(mu, 4))
               / pow(m2r - mu * mu, 2) - 3 AS kurt_disc
      FROM mom""",

    "join_basket_pairs" -> """
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      ), n AS (
        SELECT count(DISTINCT ok) AS n_orders FROM li
      ), per_part AS (
        SELECT pk, count(*) AS n_pk FROM li GROUP BY pk
      ), pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
      )
      SELECT p1, p2, n_both,
             CAST(n_both AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
             CAST(n_both AS DOUBLE) * CAST(n.n_orders AS DOUBLE) /
               (CAST(pa.n_pk AS DOUBLE) * CAST(pb.n_pk AS DOUBLE)) AS lift
      FROM pairs
      JOIN per_part pa ON pa.pk = p1
      JOIN per_part pb ON pb.pk = p2
      CROSS JOIN n
      ORDER BY n_both DESC, p1, p2
      LIMIT 50""",

    "agg_rfm_segments" -> """
      WITH rfm AS (
        SELECT o_custkey,
               CAST(date_diff('day', max(o_orderdate),
                 (SELECT max(o_orderdate) FROM orders)) AS INT)
                 AS recency_days,
               count(*) AS frequency,
               sum(o_totalprice) AS monetary
        FROM orders GROUP BY o_custkey
      ), cuts AS (
        SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rc,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
               quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc
        FROM rfm
      )
      SELECT o_custkey, recency_days, frequency, monetary,
             CASE WHEN recency_days <= rc[1] THEN 1
                  WHEN recency_days <= rc[2] THEN 2
                  WHEN recency_days <= rc[3] THEN 3 ELSE 4 END AS r_quartile,
             CASE WHEN frequency <= fc[1] THEN 1
                  WHEN frequency <= fc[2] THEN 2
                  WHEN frequency <= fc[3] THEN 3 ELSE 4 END AS f_quartile,
             CASE WHEN monetary <= mc[1] THEN 1
                  WHEN monetary <= mc[2] THEN 2
                  WHEN monetary <= mc[3] THEN 3 ELSE 4 END AS m_quartile
      FROM rfm CROSS JOIN cuts""",

    "agg_histogram" -> """
      WITH b AS (
        SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
      )
      SELECT CAST(least(19, floor((o_totalprice - mn) / ((mx - mn) / 20.0)))
               AS INT) AS bin,
             count(*) AS n,
             min(o_totalprice) AS bin_min,
             max(o_totalprice) AS bin_max
      FROM orders CROSS JOIN b
      GROUP BY 1""",

    "agg_percentile" -> """
      SELECT l_linestatus,
             quantile_cont(l_quantity, 0.5) AS median_qty,
             quantile_cont(l_extendedprice, 0.25) AS p25_price,
             quantile_cont(l_extendedprice, 0.75) AS p75_price
      FROM lineitem GROUP BY l_linestatus""",

    "agg_bowley_skew" -> """
      WITH v AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem),
      q AS (
        SELECT grp,
               CAST(quantile_disc(v, 0.25) AS BIGINT) AS q1,
               CAST(quantile_disc(v, 0.5) AS BIGINT) AS q2,
               CAST(quantile_disc(v, 0.75) AS BIGINT) AS q3
        FROM v GROUP BY grp)
      SELECT grp, q1, q2, q3,
             CASE WHEN q3 > q1 THEN CAST(floor(1e6 * (q3 + q1 - 2 * q2)
               / (q3 - q1) + 0.5) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS bowley_ppm
      FROM q""",

    "agg_qcd" -> """
      WITH v AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem),
      q AS (
        SELECT grp,
               CAST(quantile_disc(v, 0.25) AS BIGINT) AS q1,
               CAST(quantile_disc(v, 0.75) AS BIGINT) AS q3
        FROM v GROUP BY grp)
      SELECT grp, q1, q3,
             CASE WHEN q3 + q1 > 0 THEN CAST(floor(1e6 * (q3 - q1)
               / (q3 + q1) + 0.5) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS qcd_ppm
      FROM q""",

    "agg_percentile_disc" -> """
      SELECT l_returnflag,
             quantile_disc(l_extendedprice, 0.25) AS p25_disc,
             quantile_disc(l_extendedprice, 0.5) AS p50_disc,
             quantile_disc(l_extendedprice, 0.75) AS p75_disc,
             quantile_cont(l_extendedprice, 0.5) AS p50_cont
      FROM lineitem GROUP BY l_returnflag""",

    "agg_collect" -> """
      SELECT o_orderstatus,
             string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
      FROM orders GROUP BY o_orderstatus""",

    "agg_minmax_by" -> """
      SELECT o_orderstatus,
             max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
               * 10000000000 + o_orderkey) AS max_price_order,
             min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
               * 10000000000 + o_orderkey) AS min_price_order,
             max(o_totalprice) AS max_price,
             min(o_totalprice) AS min_price
      FROM orders GROUP BY o_orderstatus""",

    "agg_pivot" -> """
      SELECT user_id,
             sum(value) FILTER (WHERE event_type = 'click') AS click,
             sum(value) FILTER (WHERE event_type = 'view') AS view,
             sum(value) FILTER (WHERE event_type = 'purchase') AS purchase,
             sum(value) FILTER (WHERE event_type = 'signup') AS signup,
             sum(value) FILTER (WHERE event_type = 'error') AS error
      FROM events GROUP BY user_id""",

    "join_star_revenue" -> """
      SELECT r_name, n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate <  TIMESTAMP '2000-01-01'
      GROUP BY r_name, n_name""",

    "join_left_outer" -> """
      SELECT c_custkey, c_mktsegment,
             count(o_orderkey) AS n_orders,
             coalesce(sum(o_totalprice), 0.0) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment""",

    "join_right_outer" -> """
      SELECT c_nationkey,
             count(o_orderkey) AS n_orders,
             count(DISTINCT c_custkey) AS n_customers
      FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey""",

    "join_full_outer" -> """
      SELECT coalesce(s.s_nationkey, c.c_nationkey) AS nationkey,
             coalesce(s.n_suppliers, 0) AS n_suppliers,
             coalesce(c.n_customers, 0) AS n_customers
      FROM (SELECT s_nationkey, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey) s
      FULL OUTER JOIN
           (SELECT c_nationkey, count(*) AS n_customers
            FROM customer GROUP BY c_nationkey) c
      ON s.s_nationkey = c.c_nationkey""",

    "join_semi" -> """
      SELECT c_mktsegment, count(*) AS n
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      GROUP BY c_mktsegment""",

    "join_anti" -> """
      SELECT c_nationkey, count(*) AS n_orderless
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey""",

    "join_theta" -> """
      SELECT n1.n_name AS name1, n2.n_name AS name2
      FROM nation n1 JOIN nation n2
        ON n1.n_regionkey = n2.n_regionkey
       AND n1.n_nationkey < n2.n_nationkey""",

    "join_cross" -> """
      SELECT r1.r_name AS a, r2.r_name AS b
      FROM region r1 CROSS JOIN region r2""",

    "join_nation_matrix" -> """
      SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      GROUP BY n1.n_name, n2.n_name""",

    "set_union_all" -> """
      SELECT k, count(*) AS n FROM (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
      ) GROUP BY k""",

    "set_intersect" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal < 0""",

    "set_except" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal < 0""",

    "set_intersect_all" -> """
      SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
      INTERSECT ALL
      SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 300000.0""",

    "set_except_all" -> """
      SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
      EXCEPT ALL
      SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 300000.0""",

    "set_union_by_name" -> """
      SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind,
             CAST(NULL AS VARCHAR) AS segment
      FROM supplier
      UNION ALL
      SELECT c_name AS name, CAST(NULL AS DOUBLE) AS acctbal,
             'customer' AS kind, c_mktsegment AS segment
      FROM customer WHERE c_custkey <= 100""",

    "sort_nulls_limit" -> """
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_totalprice END AS price_or_null,
             o_orderstatus
      FROM orders
      ORDER BY price_or_null ASC NULLS FIRST, o_orderkey ASC
      LIMIT 50""",

    "distinct_pairs" -> """
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders""",

    "dedup_subset_keys" -> """
      SELECT o_orderstatus, o_orderpriority,
             min(o_orderkey) AS keeper_orderkey
      FROM orders GROUP BY o_orderstatus, o_orderpriority"""
  )
}
