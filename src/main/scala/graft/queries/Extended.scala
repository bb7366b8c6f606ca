package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.{t, registerAll}

/** Second-wave operator coverage (SURVEY.md §2): map functions, generators
  * (explode/posexplode), unpivot, interval RANGE frames, approximate
  * distinct, TF-IDF.
  */
object Extended {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    // map family over JSON-derived and constructed maps
    "fn_map" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        size(map_keys(from_json(col("props"), lit("map<string,int>"))))
          .as("n_keys"),
        concat_ws(",", array_sort(map_keys(
          from_json(col("props"), lit("map<string,int>"))))).as("keys_csv"),
        element_at(from_json(col("props"), lit("map<string,int>")), "k")
          .as("k_val"),
        // constructed map: element_at(map('a', v, 'b', -v), 'b') ≡ -v
        element_at(map(lit("a"), col("value"), lit("b"), -col("value")), "b")
          .as("b_val"),
        // map_from_entries over zipped arrays: extracting 'y' ≡ 2v
        element_at(
          map_from_entries(arrays_zip(
            array(lit("x"), lit("y")),
            array(col("value"), col("value") * 2))), "y").as("y_val"),
        // map_values: numeric sort → csv (order-canonical, hash-stable)
        array_join(
          array_sort(map_values(from_json(col("props"),
            lit("map<string,int>")))).cast("array<string>"), ",")
          .as("vals_csv"),
        // higher-order map fns: transform_values / map_filter
        element_at(transform_values(
          from_json(col("props"), lit("map<string,int>")),
          (_, v) => v * 10), "k").as("k_val10"),
        size(map_filter(
          from_json(col("props"), lit("map<string,int>")),
          (_, v) => v > 5)).as("n_big"),
        // map_zip_with over constructed maps: 'a' ≡ v + 10v = 11v
        element_at(map_zip_with(
          map(lit("a"), col("value"), lit("b"), col("value") * 2),
          map(lit("a"), col("value") * 10, lit("b"), col("value")),
          (_, v1, v2) => v1 + v2), "a").as("zip_a"))
    }),

    // second map wave: map_concat / map_entries / map_contains_key /
    // map_from_arrays / str_to_map. Constructed maps keep every expected
    // value a closed form of the row; entries render as a sorted k=v csv
    // (map iteration order is not a contract).
    "fn_map2" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        element_at(expr("map_concat(map('a', value), map('b', value * 2))"),
          "b").as("b_val"),
        size(expr("map_concat(map('a', value), map('b', value))"))
          .as("n_concat"),
        expr("""array_join(array_sort(transform(
            map_entries(from_json(props, 'map<string,int>')),
            e -> concat(e.key, '=', CAST(e.value AS STRING)))), ',')""")
          .as("entries_csv"),
        expr("map_contains_key(from_json(props, 'map<string,int>'), 'k')")
          .as("has_k"),
        element_at(
          expr("map_from_arrays(array('x', 'y'), array(value, -value))"),
          "y").as("y_neg"),
        element_at(expr("str_to_map('p:1,q:2', ',', ':')"), "q")
          .as("q_val"))
    }),

    // explode over a MAP column (key/value generator)
    "fn_explode_map" -> ((s, d) => {
      t(s, d, "events").select(col("event_id"),
        explode(from_json(col("props"), lit("map<string,int>")))
          .as(Seq("key", "value")))
    }),

    // generator surface: posexplode with ordinality
    "fn_explode" -> ((s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    }),

    // unpivot (wide → long)
    "set_unpivot" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("total"),
             count(lit(1)).cast("double").as("cnt"))
        .unpivot(
          Array(col("o_orderstatus")),
          Array(col("total"), col("cnt")),
          "metric", "val")
    }),

    // RANGE frame over event-time intervals (trailing 1 hour per user)
    "win_range_interval" -> ((s, d) => {
      graft.core.Tables.registerAll(s, d)
      s.sql("""
        SELECT event_id, user_id,
               count(*) OVER w AS n_last_hour,
               sum(value) OVER w AS sum_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      """)
    }),

    // HyperLogLog++ approximate distinct — the GLOBAL (ungrouped)
    // companion of the per-group agg_approx_bounds, and since r11
    // hash-checked the same way (VERDICT r10 #4, the board's last
    // rows-only entry retired): the raw sketch estimates are
    // engine-specific, so the oracle-facing columns are the exact
    // distinct counts plus in-band booleans asserting each estimate sits
    // inside its 3-sigma rsd band (default 0.05 → 15%, 0.01 → 3%,
    // 0.02 → 6%). DuckDB's twin computes the exact side and literal
    // TRUEs; a sketch regression hash-fails the driver check.
    // r12 re-plan: three multi-DISTINCT aggregates in one Aggregate made
    // Catalyst plan an Expand (every input row × 3) feeding a single
    // global group — 18M shuffled rows at sf1 and 490 s of wall. Each
    // (exact, approx) pair now reads its OWN pre-distincted compact
    // table: distinct() is a keyed hash aggregate with map-side partials,
    // count() over it is the exact answer, and HLL++ over the distinct
    // set is by definition the same estimate as over the multiset (the
    // sketch only tracks per-hash maxima). The three 1-row legs meet in
    // scalar-broadcast cross joins. sf1: 490 s → seconds.
    "agg_approx_distinct" -> ((s, d) => {
      def leg(key: String, ex: String, ap: String, rsd: Option[Double]) = {
        val dk = t(s, d, "lineitem").select(col(key).as("k")).distinct()
        dk.agg(count(lit(1)).as(ex),
          rsd.map(r => approx_count_distinct(col("k"), r))
            .getOrElse(approx_count_distinct(col("k"))).as(ap))
      }
      leg("l_orderkey", "exact_orders", "a_orders", None)
        .crossJoin(broadcast(
          leg("l_partkey", "exact_parts", "a_parts", Some(0.01))))
        .crossJoin(broadcast(
          leg("l_suppkey", "exact_supps", "a_supps", Some(0.02))))
        .select(col("exact_orders"), col("exact_parts"), col("exact_supps"),
          (abs(col("a_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.15).as("orders_in_band"),
          (abs(col("a_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.03).as("parts_in_band"),
          (abs(col("a_supps") - col("exact_supps")) <=
            col("exact_supps") * 0.06).as("supps_in_band"))
    }),

    // the sketch ACCURACY CONTRACT, made oracle-checkable: emit the exact
    // values (hash-compared against DuckDB) plus booleans asserting each
    // approximate answer sits inside its documented error band — HLL++
    // rsd 0.05 default / 0.01 explicit (3-sigma bands 15% / 3%),
    // percentile_approx(accuracy=1000) within 1% of the exact median.
    // DuckDB's twin computes the exact side and literal TRUEs, so a
    // sketch regression (or a band violation on new data) hash-fails the
    // driver check instead of hiding behind rows-only.
    // r12 re-plan (the 1323 s sf1 straggler): the one-Aggregate form both
    // planned an Expand (2 DISTINCTs) and buffered every raw price into
    // the exact `percentile` ObjectAgg. Now each (exact, approx) distinct
    // pair reads its own pre-distincted compact table (HLL over the
    // distinct set ≡ HLL over the multiset), and the exact median runs as
    // percentile WITH FREQUENCY over the (flag, price) grid — identical
    // interpolation semantics on a 10×-compacted weighted domain, so the
    // buffer is |distinct prices per flag|, never |rows|. The approx
    // median sketch still reads the raw stream — it is the thing under
    // test. Four ≤|flags|-row legs meet in broadcast joins.
    "agg_approx_bounds" -> ((s, d) => {
      val base = t(s, d, "lineitem")
      val ords = base
        .select(col("l_returnflag"), col("l_orderkey").as("k")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_orders"),
          approx_count_distinct(col("k")).as("a_orders"))
      val parts = base
        .select(col("l_returnflag"), col("l_partkey").as("k")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_parts"),
          approx_count_distinct(col("k"), 0.01).as("a_parts"))
      val med = base
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("px"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(px, 0.5D, cnt)").as("exact_median"))
      val amed = base.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("a_median"))
      ords.join(broadcast(parts), Seq("l_returnflag"))
        .join(broadcast(med), Seq("l_returnflag"))
        .join(broadcast(amed), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          round(col("exact_median"), 4).as("exact_median_price"),
          (abs(col("a_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.15).as("orders_in_band"),
          (abs(col("a_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.03).as("parts_in_band"),
          (abs(col("a_median") - col("exact_median")) <=
            col("exact_median") * 0.01).as("median_in_band"))
    }),

    // custom typed UDAF surface: Kahan-compensated sum (udaf(Aggregator))
    // running as a real partial+final aggregate; equals plain sum on this
    // data to oracle precision
    // mergeable histogram-quantile SKETCH with full oracle parity: the
    // dec_hist typed aggregate (Aggregators.DecHistAgg) bins positive
    // cents by (decimal length, first two digits) — 2-significant-digit
    // HDR resolution — and its quantile walk is pure integer arithmetic,
    // so unlike HLL/CMS/minhash this sketch is bit-replayable in DuckDB
    // and HASH-checked, not rows-only. The buffer is a constant 1710-slot
    // array per group: map-side partials stay tiny and the shuffle
    // carries sketches, never values.
    "agg_hdr_quantiles" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag").as("g"))
        .agg(expr(
          "dec_hist(CAST(round(l_extendedprice * 100) AS BIGINT))").as("qs"))
        .select(col("g"), col("qs")(0).as("n"), col("qs")(1).as("p50"),
          col("qs")(2).as("p90"), col("qs")(3).as("p99"))
    }),

    "agg_custom_udaf" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        // round to cents, and the twin compares against the EXACT
        // integer-cents sum: Kahan stays within 2ε·Σ|x| (~2e-5 at sf1's
        // Σ≈1e11) of exact, while DuckDB's own double sum drifted past
        // the 2-dp grid at sf1 — the r12 parity sweep caught exactly that
        .agg(round(expr("kahan_sum(l_extendedprice)"), 2).as("ksum_price"),
             expr("kahan_sum(l_quantity)").as("ksum_qty"))
    }),

    // Count-Min sketch accuracy CONTRACT in the agg_approx_bounds mold:
    // the sketch is built distributed (count_min_sketch aggregate, fixed
    // seed), then probed for each group key. CMS guarantees
    // exact ≤ estimate ≤ exact + ε·N with prob ≥ confidence; both bounds
    // are emitted as booleans next to the DuckDB-checked exact counts, so
    // a sketch regression hash-fails the driver. The driver-side traffic
    // is ONE serialized sketch + |distinct flags| rows (3) — bounded at
    // any scale, same class as the IVF centroid collect.
    "agg_cms_bounds" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val eps = 0.005; val conf = 0.99
      val bytes = li.agg(count_min_sketch(col("l_returnflag"),
          lit(eps), lit(conf), lit(42)).as("cms"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_cnt")).collect()
      val n = exact.map(_.getLong(1)).sum
      val rows = exact.map { r =>
        val est = cms.estimateCount(r.getString(0))
        (r.getString(0), r.getLong(1),
          est >= r.getLong(1), est <= r.getLong(1) + (eps * n).toLong)
      }.toSeq
      s.createDataFrame(rows)
        .toDF("l_returnflag", "exact_cnt", "lower_ok", "upper_ok")
    }),

    // keyed MERGE (SCD1 upsert) on its algebraic form (anti-join ∪
    // updates, etl.Writers.mergeUpsert): "existing" and "updates" are
    // deterministic key-modulo slices of orders, updates win on key
    // collision (status flipped to 'U' marks them), unmatched existing
    // rows survive, new keys append. The DuckDB twin spells out the same
    // NOT EXISTS ∪ UNION ALL algebra.
    // CDC changelog apply — the delete-aware completion of merge_upsert:
    // a change stream (key, version, op ∈ {U, D}, payload) folds to the
    // table's final state by keeping each key's LATEST version and
    // dropping keys whose latest op is a tombstone. One hash aggregate
    // (max_by over the version struct — no window sort over the
    // changelog), exactly the compaction a log-structured ingest runs;
    // at 100 TB the changelog shuffles once on key, same as any grouped
    // aggregate. Versions are (date, orderkey) — unique, so the argmax
    // is deterministic on both engines.
    "etl_cdc_apply" -> ((s, d) => {
      t(s, d, "orders").select(col("o_custkey").as("key"),
          col("o_orderdate").as("vts"), col("o_orderkey").as("vid"),
          when(col("o_orderkey") % 7 === 0, "D").otherwise("U").as("op"),
          col("o_orderstatus"), col("o_totalprice"))
        .groupBy(col("key"))
        .agg(expr("max_by(struct(op, vid, o_orderstatus, o_totalprice)," +
          " struct(vts, vid))").as("last"))
        .filter(col("last.op") =!= "D")
        .select(col("key"), col("last.vid").as("last_version"),
          col("last.o_orderstatus").as("o_orderstatus"),
          col("last.o_totalprice").as("o_totalprice"))
    }),

    // Avro source/sink roundtrip (closes the one env-blocked format —
    // the spark-avro DataSource jar is unresolvable offline, but the
    // format itself needs only the avro/avro-mapred libs Spark ships;
    // see etl.AvroIO for the scale shape: per-partition container-file
    // writes, sync-marker-splittable reads). supplier exercises the full
    // type bridge (BIGINT/STRING/INT/DOUBLE); the hash compare against
    // the parquet-side oracle proves the write+read path loses nothing.
    "etl_avro_roundtrip" -> ((s, d) => {
      val src = t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
      val dir = s"${sys.props("java.io.tmpdir")}/graft_avro_rt_" +
        java.lang.Integer.toHexString(d.hashCode)
      graft.etl.AvroIO.write(src, dir)
      graft.etl.AvroIO.read(s, dir, src.schema)
        .orderBy(col("s_suppkey"))
    }),

    "etl_merge_upsert" -> ((s, d) => {
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val existing = orders.filter(col("o_orderkey") % 10 =!= 0)
      val updates = orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("U"))
      graft.etl.Writers.mergeUpsert(existing, updates, Seq("o_orderkey"))
    }),

    // SCD type-2 history derivation (etl.Writers.scd2History): each
    // customer's orders become versioned rows with half-open
    // effective_from/effective_to intervals and is_current on the open
    // tail — the dimension-history operator a warehouse ETL runs on every
    // load, as one key-partitioned window (no global sort).
    "etl_scd2_history" -> ((s, d) => {
      val changes = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      graft.etl.Writers.scd2History(changes, "o_custkey", "o_orderdate",
          "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"), col("effective_from"),
          col("effective_to"), col("is_current"))
    }),

    // exact distinct via mergeable bitmaps (the exact twin of the HLL
    // sketch family): keys bucket by bitmap_bucket_number (32k-bit
    // segments), each (group, bucket) folds into ONE bitmap via
    // bitmap_construct_agg — a mergeable partial-aggregating structure,
    // Spark's native roaring-bitmap pattern — and per-bucket
    // bitmap_count sums roll up to the exact distinct count. The 100 TB
    // point: this exact-distinct never carries raw keys through the
    // shuffle (each segment is ≤ 4 KB whatever the row count), unlike
    // countDistinct's Expand+exchange of every distinct value. The
    // oracle pins bitmap == DuckDB count(DISTINCT) per group.
    "agg_bitmap_distinct" -> ((s, d) => {
      val buckets = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_suppkey)").as("bucket"))
        .agg(expr("bitmap_count(bitmap_construct_agg(" +
          "bitmap_bit_position(l_suppkey)))").as("bucket_distinct"))
      val exact = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp_exact"))
      buckets.groupBy(col("l_returnflag"))
        .agg(sum(col("bucket_distinct")).as("n_supp_bitmap"))
        .join(broadcast(exact), Seq("l_returnflag"))
        .withColumn("bitmap_matches",
          col("n_supp_bitmap") === col("n_supp_exact"))
    }),

    // one-pass column profiler (reference A12 row accounting generalized
    // to the dbt/Deequ-style profile a warehouse emits per load): one leg
    // per column, each a two-level aggregate — groupBy(value) then a
    // global rollup that derives n_distinct / n_nulls / min / max from
    // the tiny per-value count table. Each leg's scan PRUNES to its one
    // column, and there is no multi-distinct Expand (the previous form's
    // single scan expanded every row ×(N+1) through one wide hash agg —
    // measured 2.7 s vs 0.6 s for the legs at sf0.1; at 100 TB columnar
    // pruning makes N narrow scans cheaper than one ×(N+1) Expand).
    "etl_profile" -> ((s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map { c =>
        t(s, d, "orders")
          .groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
          .agg(
            sum(col("cnt")).as("n_rows"),
            sum(when(col("k").isNull, col("cnt")).otherwise(0L))
              .as("n_nulls"),
            sum(when(col("k").isNotNull, 1L).otherwise(0L))
              .as("n_distinct"),
            min(col("k")).cast("string").as("min_value"),
            max(col("k")).cast("string").as("max_value"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_value"), col("max_value"))
      }.reduce(_ unionAll _)
    }),

    // declarative data-quality assertions (dbt-test / Deequ-check
    // shape): every row-level rule folds into one conditional-sum pass
    // over the scan; the key-uniqueness rule is the single aggregate
    // that needs a shuffle (count>1 groups). Emits the
    // (rule, n_violations, passed) contract table a pipeline gates a
    // load on — the engine-level form of the reference's manual
    // validation queries (B1).
    "etl_assert_rules" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val rowRules = li.agg(
        sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L))
          .as("v_qty"),
        sum(when(!col("l_discount").between(0.0, 1.0), 1L).otherwise(0L))
          .as("v_disc"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_ship"),
        sum(when(col("l_extendedprice") <= 0.0, 1L).otherwise(0L))
          .as("v_price"))
        .selectExpr("stack(4," +
          " 'quantity_in_range', v_qty, 'discount_in_range', v_disc," +
          " 'shipdate_not_null', v_ship, 'price_positive', v_price)" +
          " AS (rule, n_violations)")
      val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_violations"))
        .select(lit("order_line_unique").as("rule"), col("n_violations"))
      rowRules.unionByName(dupKeys)
        .withColumn("passed", col("n_violations") === 0L)
    }),

    // TF-IDF top-3 terms per document (pure relational formulation —
    // explode → tf counts → df counts → broadcast(N) — so the oracle can
    // replicate it; the ml HashingTF/IDF pipeline variant is in TfIdfSpec)
    "llm_tfidf" -> ((s, d) => {
      val toks = t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val allToks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = allToks.distinct().groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(broadcast(dfreq), Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rn"))
    }),

    // mode / median: both are single-pass aggregates (no global sort).
    // Determinism: mode() ties are engine-unspecified, so the grouped
    // columns were checked unimodal on the fixture at every SF
    // (l_linestatus margins ≥ 20 rows; l_linenumber is strictly
    // decreasing in line number, mode is always 1).
    "agg_mode_median" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(mode(col("l_linestatus")).as("mode_status"),
          mode(col("l_linenumber")).as("mode_line"),
          median(col("l_quantity")).as("med_qty"),
          round(median(col("l_extendedprice")), 4).as("med_price"))
    }),

    // re-aggregatable distinct-count sketches (Apache DataSketches HLL):
    // per-(lang, source) sketches built in one scan, then MERGED per lang
    // with hll_union_agg — the two-level pattern that makes 100 TB
    // distinct counting incremental (per-partition sketches persist;
    // a new partition unions in without rescanning history). The oracle
    // pins the exact side; the union estimate must sit within 5%
    // (lgConfigK=12 ⇒ ~1.6% rsd) or the boolean hash-fails the driver.
    "agg_hll_union" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("sk"),
          countDistinct(col("doc_id")).as("exact_src"))
        .groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          // doc_id is globally unique → summing per-source exact distincts
          // equals the per-lang exact distinct (no cross-source overlap)
          sum(col("exact_src")).as("exact_docs"),
          count(lit(1)).as("n_sources"))
        .select(col("lang"), col("exact_docs").cast("long").as("exact_docs"),
          col("n_sources"),
          (abs(col("est") - col("exact_docs")) <=
            col("exact_docs") * 0.05).as("union_in_band"))
    }),

    // sketch-algebra intersection: |A∩B| for two user segments by
    // inclusion-exclusion over HLL sketches (est_A + est_B − est_A∪B) —
    // the audience-overlap primitive when the segments are too big to
    // semi-join interactively. HLLs only union losslessly, so this is
    // the standard derived estimate; its error scales with the UNION
    // size (not the intersection), hence the band is 5% of |A|+|B|.
    // Oracle contract like agg_hll_union: the exact sides pin the hash,
    // the estimate must sit inside the band or the boolean flips. All
    // three exact counts are one distinct-semi-join + two aggregates;
    // every broadcast build is a 1-row scalar aggregate.
    "agg_hll_intersect" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"))
      def seg(et: String) = ev.filter(col("event_type") === et)
      val a = seg("purchase").agg(hll_sketch_agg(col("user_id")).as("ska"),
        countDistinct(col("user_id")).as("exact_a"))
      val b = seg("click").agg(hll_sketch_agg(col("user_id")).as("skb"),
        countDistinct(col("user_id")).as("exact_b"))
      val both = seg("purchase").select(col("user_id")).distinct()
        .join(seg("click").select(col("user_id")).distinct(),
          Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("exact_both"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(both))
        .select(col("exact_a"), col("exact_b"), col("exact_both"),
          (abs(hll_sketch_estimate(col("ska"))
              + hll_sketch_estimate(col("skb"))
              - hll_sketch_estimate(hll_union(col("ska"), col("skb")))
              - col("exact_both")) <=
            (col("exact_a") + col("exact_b")) * 0.05).as("inter_in_band"))
    }),

    // regression building blocks (sums of squares/cross-products) +
    // population-variant moments, completing agg_stats/agg_stats2's
    // sample-variant coverage. Argument order follows the Postgres
    // regr_*(y, x) convention on both engines.
    "agg_stats3" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        round(expr("regr_sxx(l_discount, l_quantity)"), 1).as("sxx"),
        round(expr("regr_sxy(l_discount, l_quantity)"), 4).as("sxy"),
        round(expr("regr_syy(l_discount, l_quantity)"), 4).as("syy"),
        round(expr("covar_pop(l_quantity, l_discount)"), 6).as("cov_p"),
        round(expr("stddev_pop(l_quantity)"), 6).as("sd_p"),
        round(expr("var_pop(l_quantity)"), 6).as("var_p"))
    }),

    // multi-aggregate pivot: two measures per pivoted status — Spark
    // suffixes columns {value}_{aggAlias}; the twin spells the same cells
    // as conditional aggregates. Explicit pivot values keep the plan a
    // single pass (no distinct-values pre-query).
    "agg_pivot2" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("total"),
          count(lit(1)).as("n"))
    }),

    // robust statistics: median absolute deviation per group. Two-pass by
    // nature (the deviation needs the group median first); the 3-row
    // median table broadcasts back onto the scan — the scalar-broadcast
    // pattern, bounded at any scale.
    "agg_mad" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val med = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
      li.join(broadcast(med), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(abs(l_extendedprice - med), 0.5)"), 4)
            .as("mad"),
          round(max(col("med")), 4).as("med"))
    }),

    // trimmed (5-95%) mean vs the raw mean — the outlier-robust location
    // estimate; interpolated percentile cutoffs broadcast (3 rows), the
    // trim itself is a conditional aggregate on the re-scan
    "agg_trimmed_mean" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val cuts = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.05)").as("p5"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"))
      val kept = col("l_extendedprice").between(col("p5"), col("p95"))
      li.join(broadcast(cuts), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(round(avg(when(kept, col("l_extendedprice"))), 4)
            .as("trimmed_mean"),
          count(when(kept, lit(1))).as("n_kept"),
          round(avg(col("l_extendedprice")), 4).as("raw_mean"))
    }),

    // GROUP BY ALL / ORDER BY ALL (Spark 4 ≡ DuckDB syntax — the same
    // text runs on both engines): non-aggregate select items become the
    // grouping set implicitly
    "agg_group_by_all" -> ((s, d) => {
      registerAll(s, d)
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS total
        FROM orders
        GROUP BY ALL""")
    }),

    // SQL:2016 LISTAGG (Spark 4): ordered string aggregation, plain and
    // DISTINCT. The WITHIN GROUP order includes the unique o_orderkey
    // tiebreak on the plain form so the concatenation is total-ordered.
    "agg_listagg" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 200)
        .groupBy(col("o_orderstatus"))
        .agg(expr("""listagg(o_orderpriority, '|')
              WITHIN GROUP (ORDER BY o_orderpriority, o_orderkey)""")
            .as("prios"),
          expr("""listagg(DISTINCT o_orderpriority, ',')
              WITHIN GROUP (ORDER BY o_orderpriority)""")
            .as("prios_distinct"))
    }),

    // conditional-count family: count_if + the any/every/some boolean
    // quantifiers (aliases the optimizer folds onto bool_or/bool_and —
    // agg_bool covers those directly; this row covers the alias surface)
    "agg_count_if" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("count_if(l_quantity > 25)").as("n_heavy"),
          expr("any(l_discount > 0.09)").as("any_big_disc"),
          expr("every(l_quantity <= 50)").as("all_in_range"),
          expr("some(l_tax > 0.07)").as("some_taxed"))
    }),

    // skew-spreading salted join (ops.Partitioning.saltedEquiJoin) made
    // oracle-visible: the salted plan must produce EXACTLY the plain
    // join's aggregate. Fact rows carry a deterministic row-local salt,
    // the dim replicates nSalts×, the join key becomes (key, salt) — one
    // hot part id spreads over 8 reducers instead of one. Revenue
    // accumulates in DECIMAL so the answer is independent of the changed
    // addition order (the salt reshuffles row placement).
    "join_salted_skew" -> ((s, d) => {
      val fact = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"))
      val dim = t(s, d, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ops.Partitioning.saltedEquiJoin(fact, dim, "l_partkey", nSalts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double").as("revenue"))
    }),

    // incremental aggregate maintenance (materialized-view refresh): the
    // base partition (orders before 1999) and the delta (1999+) are
    // aggregated SEPARATELY, then merged by re-aggregating the partials —
    // sum-of-sums, sum-of-counts, min-of-mins, avg recomputed from merged
    // sum/count. Hash-equality with the full-recompute oracle proves the
    // algebraic decomposition every incremental pipeline relies on: at
    // 100 TB you aggregate only the new partition and fold it into
    // yesterday's partials instead of rescanning history. DECIMAL
    // accumulation makes the merge independent of addition order.
    "etl_incremental_agg" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderpriority"),
        col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      def partial(df: DataFrame): DataFrame =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"), sum(col("price")).as("s"),
            min(col("price")).as("mn"), max(col("price")).as("mx"))
      val base  = partial(o.filter(col("o_orderdate") <  lit("1999-01-01")))
      val delta = partial(o.filter(col("o_orderdate") >= lit("1999-01-01")))
      base.unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("cnt")).as("n_orders"),
          sum(col("s")).as("total_dec"),
          min(col("mn")).cast("double").as("min_price"),
          max(col("mx")).cast("double").as("max_price"))
        .withColumn("avg_price",
          round(col("total_dec").cast("double") / col("n_orders"), 4))
        // exact DECIMAL accumulation, DOUBLE at the emit boundary (the
        // agg_decimal_money pattern — the driver bridge renders DECIMAL
        // as object and breaks the hash even on equal values)
        .select(col("o_orderpriority"), col("n_orders"),
          col("total_dec").cast("double").as("total_price"),
          col("min_price"), col("max_price"), col("avg_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // CDC snapshot diff: two table versions compared into an
    // insert/update/delete changelog. Snapshot B derives from A by
    // deterministic key-modulo mutations (deletes %97, price bumps %101,
    // remapped-key inserts %103) — both engines derive B identically, so
    // the full-outer-join classifier is what's under test. This is the
    // table-format time-travel diff (and the CDC feed generator): one
    // co-partitioned full outer join on the key, change class from null
    // sides + value comparison, unchanged rows dropped.
    // The +10% bump runs on EXACT integer cents — (pc·110 + 50) div 100,
    // round-half-up with no floating point anywhere: the r12 sf1 parity
    // sweep caught round(price·1.1, 2) landing on opposite sides of a
    // half-cent between Spark (decimal-string HALF_UP) and DuckDB
    // (binary-double round) once enough keys hit the %101 branch.
    "etl_snapshot_diff" -> ((s, d) => {
      val a = t(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("bigint").as("pc"))
      val b = a.filter(col("k") % 97 =!= 0)
        .withColumn("pc", when(col("k") % 101 === 3,
          expr("(pc * 110 + 50) div 100")).otherwise(col("pc")))
        .unionByName(a.filter(col("k") % 103 === 5)
          .select((col("k") + 10000000L).as("k"), col("pc")))
      val aa = a.as("a"); val bb = b.as("b")
      aa.join(bb, col("a.k") === col("b.k"), "full_outer")
        .withColumn("change_type",
          when(col("a.k").isNull, lit("insert"))
            .when(col("b.k").isNull, lit("delete"))
            .when(col("a.pc") =!= col("b.pc"), lit("update")))
        .filter(col("change_type").isNotNull)
        .select(coalesce(col("a.k"), col("b.k")).as("o_orderkey"),
          col("change_type"),
          (col("a.pc").cast("double") / 100.0).as("old_price"),
          (col("b.pc").cast("double") / 100.0).as("new_price"))
        .orderBy(col("o_orderkey"))
    })
  )

  val sql: Map[String, String] = Map(
    // the dec_hist sketch replayed relationally: same integer binning
    // (decimal length + 2-digit prefix), same ceil thresholds, quantile
    // = min lower-bound among bins whose cumulative count reaches it
    "agg_hdr_quantiles" -> """
      WITH v AS (
        SELECT l_returnflag AS g,
               CAST(round(l_extendedprice*100) AS BIGINT) AS v
        FROM lineitem
      ), pre AS (
        SELECT g, length(CAST(v AS VARCHAR)) AS len,
               CASE WHEN length(CAST(v AS VARCHAR)) >= 2
                    THEN CAST(substr(CAST(v AS VARCHAR), 1, 2) AS INT)
                    ELSE CAST(v AS INT) * 10 END AS first2
        FROM v WHERE v > 0
      ), b AS (
        SELECT g, len, first2, count(*) AS c,
               CASE WHEN len = 1 THEN first2 // 10
                    ELSE CAST(CAST(first2 AS VARCHAR) ||
                              repeat('0', len - 2) AS BIGINT) END AS lb
        FROM pre GROUP BY g, len, first2
      ), cum AS (
        SELECT g, lb,
               sum(c) OVER (PARTITION BY g ORDER BY len, first2
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM b
      ), tot AS (
        -- ALL groups (filtered count), left-joined below: a group whose
        -- values are all non-positive still owns an (empty) sketch, and
        -- DecHistAgg.finish emits (0, 0, 0, 0) for it — the twin must
        -- produce that row too, not drop it (ADVICE r8)
        SELECT g, CAST(count(*) FILTER (WHERE v > 0) AS BIGINT) AS n
        FROM v GROUP BY g
      )
      SELECT t.g, t.n,
             coalesce(min(CASE WHEN cc >= (t.n*50 + 99)//100 THEN lb END), 0) AS p50,
             coalesce(min(CASE WHEN cc >= (t.n*90 + 99)//100 THEN lb END), 0) AS p90,
             coalesce(min(CASE WHEN cc >= (t.n*99 + 99)//100 THEN lb END), 0) AS p99
      FROM tot t LEFT JOIN cum c ON c.g = t.g
      GROUP BY t.g, t.n""",

    // full recompute — the incremental merge must hash-equal this
    "etl_incremental_agg" -> """
      SELECT o_orderpriority,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
             CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS min_price,
             CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS max_price,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) / count(*), 4) AS avg_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // snapshot B derived by the same key-modulo mutations, then the same
    // full-outer-join changelog classification
    "etl_snapshot_diff" -> """
      WITH a AS (SELECT o_orderkey AS k,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders),
      b AS (
        SELECT k, CASE WHEN k % 101 = 3 THEN (pc * 110 + 50) // 100
                       ELSE pc END AS pc
        FROM a WHERE k % 97 <> 0
        UNION ALL
        SELECT k + 10000000, pc FROM a WHERE k % 103 = 5)
      SELECT coalesce(a.k, b.k) AS o_orderkey,
             CASE WHEN a.k IS NULL THEN 'insert'
                  WHEN b.k IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type,
             CAST(a.pc AS DOUBLE) / 100.0 AS old_price,
             CAST(b.pc AS DOUBLE) / 100.0 AS new_price
      FROM a FULL OUTER JOIN b ON a.k = b.k
      WHERE a.k IS NULL OR b.k IS NULL OR a.pc <> b.pc
      ORDER BY o_orderkey""",

    // exact side computed by DuckDB; the *_in_band booleans are the
    // accuracy contract the Spark sketches must satisfy
    "agg_approx_distinct" -> """
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
             TRUE AS orders_in_band,
             TRUE AS parts_in_band,
             TRUE AS supps_in_band
      FROM lineitem""",

    "agg_approx_bounds" -> """
      SELECT l_returnflag,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             round(median(l_extendedprice), 4) AS exact_median_price,
             TRUE AS orders_in_band,
             TRUE AS parts_in_band,
             TRUE AS median_in_band
      FROM lineitem GROUP BY l_returnflag""",

    "agg_mode_median" -> """
      SELECT l_returnflag,
             mode(l_linestatus) AS mode_status,
             mode(l_linenumber) AS mode_line,
             median(l_quantity) AS med_qty,
             round(median(l_extendedprice), 4) AS med_price
      FROM lineitem GROUP BY l_returnflag""",

    // exact side in DuckDB; the in-band boolean is the sketch contract
    "agg_hll_union" -> """
      SELECT lang,
             count(DISTINCT doc_id) AS exact_docs,
             count(DISTINCT source) AS n_sources,
             TRUE AS union_in_band
      FROM documents GROUP BY lang""",

    "agg_hll_intersect" -> """
      WITH a AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_a
        FROM events WHERE event_type = 'purchase'),
      b AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_b
        FROM events WHERE event_type = 'click'),
      bo AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_both FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'click'))
      SELECT exact_a, exact_b, exact_both, TRUE AS inter_in_band
      FROM a, b, bo""",

    "agg_stats3" -> """
      SELECT l_returnflag,
             round(regr_sxx(l_discount, l_quantity), 1) AS sxx,
             round(regr_sxy(l_discount, l_quantity), 4) AS sxy,
             round(regr_syy(l_discount, l_quantity), 4) AS syy,
             round(covar_pop(l_quantity, l_discount), 6) AS cov_p,
             round(stddev_pop(l_quantity), 6) AS sd_p,
             round(var_pop(l_quantity), 6) AS var_p
      FROM lineitem GROUP BY l_returnflag""",

    "agg_pivot2" -> """
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'F'
               THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
               AS F_total,
             count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_n,
             CAST(sum(CASE WHEN o_orderstatus = 'O'
               THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
               AS O_total,
             count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_n,
             CAST(sum(CASE WHEN o_orderstatus = 'P'
               THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
               AS P_total,
             count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_n
      FROM orders GROUP BY o_orderpriority""",

    "agg_mad" -> """
      WITH med AS (
        SELECT l_returnflag, median(l_extendedprice) AS med
        FROM lineitem GROUP BY l_returnflag)
      SELECT l.l_returnflag,
             round(median(abs(l.l_extendedprice - m.med)), 4) AS mad,
             round(max(m.med), 4) AS med
      FROM lineitem l JOIN med m USING (l_returnflag)
      GROUP BY l.l_returnflag""",

    "agg_trimmed_mean" -> """
      WITH cuts AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS p5,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY l_returnflag)
      SELECT l.l_returnflag,
             round(avg(CASE WHEN l_extendedprice BETWEEN p5 AND p95
                            THEN l_extendedprice END), 4) AS trimmed_mean,
             count(CASE WHEN l_extendedprice BETWEEN p5 AND p95
                        THEN 1 END) AS n_kept,
             round(avg(l_extendedprice), 4) AS raw_mean
      FROM lineitem l JOIN cuts USING (l_returnflag)
      GROUP BY l.l_returnflag""",

    "agg_group_by_all" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total
      FROM orders
      GROUP BY ALL""",

    "agg_listagg" -> """
      SELECT o_orderstatus,
             string_agg(o_orderpriority, '|'
               ORDER BY o_orderpriority, o_orderkey) AS prios,
             string_agg(DISTINCT o_orderpriority, ','
               ORDER BY o_orderpriority) AS prios_distinct
      FROM orders WHERE o_orderkey <= 200
      GROUP BY o_orderstatus""",

    "agg_count_if" -> """
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
             bool_or(l_discount > 0.09) AS any_big_disc,
             bool_and(l_quantity <= 50) AS all_in_range,
             bool_or(l_tax > 0.07) AS some_taxed
      FROM lineitem GROUP BY l_returnflag""",

    // the salted plan must equal the PLAIN join — the twin is unsalted
    "join_salted_skew" -> """
      SELECT p_brand, count(*) AS n_lines,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand""",

    "fn_map" -> """
      SELECT event_id,
             len(json_keys(props)) AS n_keys,
             array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
             CAST(props->>'k' AS INT) AS k_val,
             -value AS b_val,
             value * 2 AS y_val,
             array_to_string(list_sort(list_transform(json_keys(props),
               k -> CAST(json_extract_string(props, '$.' || k) AS INT))), ',')
               AS vals_csv,
             CAST(props->>'k' AS INT) * 10 AS k_val10,
             len(list_filter(list_transform(json_keys(props),
               k -> CAST(json_extract_string(props, '$.' || k) AS INT)),
               v -> v > 5)) AS n_big,
             value * 11 AS zip_a
      FROM events""",

    // props is always a single-key {"k": int} object on the fixture
    "fn_map2" -> """
      SELECT event_id,
             value * 2 AS b_val,
             2 AS n_concat,
             'k=' || (props->>'k') AS entries_csv,
             TRUE AS has_k,
             -value AS y_neg,
             '2' AS q_val
      FROM events""",

    "fn_explode_map" -> """
      SELECT event_id,
             unnest(json_keys(props)) AS key,
             unnest(list_transform(json_keys(props),
               k -> CAST(json_extract_string(props, '$.' || k) AS INT))) AS value
      FROM events""",

    "fn_explode" -> """
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 50""",

    "set_unpivot" -> """
      SELECT * FROM (
        SELECT o_orderstatus, sum(o_totalprice) AS total,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM orders GROUP BY o_orderstatus
      ) UNPIVOT (val FOR metric IN (total, cnt))""",

    "win_range_interval" -> """
      SELECT event_id, user_id,
             count(*) OVER w AS n_last_hour,
             sum(value) OVER w AS sum_last_hour
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",

    // the reference side is the EXACT integer-cents sum, not DuckDB's
    // own double sum: at sf1 (Σ ≈ 1.1e11 over 2M rows/group) the naive
    // double accumulation drifted 0.01 past the 2-dp round while Kahan
    // stayed within ~2e-5 of exact — comparing Kahan against exact is
    // scale-stable, comparing it against a WORSE summation is not
    "agg_custom_udaf" -> """
      SELECT l_returnflag,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0, 2) AS ksum_price,
             sum(l_quantity) AS ksum_qty
      FROM lineitem GROUP BY l_returnflag""",

    "agg_cms_bounds" -> """
      SELECT l_returnflag,
             count(*) AS exact_cnt,
             TRUE AS lower_ok,
             TRUE AS upper_ok
      FROM lineitem GROUP BY l_returnflag""",

    "agg_bitmap_distinct" -> """
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS n_supp_bitmap,
             count(DISTINCT l_suppkey) AS n_supp_exact,
             TRUE AS bitmap_matches
      FROM lineitem GROUP BY 1""",

    "etl_profile" -> """
      SELECT * FROM (
        SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_value,
               CAST(max(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               count(DISTINCT o_totalprice),
               CAST(min(o_totalprice) AS VARCHAR),
               CAST(max(o_totalprice) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*),
               CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               count(DISTINCT o_orderdate),
               CAST(min(o_orderdate) AS VARCHAR),
               CAST(max(o_orderdate) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               count(DISTINCT o_orderpriority),
               CAST(min(o_orderpriority) AS VARCHAR),
               CAST(max(o_orderpriority) AS VARCHAR)
        FROM orders
      )""",

    "etl_assert_rules" -> """
      SELECT rule, n_violations, n_violations = 0 AS passed FROM (
        SELECT 'quantity_in_range' AS rule,
               CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'discount_in_range',
               CAST(sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'shipdate_not_null',
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'price_positive',
               CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)
                 AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'order_line_unique',
               CAST(coalesce(sum(n), 0) AS BIGINT) FROM (
          SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
      )""",

    "etl_cdc_apply" -> """
      WITH chg AS (
        SELECT o_custkey AS key, o_orderdate AS vts, o_orderkey AS vid,
               CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
               o_orderstatus, o_totalprice
        FROM orders),
      latest AS (
        SELECT key, vid, op, o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY key
                 ORDER BY vts DESC, vid DESC) AS rn
        FROM chg)
      SELECT key, vid AS last_version, o_orderstatus, o_totalprice
      FROM latest WHERE rn = 1 AND op <> 'D'""",

    // the roundtrip must reproduce the parquet-side table exactly
    "etl_avro_roundtrip" -> """
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier ORDER BY s_suppkey""",

    "etl_merge_upsert" -> """
      SELECT a.o_orderkey, a.o_orderstatus, a.o_totalprice
      FROM orders a
      WHERE a.o_orderkey % 10 <> 0
        AND NOT EXISTS (SELECT 1 FROM orders b
                        WHERE b.o_orderkey % 3 = 0
                          AND b.o_orderkey = a.o_orderkey)
      UNION ALL
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0""",

    "etl_scd2_history" -> """
      SELECT o_custkey, o_orderkey,
             o_orderdate AS effective_from,
             lead(o_orderdate) OVER w AS effective_to,
             (lead(o_orderdate) OVER w IS NULL) AS is_current
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    "llm_tfidf" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ), tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE doc_id < 100 GROUP BY doc_id, tok
      ), dfreq AS (
        SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks)
        GROUP BY tok
      )
      SELECT doc_id, tok, tf, df, rn FROM (
        SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf * ln(((SELECT count(*) FROM documents) + 1.0)
                                     / (dfreq.df + 1.0)) DESC, tf.tok) AS rn
        FROM tf JOIN dfreq USING (tok)
      ) WHERE rn <= 3"""
  )
}
