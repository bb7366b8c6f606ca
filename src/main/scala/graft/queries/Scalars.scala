package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.{t, registerAll}

/** Scalar function families (SURVEY.md §2 "Scalar function families"):
  * string, date/time, math, conditional, array, JSON, cast.
  *
  * All expressions are `org.apache.spark.sql.functions` built-ins →
  * whole-stage-codegen'd; no UDFs in this file. Oracle parity notes are
  * inline where Spark and DuckDB semantics diverge (dayofweek origin,
  * log vs ln, cast-truncation vs cast-rounding).
  */
object Scalars {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    "fn_string" -> ((s, d) => {
      t(s, d, "part").filter(col("p_partkey") <= 500).select(
        col("p_partkey"),
        lower(col("p_name")).as("lo"),
        upper(col("p_brand")).as("up"),
        substring(col("p_name"), 1, 8).as("sub8"),
        length(col("p_name")).as("len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
        lpad(col("p_size").cast("string"), 4, "0").as("padded"),
        rpad(col("p_brand"), 12, ".").as("rpadded"),
        trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
        regexp_extract(col("p_name"), "[a-z]+", 0).as("first_word"),
        regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
        translate(col("p_brand"), "AEIOU", "aeiou").as("translated"),
        reverse(col("p_brand")).as("rev"),
        size(split(col("p_name"), " ")).as("n_words"),
        levenshtein(col("p_brand"), col("p_type")).as("lev"))
    }),

    "fn_string2" -> ((s, d) => {
      t(s, d, "part").filter(col("p_partkey") <= 500).select(
        col("p_partkey"),
        expr("left(p_name, 5)").as("l5"),
        expr("right(p_name, 5)").as("r5"),
        col("p_name").contains("a").as("has_a"),
        col("p_name").startsWith("b").as("starts_b"),
        col("p_type").endsWith("e").as("ends_e"),
        substring_index(col("p_name"), " ", 2).as("first_two_words"),
        expr("position('a' IN p_name)").as("pos_a"),
        repeat(col("p_brand"), 2).as("brand2x"),
        ascii(col("p_name")).as("first_code"),
        expr("chr(65 + CAST(p_partkey % 26 AS INT))").as("cycled_char"))
    }),

    "fn_datetime2" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        dayofyear(col("o_orderdate")).as("doy"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        add_months(col("o_orderdate").cast("date"), 2).as("plus2mo"),
        trunc(col("o_orderdate").cast("date"), "MM").as("month_floor"),
        date_sub(col("o_orderdate").cast("date"), 90).as("minus90"),
        (col("o_orderdate") + expr("INTERVAL 36 HOURS")).as("plus36h"))
    }),

    "fn_datetime" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        // Spark dayofweek: 1=Sunday..7 — oracle side adds 1 to DuckDB's 0=Sunday
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        datediff(lit("2005-01-01").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_2005"),
        // whole-month difference (fractional months_between is Spark-specific)
        months_between(lit("2005-01-01").cast("timestamp"),
          date_trunc("month", col("o_orderdate"))).cast("long").as("months_to_2005"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        last_day(col("o_orderdate").cast("date")).as("eom"))
    }),

    "fn_math" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") <= 500).select(
        col("l_orderkey"), col("l_linenumber"),
        // floor/ceil return LONG in Spark but DOUBLE in DuckDB — cast for parity
        floor(col("l_extendedprice")).cast("double").as("fl"),
        ceil(col("l_extendedprice")).cast("double").as("ce"),
        abs(col("l_quantity") - 25.0).as("ab"),
        pow(col("l_discount"), 2).as("disc_sq"),
        sqrt(col("l_quantity")).as("rt"),
        exp(col("l_discount")).as("ex"),
        // Spark log() is natural log = DuckDB ln() (DuckDB log() is log10)
        log(col("l_quantity") + 1.0).as("ln_qty"),
        signum(col("l_quantity") - 25.0).as("sg"),
        pmod(col("l_orderkey"), lit(7)).as("pm"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gr"),
        least(col("l_tax"), col("l_discount")).as("le"))
    }),

    "fn_conditional" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("price_band"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING"))
          .as("status_or_pending"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floor50k"),
        least(col("o_totalprice"), lit(400000.0)).as("cap400k"))
    }),

    "fn_array" -> ((s, d) => {
      // embeddings: array<float>. All arithmetic promoted to double BEFORE
      // folding so Spark's fold and DuckDB's list_sum see identical values.
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_elem"),
        expr("aggregate(transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
          .as("sum_first8"),
        expr("sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
          .as("l2_norm"),
        expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
          .as("sum_all"),
        array_min(expr("transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE))"))
          .as("min_first8"),
        array_max(expr("transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE))"))
          .as("max_first8"),
        array_contains(sequence(lit(1), lit(10)),
          (col("vec_id") % 12).cast("int")).as("in_1_to_10"))
    }),

    // set-algebra / structural array ops over constructed int arrays;
    // outputs canonicalized to sorted csv strings (element ORDER of
    // array_union/intersect is engine-specific, membership is not)
    "fn_array2" -> ((s, d) => {
      t(s, d, "embeddings")
        .withColumn("arr1", expr("sequence(1, 1 + CAST(vec_id % 4 AS INT))"))
        .withColumn("arr2", expr("sequence(2, 5)"))
        .select(
          col("vec_id"),
          concat_ws(",", array_sort(array_union(col("arr1"), col("arr2"))))
            .as("union_csv"),
          concat_ws(",", array_sort(array_intersect(col("arr1"), col("arr2"))))
            .as("intersect_csv"),
          concat_ws(",", array_sort(array_except(col("arr2"), col("arr1"))))
            .as("except_csv"),
          expr("array_position(arr2, 3)").as("pos3"),
          concat_ws(",", expr("array_remove(arr2, 4)")).as("removed4"),
          concat_ws(",", flatten(array(col("arr1"), col("arr2"))))
            .as("flat_csv"),
          concat_ws(",", expr("array_repeat(CAST(vec_id % 3 AS INT), 2)"))
            .as("repeated"),
          size(concat(col("arr1"), col("arr2"))).as("concat_len"))
    }),

    "fn_json" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"),
        (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod10"),
        from_json(col("props"), lit("k INT")).getField("k").as("k_struct"),
        json_tuple(col("props"), "k"))
        .withColumnRenamed("c0", "k_tuple_str")
    }),

    // sink-side JSON surface (SURVEY §2 JSON family): struct/map → JSON
    // string with to_json, schema inference with schema_of_json, and a
    // from_json(to_json(...)) round-trip. Doubles are kept out of the JSON
    // payloads — Spark and DuckDB format floating point differently.
    "fn_json2" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        to_json(struct(col("event_id").as("id"), col("event_type").as("t")))
          .as("obj_json"),
        to_json(map(lit("uid"), col("user_id"))).as("map_json"),
        schema_of_json(lit("""{"k": 42}""")).as("props_schema"),
        from_json(to_json(struct(col("user_id").as("u"))), lit("u BIGINT"))
          .getField("u").as("roundtrip_uid"))
    }),

    // struct family: construction (flat + nested), dotted field access,
    // per-field extraction back to scalar columns, and a struct-valued
    // conditional. Output is scalars only — the driver comparator sorts
    // rows in pandas, where struct cells (dicts) are unhashable, same
    // canonicalization rule as agg_collect.
    "fn_struct" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("event_id") <= 2000)
      ev.select(col("event_id"),
          struct(col("user_id").as("u"),
            struct(col("event_type").as("et"),
              (col("value") > 50.0).as("big")).as("detail")).as("s"))
        .select(
          col("event_id"),
          col("s.u").as("uid"),
          col("s.detail.et").as("etype"),
          col("s.detail.big").as("is_big"),
          when(col("s.detail.big"), col("s.u")).otherwise(lit(-1L))
            .as("big_uid"))
    }),

    // regexp_extract_all: every match as a canonical csv string
    "fn_regex2" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        concat_ws(",",
          expr("regexp_extract_all(o_orderpriority, '[0-9]+', 0)"))
          .as("digits"),
        regexp_extract(col("o_orderpriority"), "^([0-9]+)-", 1).as("pri_digit"),
        regexp_count(col("o_orderpriority"), lit("[A-Z]")).as("n_upper"))
    }),

    // trigonometric / transcendental family
    "fn_trig" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") <= 500).select(
        col("l_orderkey"), col("l_linenumber"),
        sin(col("l_quantity")).as("sin_q"),
        cos(col("l_quantity")).as("cos_q"),
        atan2(col("l_quantity"), col("l_discount") + lit(1.0)).as("at2"),
        degrees(col("l_discount")).as("deg_disc"),
        radians(col("l_quantity")).as("rad_q"),
        atan(col("l_discount")).as("atan_disc"))
    }),

    // printf-style formatting family (report rendering / key synthesis):
    // zero-padded ids, fixed-2dp money, uppercase hex hashes, left-
    // aligned padding. Spark format_string → java.util.Formatter, DuckDB
    // printf → C-style; the directives used here (%0Nd, %.2f, %0NX, %-Ns)
    // agree construct for construct. %.2f is only fed values that are
    // exactly 2-decimal (cents/100), so no rounding path is exercised —
    // the engines' tie-breaking never gets a chance to differ.
    "fn_format" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        format_string("ORD-%07d", col("o_orderkey")).as("padded_id"),
        format_string("%.2f",
          round(col("o_totalprice") * 100).cast("bigint") / 100.0)
          .as("price_2dp"),
        format_string("%05X",
          pmod(col("o_orderkey") * 2654435761L, lit(1048576L)).cast("int"))
          .as("hex_hash"),
        format_string("%-4s|", col("o_orderstatus")).as("status_padded"))
    }),

    // geospatial family: haversine distance, initial bearing, and a
    // bounding-box membership test — the taxi-engine primitives (zone
    // distance, trip heading, geofence). Coordinates are deterministic
    // salted-md5 degrees in 1e-4 precision (integer 24-bit hash scaled
    // once, so both engines hold bit-identical doubles); the reference
    // point is JFK. Trig runs UNROUNDED through the same IEEE expression
    // tree on both engines (the fn_trig precedent shows libm parity on
    // this data); only the emitted values are rounded. Everything is
    // scan-side — zero shuffles at any scale.
    // point-in-polygon via ray casting: a point is inside iff a
    // rightward ray crosses an odd number of polygon edges. The polygon
    // (a concave hexagon) lives as a 6-row VALUES edge table — broadcast
    // against the point stream, crossings summed per point; the
    // crossing test is the textbook ((y1>py) != (y2>py)) AND
    // px < x-at-py form, identical text on both engines. Horizontal
    // edges divide by zero into ±Infinity, which the false first
    // conjunct discards — no branch needed (IEEE, not ANSI-error, on
    // double division in both engines).
    "fn_point_in_polygon" -> ((s, d) => {
      def frac(salt: String, span: Int): Column =
        (conv(substring(md5(concat(lit(salt),
          col("c_custkey").cast("string"))), 1, 6), 16, 10)
          .cast("bigint") % span) / 10000.0
      val pts = t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          (lit(40.2) + frac("pilat:", 12000)).as("py"),
          (lit(-74.5) + frac("pilon:", 14000)).as("px"))
      val edges = s.sql(
        """SELECT * FROM VALUES
          |  (-74.3D, 40.4D, -73.5D, 40.4D),
          |  (-73.5D, 40.4D, -73.4D, 41.0D),
          |  (-73.4D, 41.0D, -73.9D, 40.75D),
          |  (-73.9D, 40.75D, -74.1D, 41.1D),
          |  (-74.1D, 41.1D, -74.35D, 40.9D),
          |  (-74.35D, 40.9D, -74.3D, 40.4D) AS t(x1, y1, x2, y2)"""
          .stripMargin)
      val crossing = ((col("y1") > col("py")) =!= (col("y2") > col("py"))) &&
        (col("px") < (col("x2") - col("x1")) * (col("py") - col("y1"))
          / (col("y2") - col("y1")) + col("x1"))
      pts.crossJoin(broadcast(edges))
        .groupBy(col("c_custkey"), col("px"), col("py"))
        .agg(sum(when(crossing, 1L).otherwise(0L)).as("crossings"))
        .select(col("c_custkey"), col("px"), col("py"), col("crossings"),
          (pmod(col("crossings"), lit(2)) === 1).as("inside"))
    }),

    // Hilbert-curve index of the synthetic supplier points (order-14
    // grid): the locality-preserving layout key — consecutive indices
    // are ALWAYS grid neighbors, unlike Z-order's diagonal jumps. The
    // engine side is the codegen kernel (functions/Hilbert.scala); the
    // DuckDB twin unrolls the identical 14-step rotate/reflect loop in
    // SQL, so hash parity differentially tests the kernel.
    "fn_hilbert" -> ((s, d) => {
      def axis(salt: String): Column =
        conv(substring(md5(concat(lit(salt),
          col("s_suppkey").cast("string"))), 1, 4), 16, 10)
          .cast("bigint") % 10000
      t(s, d, "supplier")
        .select(col("s_suppkey").as("k"),
          axis("gx:").cast("int").as("xi"), axis("gy:").cast("int").as("yi"))
        .select(col("k"), col("xi").cast("bigint").as("xi"),
          col("yi").cast("bigint").as("yi"),
          expr("hilbert_index(xi, yi)").as("h"))
    }),

    // geohash encoding (6 chars = 30 bits = 15-bit lon/lat ordinals)
    // through the InterleaveBits codegen expression: quantization is PURE
    // INTEGER (xi·32768 div 10000 — no FP anywhere), the Morton code puts
    // lon bits at odd positions so the MSB-first base32 read starts with
    // longitude (the geohash convention), and the DuckDB twin recomputes
    // the SAME morton with an INDEPENDENT shift-mask spread — the oracle
    // is therefore also a differential test of the custom expression.
    "fn_geohash" -> ((s, d) => {
      def axis(salt: String): Column =
        conv(substring(md5(concat(lit(salt),
          col("s_suppkey").cast("string"))), 1, 4), 16, 10)
          .cast("bigint") % 10000
      val b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
      val q = t(s, d, "supplier")
        .select(col("s_suppkey").as("k"),
          axis("gx:").as("xi"), axis("gy:").as("yi"))
        .select(col("k"), col("xi"), col("yi"),
          expr("CAST(xi * 32768 DIV 10000 AS INT)").as("lonq"),
          expr("CAST(yi * 32768 DIV 10000 AS INT)").as("latq"))
        .withColumn("morton", expr("interleave_bits(latq, lonq)"))
      val hash = (0 to 5).map(i =>
        expr(s"substring('$b32', CAST(shiftright(morton, ${25 - 5 * i}) " +
          s"& 31 AS INT) + 1, 1)"))
      q.select(col("k"), col("lonq").cast("bigint").as("lonq"),
        col("latq").cast("bigint").as("latq"), col("morton"),
        concat(hash: _*).as("geohash"))
    }),

    // IPv4 / CIDR arithmetic (the log-analytics staple Spark ships no
    // built-ins for): md5-derived synthetic octets per customer, dotted
    // string <-> uint32 round-trip, /24 subnet keys, and LONGEST-PREFIX
    // match against a 4-block CIDR table (the routing semantic) via
    // shifted-prefix equality — pure BIGINT shifts/compares inside
    // codegen, the block table a broadcast literal. At scale this is a
    // scan-side projection + one tiny broadcast join.
    "fn_inet" -> ((s, d) => {
      def oct(i: Int): Column =
        conv(substring(md5(concat(lit(s"ip$i:"),
          col("c_custkey").cast("string"))), 1, 2), 16, 10)
          .cast("bigint") % 256
      val ips = t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), oct(1).as("o1"), oct(2).as("o2"),
          oct(3).as("o3"), oct(4).as("o4"))
        .select(col("c_custkey"),
          concat_ws(".", col("o1"), col("o2"), col("o3"), col("o4"))
            .as("ip"),
          (col("o1") * lit(16777216L) + col("o2") * lit(65536L)
            + col("o3") * lit(256L) + col("o4")).as("ip_u32"))
      import s.implicits._
      val blocks = Seq(
        // the default route makes every lookup a LONGEST-PREFIX decision
        // (each ip matches /0; 10.x ips must pick /8 over it)
        ("0.0.0.0/0", 0L, 0),
        ("10.0.0.0/8", 167772160L, 8),
        ("172.16.0.0/12", 2886729728L, 12),
        ("192.168.0.0/16", 3232235520L, 16),
        ("203.0.113.0/24", 3405803776L, 24))
        .toDF("cidr", "net_u32", "prefix")
      ips.join(broadcast(blocks),
          expr("shiftright(ip_u32, 32 - prefix)" +
            " = shiftright(net_u32, 32 - prefix)"), "left")
        .groupBy(col("c_custkey"), col("ip"), col("ip_u32"))
        .agg(expr("max_by(cidr, prefix)").as("blk"),
          max(col("prefix")).as("pfx"))
        .select(col("c_custkey"), col("ip"), col("ip_u32"),
          expr("shiftright(ip_u32, 8)").as("subnet24"),
          coalesce(col("blk"), lit("unmatched")).as("block"),
          coalesce(col("pfx"), lit(0)).as("prefix"))
    }),

    "fn_geo" -> ((s, d) => {
      def deg(salt: String, span: Int): Column =
        (conv(substring(md5(concat(lit(salt),
          col("c_custkey").cast("string"))), 1, 6), 16, 10)
          .cast("bigint") % (span * 20000L) - span * 10000L) / 10000.0
      val pts = t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), deg("lat:", 90).as("lat"),
          deg("lon:", 180).as("lon"))
      val phi1 = radians(col("lat")); val phi2 = radians(lit(40.6413))
      val dphi = radians(lit(40.6413) - col("lat"))
      val dlmb = radians(lit(-73.7781) - col("lon"))
      val a = sin(dphi / 2) * sin(dphi / 2) +
        cos(phi1) * cos(phi2) * sin(dlmb / 2) * sin(dlmb / 2)
      val brg = degrees(atan2(sin(dlmb) * cos(phi2),
        cos(phi1) * sin(phi2) - sin(phi1) * cos(phi2) * cos(dlmb)))
      pts.select(col("c_custkey"), col("lat"), col("lon"),
        round(lit(2 * 6371.0088) * asin(sqrt(a)), 3).as("dist_jfk_km"),
        round(pmod(brg + 360.0, lit(360.0)), 2).as("bearing_deg"),
        (col("lat") >= 40.0 && col("lat") <= 41.0 &&
          col("lon") >= -75.0 && col("lon") <= -73.0).as("in_nyc_bbox"))
    }),

    // Luhn checksum validation (the PII/card-number detector a cleaning
    // pipeline runs over free text and id columns): digits of the key
    // string reversed, every second one doubled-and-folded, sum mod 10.
    // Pure integer fold inside codegen; the output is the full
    // remainder histogram (a ~uniform distribution over 0..9 with
    // ~10% landing valid), so the oracle checks every branch of the
    // fold, not just the boolean.
    // r14: digit-unrolled codegen form. The previous HOF chain
    // (split → transform → filter → aggregate) evaluated its lambdas
    // INTERPRETED per character — ~30M evaluations at sf1 for what is
    // pure integer arithmetic (4.9 s board read). Unrolling the ≤19
    // bigint digit positions keeps the whole checksum inside
    // whole-stage codegen; positions beyond the key's length yield
    // digit 0 and contribute 0 to the sum, so no length branch exists.
    "fn_luhn" -> ((s, d) => {
      val terms = (0 until 19).map { j =>
        val dig = s"((o_orderkey div ${BigInt(10).pow(j)}L) % 10L)"
        if (j % 2 == 0) dig
        else s"(CASE WHEN $dig * 2L > 9L THEN $dig * 2L - 9L" +
          s" ELSE $dig * 2L END)"
      }
      t(s, d, "orders")
        .selectExpr(s"(${terms.mkString(" + ")}) % 10L AS rem")
        .groupBy(col("rem").cast("long").as("rem"))
        .agg(count(lit(1)).as("n"))
        .withColumn("is_luhn_valid", col("rem") === 0L)
    }),

    // bitwise family (hash bucketing / bitmap building blocks)
    "fn_bitwise" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(255).as("and255"),
        col("o_orderkey").bitwiseOR(16).as("or16"),
        col("o_orderkey").bitwiseXOR(37).as("xor37"),
        expr("shiftleft(o_orderkey, 2)").as("shl2"),
        expr("shiftright(o_orderkey, 3)").as("shr3"),
        bit_count(col("o_orderkey")).as("nbits"))
    }),

    // explode_outer: NULL/empty arrays keep their parent row
    "fn_explode_outer" -> ((s, d) => {
      t(s, d, "part").select(
          col("p_partkey"),
          when(col("p_size") % 3 === 0, lit(null))
            .otherwise(expr("sequence(1, p_size % 4 + 1)")).as("arr"))
        .select(col("p_partkey"), explode_outer(col("arr")).as("v"))
    }),

    // SURVEY §2 scalar-matrix stragglers: bround (HALF_EVEN banker's
    // rounding — exercised on exact .0/.5 ties so the semantics, not FP
    // noise, are what's compared), any_value (deterministic here: one row
    // per group), make_timestamp, zip_with (element-wise product folded
    // with aggregate — the embeddings dot-product building block), initcap.
    "fn_misc" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") <= 500)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(
          // any_value is only deterministic over a group-constant input —
          // (orderkey, linenumber) is NOT unique in this fixture
          expr("any_value(l_orderkey * 10 + l_linenumber)").as("any_const"),
          sum(expr("bround(l_quantity / 2.0, 0)")).as("sum_bround"),
          min(expr("make_timestamp(year(l_shipdate), month(l_shipdate), " +
            "day(l_shipdate), 12, 30, 0)")).as("noon_ts"),
          min(expr(
            "aggregate(zip_with(sequence(1, CAST(l_linenumber AS INT)), " +
              "sequence(2, CAST(l_linenumber AS INT) + 1), " +
              "(x, y) -> CAST(x * y AS BIGINT)), CAST(0 AS BIGINT), " +
              "(acc, v) -> acc + v)")).as("zip_dot"),
          min(initcap(concat(lower(col("l_returnflag")), lit(" of "),
            lower(col("l_linestatus"))))).as("cap_label"))
    }),

    "fn_cast" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        // Spark double→long cast truncates toward zero; DuckDB CAST rounds,
        // so the oracle uses CAST(trunc(x)) explicitly.
        col("o_totalprice").cast("long").as("price_trunc"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("pri_num"),
        expr("try_cast(o_orderpriority AS DOUBLE)").as("bad_cast_null"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_str"),
        to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd")
          .as("date_roundtrip"),
        col("o_orderkey").cast("string").as("key_str"))
    }),

    // third datetime wave: ANSI timestampadd/timestampdiff + locale
    // names. Diff units stay at DAY/MINUTE where Spark's whole-unit
    // semantics and DuckDB's boundary counting agree on the fixture's
    // midnight timestamps — YEAR/MONTH diffs deliberately excluded (the
    // two engines disagree mid-unit; months_between covers that in
    // fn_datetime).
    "fn_datetime3" -> ((s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") <= 2000).select(
        col("o_orderkey"),
        expr("timestampadd(HOUR, 6, o_orderdate)").as("plus6h"),
        expr("timestampadd(QUARTER, 1, o_orderdate)").as("plus1q"),
        expr("timestampdiff(MINUTE, o_orderdate, TIMESTAMP '2002-01-01')")
          .as("min_to_2002"),
        expr("timestampdiff(DAY, o_orderdate, TIMESTAMP '2002-01-01')")
          .as("day_to_2002"),
        date_format(col("o_orderdate"), "EEEE").as("day_name"),
        date_format(col("o_orderdate"), "MMMM").as("month_name"))
    }),

    // URL family: parse_url component extraction + form-urlencoding.
    // URLs are constructed deterministically from part columns, then
    // parsed back — the oracle twin builds the identical strings and
    // extracts components with regexes (DuckDB has no parse_url), so the
    // hash check pins Spark's parser against the RFC-3986 component
    // grammar on every row.
    "fn_url" -> ((s, d) => {
      t(s, d, "part").filter(col("p_partkey") <= 500)
        .withColumn("url", concat(
          lit("https://w"), (col("p_partkey") % 5).cast("string"),
          lit(".example.com/cat/"), lower(col("p_type")),
          lit("/item?id="), col("p_partkey").cast("string"),
          lit("&brand="), regexp_replace(col("p_brand"), "#", "-"),
          lit("#s"), (col("p_partkey") % 3).cast("string")))
        .select(col("p_partkey"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PROTOCOL')").as("proto"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'REF')").as("frag"),
          expr("parse_url(url, 'QUERY', 'brand')").as("brand_param"),
          expr("url_encode(p_name)").as("enc_name"),
          expr("url_decode(url_encode(p_name))").as("name_roundtrip"))
    }),

    // VARIANT type (Spark 4): semi-structured values parsed once into the
    // binary variant encoding, then path-extracted with type coercion —
    // the schema-on-read column type a 100 TB event lake wants instead of
    // per-query JSON string re-parsing. The twin extracts the same paths
    // with DuckDB's JSON operators; schema_of_variant is pinned to the
    // fixture's uniform {"k": int} shape.
    "fn_variant" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
        expr("variant_get(parse_json(props), '$.k', 'string')").as("k_str"),
        expr("try_variant_get(parse_json(props), '$.missing', 'int')")
          .as("missing_int"),
        expr("is_variant_null(parse_json('null'))").as("null_lit"),
        expr("""variant_get(parse_json(
            concat('{"id":', CAST(event_id AS STRING), ',"tags":["a","b"]}')),
          '$.tags[1]', 'string')""").as("tag2"),
        expr("""variant_get(parse_json(
            concat('{"id":', CAST(event_id AS STRING), ',"tags":["a","b"]}')),
          '$.id', 'long')""").as("id_rt"),
        expr("schema_of_variant(parse_json(props))").as("vschema"))
    }),

    // string collations (Spark 4): equality/distinct/startswith under
    // UTF8_LCASE must behave as binary comparison over lower() — the twin
    // computes exactly that. v mixes cases deterministically (even keys
    // uppercased) so the collated and binary distinct counts genuinely
    // diverge.
    "fn_collation" -> ((s, d) => {
      t(s, d, "part")
        .withColumn("v", when(col("p_partkey") % 2 === 0,
          upper(col("p_name"))).otherwise(col("p_name")))
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("v")).as("n_binary"),
          countDistinct(expr("collate(v, 'UTF8_LCASE')")).as("n_lcase"),
          sum(when(expr("collate(v, 'UTF8_LCASE') = collate(upper(v), 'UTF8_LCASE')"),
            1L).otherwise(0L)).as("n_ci_eq"),
          sum(when(expr("startswith(collate(v, 'UTF8_LCASE'), 'a')"),
            1L).otherwise(0L)).as("n_starts_a"))
    }),

    // XML family (Spark 4 from_xml + the xpath_* extractors): documents
    // are constructed deterministically from event columns and parsed
    // back, so the twin reduces each extraction to its known source value
    // — the same pin-the-parser pattern as fn_url/fn_variant. Double
    // round-trips are exact: Spark's double→string is
    // shortest-roundtrip, so xpath_double(cast(v AS STRING)) == v.
    "fn_xml" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("xml", concat(
          lit("<r><id>"), col("event_id").cast("string"),
          lit("</id><t>"), col("event_type"),
          lit("</t><vals><v>"), col("value").cast("string"),
          lit("</v><v>"), (col("value") * 2).cast("string"),
          lit("</v></vals></r>")))
        .select(col("event_id"),
          expr("xpath_long(xml, '/r/id/text()')").as("id_rt"),
          expr("xpath_string(xml, '/r/t/text()')").as("type_rt"),
          expr("xpath_double(xml, '/r/vals/v[1]/text()')").as("v1"),
          expr("size(xpath(xml, '/r/vals/v/text()'))").as("n_vals"),
          expr("from_xml(xml, 'id BIGINT, t STRING').id").as("from_xml_id"))
    }),

    // error-safe arithmetic (try_add/subtract/multiply/divide: NULL on
    // overflow and division-by-zero instead of ANSI errors) + mask()
    // redaction (upper→X/lower→x/digit→n by default, custom replacement
    // chars). The twin computes the non-overflowing values directly and
    // the masks via regex class replacement.
    "fn_misc2" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") <= 500).select(
        col("l_orderkey"), col("l_linenumber"),
        expr("try_add(l_orderkey, 1)").as("ta"),
        expr("try_divide(l_quantity, l_linenumber - l_linenumber)")
          .as("div0"),
        expr("try_divide(l_extendedprice, l_quantity)").as("unit_price"),
        expr("try_add(9223372036854775807, l_orderkey)").as("overflow_add"),
        expr("try_multiply(9223372036854775807, l_orderkey)")
          .as("overflow_mul"),
        expr("mask(concat(upper(l_returnflag), 'x7-', l_linestatus))")
          .as("masked_default"),
        expr("mask(concat(l_returnflag, '3'), 'U', 'l', '#')")
          .as("masked_custom"))
    }),

    // array higher-order + editing surface beyond fn_array/fn_array2:
    // filter/exists/forall lambdas, zip_with, array_compact/append/
    // prepend/insert/distinct, arrays_overlap. arr = sequence(1, 1+id%5),
    // so every column's expected value is a closed form of vec_id.
    "fn_array3" -> ((s, d) => {
      t(s, d, "embeddings")
        .withColumn("arr", expr("sequence(1, 1 + CAST(vec_id % 5 AS INT))"))
        .select(col("vec_id"),
          concat_ws(",", expr("filter(arr, x -> x % 2 = 0)")).as("evens_csv"),
          expr("exists(arr, x -> x > 4)").as("has_gt4"),
          expr("forall(arr, x -> x < 5)").as("all_lt5"),
          size(expr("array_compact(array(vec_id, NULL, vec_id + 1))"))
            .as("compact_len"),
          concat_ws(",", expr("array_append(arr, 99)")).as("appended"),
          concat_ws(",", expr("array_prepend(arr, 0)")).as("prepended"),
          concat_ws(",", expr("array_insert(arr, 1, -1)")).as("inserted"),
          expr("arrays_overlap(arr, array(4, 5, 6))").as("overlaps_456"),
          concat_ws(",", expr("array_distinct(concat(arr, arr))"))
            .as("distinct_csv"),
          concat_ws(",", expr("zip_with(arr, arr, (a, b) -> a + b)"))
            .as("doubled_csv"))
    }),

    // third string wave: split_part, char-class trim, byte/bit lengths,
    // instr, printf-style formatting (Spark format_string ≡ DuckDB
    // printf — both delegate to C-style %-formats)
    "fn_string3" -> ((s, d) => {
      t(s, d, "part").filter(col("p_partkey") <= 500).select(
        col("p_partkey"),
        expr("split_part(p_name, ' ', 2)").as("second_word"),
        expr("btrim(p_brand, 'Bd#0123456789')").as("brand_core"),
        expr("octet_length(p_name)").as("bytes"),
        expr("bit_length(p_brand)").as("bits"),
        expr("instr(p_name, 'a')").as("first_a"),
        expr("format_string('%05d|%s', p_size, p_brand)").as("fmt"),
        expr("format_string('%.3f', p_retailprice)").as("fmt_price"))
    }),

    // IANA timezone conversions: from/to_utc_timestamp across fixed-offset
    // (Tokyo), half-hour-offset (Kolkata), and DST (New York) zones; the
    // +70-day shift pushes January events across the 2024-03-10 US
    // spring-forward so the DST rule itself is exercised; round-trip
    // through a zone is identity on unambiguous wall times. DuckDB twin
    // runs the same IANA rules via ICU's double AT TIME ZONE hop.
    "fn_tz" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        from_utc_timestamp(col("ts"), "America/New_York").as("ny"),
        from_utc_timestamp(col("ts"), "Asia/Tokyo").as("tokyo"),
        from_utc_timestamp(col("ts"), "Asia/Kolkata").as("kolkata"),
        from_utc_timestamp(col("ts") + expr("INTERVAL 70 DAYS"),
          "America/New_York").as("ny_spring"),
        (to_utc_timestamp(from_utc_timestamp(col("ts"), "America/New_York"),
          "America/New_York") === col("ts")).as("roundtrip_ok"),
        hour(from_utc_timestamp(col("ts"), "America/New_York"))
          .cast("long").as("ny_hour"))
    }),

    // SQL-defined scalar UDFs (Spark 4 `CREATE FUNCTION … RETURN expr`):
    // the function body is Catalyst-inlined at plan time — unlike JVM
    // UDFs it stays inside whole-stage codegen and the optimizer sees
    // through it (pushdown/pruning unaffected). The twin inlines the same
    // expressions, which is exactly what the optimizer does.
    "fn_sql_udf" -> ((s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_net_revenue(
                 price DOUBLE, disc DOUBLE) RETURNS DOUBLE
               RETURN price * (1.0 - disc)""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_band(
                 d DOUBLE) RETURNS STRING
               RETURN CASE WHEN d < 0.03 THEN 'low'
                           WHEN d < 0.07 THEN 'mid'
                           ELSE 'high' END""")
      t(s, d, "lineitem").filter(col("l_orderkey") <= 2000)
        .selectExpr("l_orderkey", "l_linenumber",
          "round(graft_net_revenue(l_extendedprice, l_discount), 4) AS net",
          "graft_disc_band(l_discount) AS band")
    }),

    // SQL-defined TABLE function (UDTF) applied LATERALLY per order row —
    // the parameterized-view pattern: the body is a correlated subquery
    // Catalyst decorrelates into an ordinary join (no per-row execution),
    // so the "function call" costs one lineitem aggregate. Twin inlines
    // the equivalent join + aggregate.
    "fn_sql_table_udf" -> ((s, d) => {
      registerAll(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_order_stats(
                 key BIGINT) RETURNS TABLE(n_lines BIGINT, net DOUBLE)
               RETURN SELECT count(*),
                             round(sum(l_extendedprice * (1.0 - l_discount)), 4)
                      FROM lineitem WHERE l_orderkey = key""")
      s.sql("""SELECT o.o_orderkey, t.n_lines, t.net
               FROM orders o, LATERAL graft_order_stats(o.o_orderkey) t
               WHERE o.o_orderkey <= 2000""")
    }),

    // inline generator: one input row fans out to one row per struct in a
    // constructed array, struct fields become columns — completes the
    // generator family (explode/posexplode/explode_outer/stack). Twin is
    // the generator's relational meaning: a tagged UNION ALL.
    "fn_inline" -> ((s, d) => {
      t(s, d, "events").select(col("event_id"),
        inline(array(
          struct(lit("raw").as("tag"), col("value").as("v")),
          struct(lit("doubled").as("tag"), (col("value") * 2).as("v")))))
    })
  )

  val sql: Map[String, String] = Map(
    "fn_luhn" -> """
      WITH r AS (
        SELECT list_sum(list_transform(
                 string_split(reverse(CAST(o_orderkey AS VARCHAR)), ''),
                 (c, i) -> CASE WHEN length(c) = 0 THEN 0
                   WHEN (i - 1) % 2 = 0 THEN CAST(c AS INTEGER)
                   WHEN CAST(c AS INTEGER) * 2 > 9
                     THEN CAST(c AS INTEGER) * 2 - 9
                   ELSE CAST(c AS INTEGER) * 2 END)) % 10 AS rem
        FROM orders)
      SELECT CAST(rem AS BIGINT) AS rem, CAST(count(*) AS BIGINT) AS n,
             rem = 0 AS is_luhn_valid
      FROM r GROUP BY rem""",

    "fn_tz" -> """
      SELECT event_id,
             (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS ny,
             (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo' AS tokyo,
             (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Kolkata' AS kolkata,
             ((ts + INTERVAL 70 DAY) AT TIME ZONE 'UTC')
               AT TIME ZONE 'America/New_York' AS ny_spring,
             ((((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York')
               AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC') = ts
               AS roundtrip_ok,
             hour((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York')
               AS ny_hour
      FROM events""",

    "fn_inline" -> """
      SELECT event_id, 'raw' AS tag, value AS v FROM events
      UNION ALL
      SELECT event_id, 'doubled', value * 2 FROM events""",

    // the decorrelated meaning of the LATERAL table-function call: a left
    // join onto the per-order aggregate (empty group ⇒ count 0, sum NULL)
    "fn_sql_table_udf" -> """
      SELECT o.o_orderkey,
             coalesce(l.n_lines, 0) AS n_lines,
             l.net
      FROM orders o LEFT JOIN (
        SELECT l_orderkey, count(*) AS n_lines,
               round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS net
        FROM lineitem GROUP BY l_orderkey) l
        ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey <= 2000""",

    "fn_sql_udf" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * (1.0 - l_discount), 4) AS net,
             CASE WHEN l_discount < 0.03 THEN 'low'
                  WHEN l_discount < 0.07 THEN 'mid'
                  ELSE 'high' END AS band
      FROM lineitem WHERE l_orderkey <= 2000""",

    "fn_string" -> """
      SELECT p_partkey,
             lower(p_name) AS lo,
             upper(p_brand) AS up,
             substring(p_name, 1, 8) AS sub8,
             length(p_name) AS len,
             concat_ws('|', p_brand, p_type) AS cat,
             lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
             rpad(p_brand, 12, '.') AS rpadded,
             trim('  ' || p_brand || '  ') AS trimmed,
             regexp_extract(p_name, '[a-z]+') AS first_word,
             regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
             translate(p_brand, 'AEIOU', 'aeiou') AS translated,
             reverse(p_brand) AS rev,
             len(string_split(p_name, ' ')) AS n_words,
             levenshtein(p_brand, p_type) AS lev
      FROM part WHERE p_partkey <= 500""",

    "fn_string2" -> """
      SELECT p_partkey,
             left(p_name, 5) AS l5,
             right(p_name, 5) AS r5,
             contains(p_name, 'a') AS has_a,
             starts_with(p_name, 'b') AS starts_b,
             suffix(p_type, 'e') AS ends_e,
             CASE WHEN len(string_split(p_name, ' ')) <= 2 THEN p_name
                  ELSE array_to_string(string_split(p_name, ' ')[1:2], ' ')
             END AS first_two_words,
             position('a' IN p_name) AS pos_a,
             repeat(p_brand, 2) AS brand2x,
             ascii(p_name) AS first_code,
             chr(65 + CAST(p_partkey % 26 AS INT)) AS cycled_char
      FROM part WHERE p_partkey <= 500""",

    "fn_datetime2" -> """
      SELECT o_orderkey,
             dayofyear(o_orderdate) AS doy,
             weekofyear(o_orderdate) AS iso_week,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month_floor,
             CAST(CAST(o_orderdate AS DATE) - 90 AS DATE) AS minus90,
             o_orderdate + INTERVAL 36 HOUR AS plus36h
      FROM orders WHERE o_orderkey <= 2000""",

    "fn_datetime" -> """
      SELECT o_orderkey,
             year(o_orderdate) AS yr,
             month(o_orderdate) AS mo,
             dayofmonth(o_orderdate) AS dom,
             quarter(o_orderdate) AS qtr,
             dayofweek(o_orderdate) + 1 AS dow,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
             CAST(o_orderdate AS DATE) + 30 AS plus30,
             date_diff('day', CAST(o_orderdate AS DATE), DATE '2005-01-01')
               AS days_to_2005,
             date_diff('month', date_trunc('month', o_orderdate),
                       TIMESTAMP '2005-01-01') AS months_to_2005,
             CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
             last_day(CAST(o_orderdate AS DATE)) AS eom
      FROM orders WHERE o_orderkey <= 2000""",

    "fn_math" -> """
      SELECT l_orderkey, l_linenumber,
             floor(l_extendedprice) AS fl,
             ceil(l_extendedprice) AS ce,
             abs(l_quantity - 25.0) AS ab,
             pow(l_discount, 2) AS disc_sq,
             sqrt(l_quantity) AS rt,
             exp(l_discount) AS ex,
             ln(l_quantity + 1.0) AS ln_qty,
             CAST(sign(l_quantity - 25.0) AS DOUBLE) AS sg,
             ((l_orderkey % 7) + 7) % 7 AS pm,
             greatest(l_quantity, l_discount * 100) AS gr,
             least(l_tax, l_discount) AS le
      FROM lineitem WHERE l_orderkey <= 500""",

    "fn_conditional" -> """
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 300000 THEN 'high'
                  WHEN o_totalprice > 100000 THEN 'mid'
                  ELSE 'low' END AS price_band,
             coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_or_pending,
             greatest(o_totalprice, 50000.0) AS floor50k,
             least(o_totalprice, 400000.0) AS cap400k
      FROM orders""",

    "fn_array" -> """
      SELECT vec_id,
             len(embedding) AS dim,
             CAST(embedding[1] AS DOUBLE) AS first_elem,
             list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)))
               AS sum_first8,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
               AS sum_all,
             list_min(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)))
               AS min_first8,
             list_max(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)))
               AS max_first8,
             list_contains(range(1, 11), CAST(vec_id % 12 AS INT)) AS in_1_to_10
      FROM embeddings""",

    "fn_array2" -> """
      SELECT vec_id,
             coalesce(array_to_string(list_sort(list_distinct(arr1 || arr2)), ','), '')
               AS union_csv,
             coalesce(array_to_string(list_sort(list_distinct(
               list_filter(arr1, x -> list_contains(arr2, x)))), ','), '')
               AS intersect_csv,
             coalesce(array_to_string(list_sort(list_distinct(
               list_filter(arr2, x -> NOT list_contains(arr1, x)))), ','), '')
               AS except_csv,
             CAST(coalesce(list_position(arr2, 3), 0) AS BIGINT) AS pos3,
             array_to_string(list_filter(arr2, x -> x != 4), ',') AS removed4,
             array_to_string(arr1 || arr2, ',') AS flat_csv,
             array_to_string([CAST(vec_id % 3 AS INT), CAST(vec_id % 3 AS INT)], ',')
               AS repeated,
             CAST(len(arr1 || arr2) AS INT) AS concat_len
      FROM (
        SELECT vec_id,
               range(1, 2 + CAST(vec_id % 4 AS INT)) AS arr1,
               range(2, 6) AS arr2
        FROM embeddings
      )""",

    "fn_json" -> """
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
             CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10,
             CAST(json_extract_string(props, '$.k') AS INT) AS k_struct,
             json_extract_string(props, '$.k') AS k_tuple_str
      FROM events""",

    "fn_json2" -> """
      SELECT event_id,
             to_json(struct_pack(id := event_id, t := event_type)) AS obj_json,
             to_json(MAP {'uid': user_id}) AS map_json,
             'STRUCT<k: BIGINT>' AS props_schema,
             user_id AS roundtrip_uid
      FROM events""",

    "fn_struct" -> """
      SELECT event_id,
             s.u AS uid,
             s.detail.et AS etype,
             s.detail.big AS is_big,
             CASE WHEN s.detail.big THEN s.u ELSE -1 END AS big_uid
      FROM (
        SELECT event_id,
               struct_pack(u := user_id,
                 detail := struct_pack(et := event_type,
                   big := value > 50.0)) AS s
        FROM events WHERE event_id <= 2000
      )""",

    "fn_regex2" -> """
      SELECT o_orderkey,
             list_aggregate(regexp_extract_all(o_orderpriority, '[0-9]+'),
               'string_agg', ',') AS digits,
             regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS pri_digit,
             CAST(len(regexp_extract_all(o_orderpriority, '[A-Z]')) AS INT)
               AS n_upper
      FROM orders WHERE o_orderkey <= 2000""",

    "fn_trig" -> """
      SELECT l_orderkey, l_linenumber,
             sin(l_quantity) AS sin_q,
             cos(l_quantity) AS cos_q,
             atan2(l_quantity, l_discount + 1.0) AS at2,
             degrees(l_discount) AS deg_disc,
             radians(l_quantity) AS rad_q,
             atan(l_discount) AS atan_disc
      FROM lineitem WHERE l_orderkey <= 500""",

    "fn_format" -> """
      SELECT o_orderkey,
             printf('ORD-%07d', o_orderkey) AS padded_id,
             printf('%.2f',
               CAST(ROUND(o_totalprice*100) AS BIGINT) / 100.0) AS price_2dp,
             printf('%05X', CAST((o_orderkey * 2654435761) % 1048576 AS INT))
               AS hex_hash,
             printf('%-4s|', o_orderstatus) AS status_padded
      FROM orders WHERE o_orderkey <= 2000""",

    "fn_point_in_polygon" -> """
      WITH pts AS (
        SELECT c_custkey,
               40.2 + (CAST(('0x' || substr(md5('pilat:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % 12000) / 10000.0 AS py,
               -74.5 + (CAST(('0x' || substr(md5('pilon:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % 14000) / 10000.0 AS px
        FROM customer WHERE c_custkey <= 500
      ), edges AS (
        SELECT * FROM (VALUES
          (-74.3, 40.4, -73.5, 40.4),
          (-73.5, 40.4, -73.4, 41.0),
          (-73.4, 41.0, -73.9, 40.75),
          (-73.9, 40.75, -74.1, 41.1),
          (-74.1, 41.1, -74.35, 40.9),
          (-74.35, 40.9, -74.3, 40.4)) AS t(x1, y1, x2, y2)
      ), crossed AS (
        SELECT p.c_custkey, p.px, p.py,
               sum(CASE WHEN ((e.y1 > p.py) <> (e.y2 > p.py))
                         AND (p.px < (e.x2 - e.x1) * (p.py - e.y1)
                                     / (e.y2 - e.y1) + e.x1)
                   THEN 1 ELSE 0 END) AS crossings
        FROM pts p CROSS JOIN edges e
        GROUP BY 1, 2, 3
      )
      SELECT c_custkey, px, py, CAST(crossings AS BIGINT) AS crossings,
             crossings % 2 = 1 AS inside
      FROM crossed""",

    // the xy2d loop unrolled: step i handles bit-plane s = 2^(13-i);
    // quadrant Gray-code contribution + rotate/reflect of the lower
    // plane, all integer CASEs — an independent formulation of the
    // engine's codegen kernel
    "fn_hilbert" -> {
      val steps = (0 until 14).map { i =>
        val sBit = 1 << (13 - i)
        val ss = sBit.toLong * sBit
        s"""
      , h${i + 1} AS (
        SELECT k, xi, yi,
          d + $ss * (CASE WHEN (x & $sBit) > 0 AND (y & $sBit) > 0 THEN 2
                          WHEN (x & $sBit) > 0 THEN 3
                          WHEN (y & $sBit) > 0 THEN 1 ELSE 0 END) AS d,
          CASE WHEN (y & $sBit) > 0 THEN x
               WHEN (x & $sBit) > 0 THEN $sBit - 1 - y
               ELSE y END AS x,
          CASE WHEN (y & $sBit) > 0 THEN y
               WHEN (x & $sBit) > 0 THEN $sBit - 1 - x
               ELSE x END AS y
        FROM h$i)"""
      }.mkString
      s"""
      WITH pts AS (
        SELECT s_suppkey AS k,
               (CAST(('0x' || substr(md5('gx:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000) AS xi,
               (CAST(('0x' || substr(md5('gy:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000) AS yi
        FROM supplier
      ), h0 AS (
        SELECT k, xi, yi, CAST(0 AS BIGINT) AS d, xi AS x, yi AS y FROM pts
      )$steps
      SELECT k, xi, yi, d AS h FROM h14"""
    },

    // independent Morton formulation (shift-mask spread16, not the
    // engine's codegen kernel) — hash parity doubles as a differential
    // test of InterleaveBits
    "fn_geohash" -> """
      WITH q AS (
        SELECT s_suppkey AS k,
               (CAST(('0x' || substr(md5('gx:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000) AS xi,
               (CAST(('0x' || substr(md5('gy:' || CAST(s_suppkey AS VARCHAR)),
                 1, 4)) AS BIGINT) % 10000) AS yi
        FROM supplier
      ), ord AS (
        SELECT k, xi * 32768 // 10000 AS lonq, yi * 32768 // 10000 AS latq
        FROM q
      ), s1 AS (
        SELECT k, lonq, latq,
               ((lonq | (lonq << 8)) & 16711935) AS lo,
               ((latq | (latq << 8)) & 16711935) AS la
        FROM ord
      ), s2 AS (
        SELECT k, lonq, latq,
               ((lo | (lo << 4)) & 252645135) AS lo,
               ((la | (la << 4)) & 252645135) AS la FROM s1
      ), s3 AS (
        SELECT k, lonq, latq,
               ((lo | (lo << 2)) & 858993459) AS lo,
               ((la | (la << 2)) & 858993459) AS la FROM s2
      ), s4 AS (
        SELECT k, lonq, latq,
               ((lo | (lo << 1)) & 1431655765) AS lo,
               ((la | (la << 1)) & 1431655765) AS la FROM s3
      ), m AS (
        SELECT k, lonq, latq, la | (lo << 1) AS morton FROM s4
      )
      SELECT k, lonq, latq, morton,
             substr('0123456789bcdefghjkmnpqrstuvwxyz',
               CAST((morton >> 25) & 31 AS INT) + 1, 1) ||
             substr('0123456789bcdefghjkmnpqrstuvwxyz',
               CAST((morton >> 20) & 31 AS INT) + 1, 1) ||
             substr('0123456789bcdefghjkmnpqrstuvwxyz',
               CAST((morton >> 15) & 31 AS INT) + 1, 1) ||
             substr('0123456789bcdefghjkmnpqrstuvwxyz',
               CAST((morton >> 10) & 31 AS INT) + 1, 1) ||
             substr('0123456789bcdefghjkmnpqrstuvwxyz',
               CAST((morton >> 5) & 31 AS INT) + 1, 1) ||
             substr('0123456789bcdefghjkmnpqrstuvwxyz',
               CAST(morton & 31 AS INT) + 1, 1) AS geohash
      FROM m""",

    "fn_inet" -> """
      WITH ocs AS (
        SELECT c_custkey,
               CAST(('0x' || substr(md5('ip1:' || CAST(c_custkey AS VARCHAR)),
                 1, 2)) AS BIGINT) % 256 AS o1,
               CAST(('0x' || substr(md5('ip2:' || CAST(c_custkey AS VARCHAR)),
                 1, 2)) AS BIGINT) % 256 AS o2,
               CAST(('0x' || substr(md5('ip3:' || CAST(c_custkey AS VARCHAR)),
                 1, 2)) AS BIGINT) % 256 AS o3,
               CAST(('0x' || substr(md5('ip4:' || CAST(c_custkey AS VARCHAR)),
                 1, 2)) AS BIGINT) % 256 AS o4
        FROM customer WHERE c_custkey <= 500
      ), ips AS (
        SELECT c_custkey,
               CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.'
                 || CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS ip,
               o1*16777216 + o2*65536 + o3*256 + o4 AS ip_u32
        FROM ocs
      ), blocks(cidr, net_u32, prefix) AS (
        SELECT * FROM (VALUES
          ('0.0.0.0/0', 0, 0),
          ('10.0.0.0/8', 167772160, 8),
          ('172.16.0.0/12', 2886729728, 12),
          ('192.168.0.0/16', 3232235520, 16),
          ('203.0.113.0/24', 3405803776, 24)) t(cidr, net_u32, prefix)
      )
      SELECT i.c_custkey, i.ip, i.ip_u32,
             i.ip_u32 >> 8 AS subnet24,
             coalesce(arg_max(b.cidr, b.prefix), 'unmatched') AS block,
             CAST(coalesce(max(b.prefix), 0) AS INTEGER) AS prefix
      FROM ips i LEFT JOIN blocks b
        ON (i.ip_u32 >> (32 - b.prefix)) = (b.net_u32 >> (32 - b.prefix))
      GROUP BY i.c_custkey, i.ip, i.ip_u32""",

    "fn_geo" -> """
      WITH pts AS (
        SELECT c_custkey,
               (CAST(('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)),
                  1, 6)) AS BIGINT) % 1800000 - 900000) / 10000.0 AS lat,
               (CAST(('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)),
                  1, 6)) AS BIGINT) % 3600000 - 1800000) / 10000.0 AS lon
        FROM customer WHERE c_custkey <= 500)
      SELECT c_custkey, lat, lon,
             ROUND(2 * 6371.0088 * asin(sqrt(
               sin(radians(40.6413 - lat) / 2) * sin(radians(40.6413 - lat) / 2)
               + cos(radians(lat)) * cos(radians(40.6413))
                 * sin(radians(-73.7781 - lon) / 2)
                 * sin(radians(-73.7781 - lon) / 2))), 3) AS dist_jfk_km,
             ROUND(fmod(degrees(atan2(
               sin(radians(-73.7781 - lon)) * cos(radians(40.6413)),
               cos(radians(lat)) * sin(radians(40.6413))
                 - sin(radians(lat)) * cos(radians(40.6413))
                   * cos(radians(-73.7781 - lon)))) + 360.0, 360.0), 2)
               AS bearing_deg,
             lat >= 40.0 AND lat <= 41.0 AND lon >= -75.0 AND lon <= -73.0
               AS in_nyc_bbox
      FROM pts""",

    "fn_bitwise" -> """
      SELECT o_orderkey,
             o_orderkey & 255 AS and255,
             o_orderkey | 16 AS or16,
             xor(o_orderkey, 37) AS xor37,
             o_orderkey << 2 AS shl2,
             o_orderkey >> 3 AS shr3,
             bit_count(o_orderkey) AS nbits
      FROM orders WHERE o_orderkey <= 2000""",

    "fn_explode_outer" -> """
      SELECT t.p_partkey, u.v
      FROM (
        SELECT p_partkey,
               CASE WHEN p_size % 3 = 0 THEN NULL
                    ELSE range(1, p_size % 4 + 2) END AS arr
        FROM part
      ) t
      LEFT JOIN LATERAL unnest(t.arr) u(v) ON true""",

    // bround ↔ round_even; initcap emulated per word (upper first char,
    // inputs pre-lowercased); groups are single-row (orderkey, linenumber)
    // so any_value/first are deterministic on both engines
    "fn_misc" -> """
      SELECT l_orderkey, l_linenumber,
             any_value(l_orderkey * 10 + l_linenumber) AS any_const,
             sum(round_even(l_quantity / 2.0, 0)) AS sum_bround,
             min(make_timestamp(CAST(year(l_shipdate) AS BIGINT),
               CAST(month(l_shipdate) AS BIGINT),
               CAST(day(l_shipdate) AS BIGINT), 12, 30, 0.0)) AS noon_ts,
             CAST(min(list_aggregate(list_transform(
               list_zip(range(1, CAST(l_linenumber AS BIGINT) + 1),
                        range(2, CAST(l_linenumber AS BIGINT) + 2)),
               p -> p[1] * p[2]), 'sum')) AS BIGINT) AS zip_dot,
             min(array_to_string(list_transform(
               string_split(lower(l_returnflag) || ' of ' ||
                 lower(l_linestatus), ' '),
               w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' '))
               AS cap_label
      FROM lineitem WHERE l_orderkey <= 500
      GROUP BY l_orderkey, l_linenumber""",

    "fn_cast" -> """
      SELECT o_orderkey,
             CAST(trunc(o_totalprice) AS BIGINT) AS price_trunc,
             TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri_num,
             TRY_CAST(o_orderpriority AS DOUBLE) AS bad_cast_null,
             strftime(o_orderdate, '%Y-%m-%d') AS date_str,
             CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS date_roundtrip,
             CAST(o_orderkey AS VARCHAR) AS key_str
      FROM orders WHERE o_orderkey <= 2000""",

    "fn_datetime3" -> """
      SELECT o_orderkey,
             o_orderdate + INTERVAL 6 HOUR AS plus6h,
             o_orderdate + INTERVAL 3 MONTH AS plus1q,
             CAST(date_diff('minute', o_orderdate, TIMESTAMP '2002-01-01')
               AS BIGINT) AS min_to_2002,
             CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01')
               AS BIGINT) AS day_to_2002,
             dayname(o_orderdate) AS day_name,
             monthname(o_orderdate) AS month_name
      FROM orders WHERE o_orderkey <= 2000""",

    // DuckDB has no parse_url — the twin rebuilds the same URL string and
    // extracts each component with an RFC-grammar regex. p_name is
    // [a-z ]-only (verified on the fixture), so form-urlencoding reduces
    // to space→'+' and the decode roundtrip to identity.
    "fn_url" -> """
      WITH u AS (
        SELECT p_partkey, p_name,
               'https://w' || CAST(p_partkey % 5 AS VARCHAR) ||
               '.example.com/cat/' || lower(p_type) ||
               '/item?id=' || CAST(p_partkey AS VARCHAR) ||
               '&brand=' || replace(p_brand, '#', '-') ||
               '#s' || CAST(p_partkey % 3 AS VARCHAR) AS url
        FROM part WHERE p_partkey <= 500)
      SELECT p_partkey,
             regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
             regexp_extract(url, '^([a-z]+)://', 1) AS proto,
             regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '\?([^#]*)', 1) AS query,
             regexp_extract(url, '#(.*)$', 1) AS frag,
             regexp_extract(url, '[?&]brand=([^&#]*)', 1) AS brand_param,
             replace(p_name, ' ', '+') AS enc_name,
             p_name AS name_roundtrip
      FROM u""",

    // DuckDB JSON operators stand in for variant path extraction; the
    // constructed-doc columns reduce to their known values
    "fn_variant" -> """
      SELECT event_id,
             CAST(props->>'k' AS INT) AS k_int,
             props->>'k' AS k_str,
             CAST(NULL AS INT) AS missing_int,
             TRUE AS null_lit,
             'b' AS tag2,
             event_id AS id_rt,
             'OBJECT<k: BIGINT>' AS vschema
      FROM events""",

    // UTF8_LCASE semantics ≡ binary over lower(); n_ci_eq covers every
    // row by construction (case-insensitive equality ignores the
    // upper/lower split), sums cast to dodge HUGEINT
    "fn_collation" -> """
      WITH p AS (
        SELECT p_brand,
               CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                    ELSE p_name END AS v,
               p_name
        FROM part)
      SELECT p_brand,
             count(DISTINCT v) AS n_binary,
             count(DISTINCT lower(v)) AS n_lcase,
             CAST(count(*) AS BIGINT) AS n_ci_eq,
             CAST(sum(CASE WHEN starts_with(p_name, 'a') THEN 1 ELSE 0 END)
               AS BIGINT) AS n_starts_a
      FROM p GROUP BY p_brand""",

    // every extraction reduces to its known source value
    "fn_xml" -> """
      SELECT event_id,
             event_id AS id_rt,
             event_type AS type_rt,
             value AS v1,
             2 AS n_vals,
             event_id AS from_xml_id
      FROM events""",

    // overflow columns: BIGINT max + k overflows for every k ≥ 1 (the
    // fixture includes l_orderkey = 0, where neither op overflows and the
    // multiply collapses to 0); the multiply also survives at k = 1
    "fn_misc2" -> """
      SELECT l_orderkey, l_linenumber,
             l_orderkey + 1 AS ta,
             CAST(NULL AS DOUBLE) AS div0,
             l_extendedprice / l_quantity AS unit_price,
             CASE WHEN l_orderkey = 0 THEN 9223372036854775807
                  ELSE NULL END AS overflow_add,
             CASE WHEN l_orderkey = 0 THEN 0
                  WHEN l_orderkey = 1 THEN 9223372036854775807
                  ELSE NULL END AS overflow_mul,
             regexp_replace(regexp_replace(regexp_replace(
               upper(l_returnflag) || 'x7-' || l_linestatus,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
               AS masked_default,
             regexp_replace(regexp_replace(regexp_replace(
               l_returnflag || '3',
               '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '#', 'g')
               AS masked_custom
      FROM lineitem WHERE l_orderkey <= 500""",

    // arr is duplicate-free by construction, so distinct(arr || arr) = arr
    "fn_array3" -> """
      WITH e AS (
        SELECT vec_id, range(1, 2 + (vec_id % 5)) AS arr
        FROM embeddings)
      SELECT vec_id,
             coalesce(array_to_string(list_filter(arr, x -> x % 2 = 0), ','),
               '') AS evens_csv,
             len(list_filter(arr, x -> x > 4)) > 0 AS has_gt4,
             len(list_filter(arr, x -> NOT (x < 5))) = 0 AS all_lt5,
             2 AS compact_len,
             array_to_string(arr || [99], ',') AS appended,
             array_to_string([0] || arr, ',') AS prepended,
             array_to_string([-1] || arr, ',') AS inserted,
             len(list_filter(arr, x -> x IN (4, 5, 6))) > 0 AS overlaps_456,
             array_to_string(arr, ',') AS distinct_csv,
             array_to_string(list_transform(arr, x -> x * 2), ',')
               AS doubled_csv
      FROM e""",

    // instr/octet_length/bit_length are BIGINT in DuckDB, INT in Spark;
    // printf ≡ format_string (both C-style %-formats; %.3f never rounds
    // on the 2-decimal fixture money so the halfway-rule gap can't bite)
    "fn_string3" -> """
      SELECT p_partkey,
             split_part(p_name, ' ', 2) AS second_word,
             trim(p_brand, 'Bd#0123456789') AS brand_core,
             CAST(strlen(p_name) AS INT) AS bytes,
             CAST(bit_length(p_brand) AS INT) AS bits,
             CAST(instr(p_name, 'a') AS INT) AS first_a,
             printf('%05d|%s', p_size, p_brand) AS fmt,
             printf('%.3f', p_retailprice) AS fmt_price
      FROM part WHERE p_partkey <= 500"""
  )
}
