package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Entity resolution / record linkage (SURVEY.md §2 tier C extension —
  * the fuzzy-matching counterpart of the exact dedup family):
  *
  *   1. score: [[graft.functions.JaroWinkler]] — native codegen kernel,
  *      value-compatible with DuckDB's `jaro_winkler_similarity` so the
  *      driver hash-checks every similarity this engine emits;
  *   2. block: candidate pairs come from an equi-join on a blocking key
  *      (first character here; soundex/prefix-buckets at production
  *      scale), NEVER an all-pairs cross join — the 100 TB contract is
  *      that the fuzzy kernel runs only on the blocked candidate set;
  *   3. cluster: the thresholded match graph goes through the SAME
  *      large-star/small-star connected components that near-dup dedup
  *      uses ([[graft.llm.Dedup.connectedComponentsFast]], O(log d)
  *      rounds), with the DuckDB oracle recomputing components as a
  *      recursive-CTE min-label fixpoint.
  *
  * The fixture universe is the distinct part-name catalog plus two
  * deterministic corruption variants per name (char drop, adjacent
  * transposition) — the classic dirty-catalog shape. Record ids are
  * derived (min partkey per name) so both engines build the identical
  * universe with no engine-specific id generation.
  */
object EntityRes {
  type Q = (SparkSession, String) => DataFrame

  /** Variant-rid offset, derived FROM THE DATA: max(p_partkey) + 1.
    * A fixed constant (the old +100000) silently collides with clean
    * rids once |part| ≥ 100k (TPC-H sf ≥ 0.5) — and because both
    * engines would compute the same broken fixture, the oracle hash
    * could never catch it. One tiny aggregate over the part dimension;
    * collected as a bounded driver scalar (1 row). */
  private[graft] def ridOffset(s: SparkSession, d: String): Long =
    t(s, d, "part").agg(max(col("p_partkey")).cast("bigint"))
      .head.getLong(0) + 1L

  /** Record universe: one clean record per distinct part name (rid = min
    * partkey carrying that name) + two corrupted variants with offset ids
    * (clean < +off < +2·off bands, disjoint at any sf by construction).
    * Corruptions preserve the first character, so first-char blocking has
    * full recall on the planted matches. */
  private[graft] def records(s: SparkSession, d: String): DataFrame = {
    val off = ridOffset(s, d)
    val base = t(s, d, "part")
      .groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).cast("bigint").as("rid"))
    // drop the 3rd character: "small ring" -> "smll ring"
    val drop3 = base.select((col("rid") + off).as("rid"),
      concat(substring(col("name"), 1, 2), expr("substring(name, 4)"))
        .as("name"))
    // transpose characters 2 and 3: "small ring" -> "samll ring"
    val swap23 = base.select((col("rid") + 2L * off).as("rid"),
      concat(substring(col("name"), 1, 1), substring(col("name"), 3, 1),
        substring(col("name"), 2, 1), expr("substring(name, 4)"))
        .as("name"))
    base.select(col("rid"), col("name")).union(drop3).union(swap23)
  }

  // per-corpus caches (the gdFit/nbScored amortization): er_blocked_pairs,
  // er_clusters, and er_survivorship all consume the same blocked+scored
  // pair set, and the latter two the same CC labeling — without the cache
  // each entry re-ran the jaro_winkler block join and the star-star
  // rounds from scratch (er_survivorship alone 4.8 s in the r8 bench)
  private val pairsCache = new graft.core.SessionCache[DataFrame]
  private val clustersCache = new graft.core.SessionCache[DataFrame]

  /** Blocked candidate pairs scored >= 0.88 (rounded — both engines
    * compare the same 6-decimal value, so the threshold cannot flip on a
    * final-ulp difference). */
  private def matchPairs(s: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate(s, d,
      matchPairsBuild(s, d).ckpt(eager = false))

  private def matchPairsBuild(s: SparkSession, d: String): DataFrame = {
    val r = records(s, d)
    val a = r.select(col("rid").as("rid_a"), col("name").as("name_a"),
      substring(col("name"), 1, 1).as("blk"))
    val b = r.select(col("rid").as("rid_b"), col("name").as("name_b"),
      substring(col("name"), 1, 1).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("rid_a") < col("rid_b"))
      .withColumn("jw", round(expr("jaro_winkler(name_a, name_b)"), 6))
      .filter(col("jw") >= 0.88)
      .select(col("rid_a"), col("rid_b"), col("jw"))
  }

  /** Shared CC labeling of the match graph — cached per corpus. */
  private def clusters(s: SparkSession, d: String): DataFrame =
    clustersCache.getOrElseUpdate(s, d, {
      val pairs = matchPairs(s, d)
        .select(col("rid_a").as("doc1"), col("rid_b").as("doc2"))
      val verts = records(s, d).select(col("rid").as("doc_id"))
      graft.llm.Dedup.connectedComponentsFast(verts, pairs)
        .select(col("doc_id").as("rid"), col("label").as("cluster"))
        .ckpt(eager = false)
    })

  val defs: Map[String, Q] = Map(

    // The kernel itself, exhaustively over the distinct-name catalog
    // (64 names at sf0.01 -> 2016 pairs): every Jaro/Winkler branch —
    // boost vs no boost, transpositions, unequal lengths — is exercised
    // and hash-compared against DuckDB's implementation.
    "fn_jaro_winkler" -> ((s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
      val a = names.select(col("p_name").as("name_a"))
      val b = names.select(col("p_name").as("name_b"))
      a.join(b, col("name_a") < col("name_b"))
        .withColumn("jw", round(expr("jaro_winkler(name_a, name_b)"), 6))
        .filter(col("jw") >= 0.5)
        .select(col("name_a"), col("name_b"), col("jw"))
    }),

    // Blocking + scoring: the production candidate-generation shape
    // (equi-join on the block key, kernel only on candidates).
    "er_blocked_pairs" -> ((s, d) => matchPairs(s, d)),

    // Cluster the match graph with large-star/small-star CC; label =
    // min rid of the component. The oracle replays the same clustering
    // as a recursive-CTE transitive min-label.
    "er_clusters" -> ((s, d) => clusters(s, d)),

    // Fuzzy-identity gate, batch twin: the corrupted variants stream
    // against the canonical (clean) name index through the SAME
    // stateless blocked-join + jaro_winkler plan the streaming gate
    // runs (DedupGate.fuzzyGate; streamed ≡ batch in DedupGateSpec).
    "er_fuzzy_gate" -> ((s, d) => {
      val off = ridOffset(s, d)
      val recs = records(s, d)
      val canon = recs.filter(col("rid") < off)
      val incoming = recs.filter(col("rid") >= off)
      graft.streaming.DedupGate.fuzzyGate(incoming,
        graft.streaming.DedupGate.fuzzyIndex(canon), 0.9)
    }),

    // Blocking-quality audit — the two numbers every ER pipeline tunes
    // on: REDUCTION RATIO (how many of the N(N−1)/2 all-pairs the
    // block key never generates) and PAIR COMPLETENESS (how many planted
    // true matches stay co-blocked). Candidates are counted from block
    // SIZES (Σ nb(nb−1)/2 — never materializing the pairs), the truth
    // set is the construction's (clean, drop3, swap23) triple per name,
    // and every count is exact BIGINT with two floor-ppm divisions at
    // the end. BIGINT pair counts hold to ~4e9 records; past that the
    // sums want decimal(38).
    "er_blocking_eval" -> ((s, d) => {
      val off = ridOffset(s, d)
      val recs = records(s, d).ckpt(eager = false)
      val blocks = recs.groupBy(substring(col("name"), 1, 1).as("blk"))
        .agg(count(lit(1)).as("nb"))
      val cand = blocks.agg(count(lit(1)).as("n_blocks"),
        sum(expr("nb * (nb - 1) div 2")).as("cand_pairs"))
      val totals = recs.agg(count(lit(1)).as("n_records"))
      val base = recs.filter(col("rid") < off)
        .select(col("rid"), substring(col("name"), 1, 1).as("k0"))
      val v1 = recs.filter(col("rid") >= off && col("rid") < 2L * off)
        .select((col("rid") - off).as("rid"),
          substring(col("name"), 1, 1).as("k1"))
      val v2 = recs.filter(col("rid") >= 2L * off)
        .select((col("rid") - 2L * off).as("rid"),
          substring(col("name"), 1, 1).as("k2"))
      val truth = base.join(v1, Seq("rid")).join(v2, Seq("rid"))
        .agg((count(lit(1)) * 3).as("n_true"),
          sum(when(col("k0") === col("k1"), 1L).otherwise(0L)
            + when(col("k0") === col("k2"), 1L).otherwise(0L)
            + when(col("k1") === col("k2"), 1L).otherwise(0L))
            .as("n_true_coblocked"))
      cand.crossJoin(broadcast(totals)).crossJoin(broadcast(truth))
        .select(col("n_records"), col("n_blocks"), col("cand_pairs"),
          expr("n_records * (n_records - 1) div 2").as("total_pairs"),
          col("n_true"), col("n_true_coblocked"))
        .withColumn("rr_ppm", expr("CAST(floor(1e6 * (total_pairs" +
          " - cand_pairs) / total_pairs + 0.5) AS BIGINT)"))
        .withColumn("pc_ppm", expr(
          "CAST(floor(1e6 * n_true_coblocked / n_true + 0.5) AS BIGINT)"))
    }),

    // Fellegi–Sunter probabilistic record linkage (JASA 1969) — the
    // weight-TRAINING step every production linker runs before scoring:
    // per comparison field, m = P(field agrees | match) from the planted
    // match pairs and u = P(field agrees | non-match) in closed form from
    // value-frequency counts (Σ_v C(c_v,2) / C(N,2) — the textbook
    // u-estimate, computed from per-value counts WITHOUT materializing a
    // single non-match pair, which is what makes it runnable on 10⁹
    // records), then the log-odds agreement/disagreement weights
    // ln(m/u) / ln((1−m)/(1−u)). Fixture: each part spawns a
    // name-corrupted and a type-corrupted variant, so the three
    // fields carry genuinely different (m, u) profiles. NUMERICS: all
    // counts exact BIGINT with +1/+2 Laplace smoothing (no zero odds);
    // m and u are single divisions of identical integers; each ln is
    // quantized floor-ppm once per field (6 ln calls total — the
    // agg_theil discipline). Scale shape: one match-keyed equi-join +
    // three per-value count aggregates + 1-row scalar broadcasts.
    "er_fellegi_sunter" -> ((s, d) => {
      val off = ridOffset(s, d)
      val clean = t(s, d, "part").select(
        col("p_partkey").cast("long").as("rid"),
        col("p_name").as("name"), col("p_brand").as("brand"),
        col("p_type").as("ptype"))
        .ckpt(eager = false)
      val v1 = clean.select((col("rid") + off).as("rid"),
        concat(substring(col("name"), 1, 2), expr("substring(name, 4)"))
          .as("name"),
        col("brand"), col("ptype"), col("rid").as("parent"))
      val v2 = clean.select((col("rid") + 2L * off).as("rid"),
        col("name"), col("brand"),
        concat(col("ptype"), lit(" X")).as("ptype"),
        col("rid").as("parent"))
      val mp = v1.union(v2)
        .join(clean.select(col("rid").as("parent"),
          col("name").as("name_c"), col("brand").as("brand_c"),
          col("ptype").as("type_c")), Seq("parent"))
      val m = mp.agg(count(lit(1)).as("n_m"),
        sum(when(col("name") === col("name_c"), 1L).otherwise(0L))
          .as("am_name"),
        sum(when(col("brand") === col("brand_c"), 1L).otherwise(0L))
          .as("am_brand"),
        sum(when(col("ptype") === col("type_c"), 1L).otherwise(0L))
          .as("am_type"))
      val tot = clean.agg(count(lit(1)).as("n"))
        .selectExpr("n", "n * (n - 1) div 2 AS t_pairs")
      def uAgg(field: String) = clean.groupBy(col(field))
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2")).as("u_a"))
      def fieldRow(label: String, amCol: String, field: String) =
        m.select(lit(label).as("field"), col("n_m"),
            col(amCol).as("a_m"))
          .crossJoin(broadcast(uAgg(field)))
          .crossJoin(broadcast(tot))
      fieldRow("brand", "am_brand", "brand")
        .union(fieldRow("ptype", "am_type", "ptype"))
        .union(fieldRow("name", "am_name", "name"))
        .selectExpr("field", "n_m AS n_matches",
          "CAST(a_m + 1 AS DOUBLE) / CAST(n_m + 2 AS DOUBLE) AS m_d",
          "CAST(u_a + 1 AS DOUBLE) / CAST(t_pairs + 2 AS DOUBLE) AS u_d")
        .selectExpr("field", "n_matches",
          "CAST(floor(1e6 * m_d + 0.5) AS BIGINT) AS m_ppm",
          "CAST(floor(1e6 * u_d + 0.5) AS BIGINT) AS u_ppm",
          "CAST(floor(1e6 * ln(m_d / u_d) + 0.5) AS BIGINT)" +
            " AS w_agree_ppm",
          "CAST(floor(1e6 * ln((1.0 - m_d) / (1.0 - u_d)) + 0.5)" +
            " AS BIGINT) AS w_disagree_ppm")
        .orderBy(col("field"))
    }),

    // Survivorship: fold each cluster into its golden record — canonical
    // name = the name of the label record (the CC label IS a member rid,
    // so canonicalization is one equi-join, no argmin over the cluster),
    // plus member count and the sorted member list. The member list is
    // emitted as a comma-joined STRING (not array<bigint>): the sorted
    // array is the in-engine API, but the driver's pandas canonicalizer
    // cannot sort ndarray cells, so the driver-facing row serializes it.
    "er_survivorship" -> ((s, d) => {
      val recs = records(s, d)
      val cl = clusters(s, d)
      cl.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sort_array(collect_list(col("rid"))).as("members"))
        .join(recs.select(col("rid").as("cluster"),
          col("name").as("canonical")), Seq("cluster"))
        .select(col("cluster"), col("canonical"), col("n_members"),
          array_join(col("members").cast("array<string>"), ",")
            .as("members"))
    }))

  // concat(...) instead of the || operator: these fragments are re-run
  // through the consuming templates' stripMargin, which would eat a
  // leading | of a || that lands after line-start whitespace
  private val recordsSql =
    """roff AS (
      |    SELECT CAST(max(p_partkey) AS BIGINT) + 1 AS off FROM part),
      |  records AS (
      |    SELECT CAST(min(p_partkey) AS BIGINT) AS rid, p_name AS name
      |    FROM part GROUP BY p_name
      |    UNION ALL
      |    SELECT CAST(min(p_partkey) AS BIGINT) + (SELECT off FROM roff),
      |           concat(substr(p_name, 1, 2), substr(p_name, 4))
      |    FROM part GROUP BY p_name
      |    UNION ALL
      |    SELECT CAST(min(p_partkey) AS BIGINT)
      |             + 2 * (SELECT off FROM roff),
      |           concat(substr(p_name, 1, 1), substr(p_name, 3, 1),
      |                  substr(p_name, 2, 1), substr(p_name, 4))
      |    FROM part GROUP BY p_name)""".stripMargin

  private val pairsSql =
    s"""$recordsSql,
      |  pairs AS (
      |    SELECT a.rid AS rid_a, b.rid AS rid_b,
      |           round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
      |    FROM records a JOIN records b
      |      ON substr(a.name, 1, 1) = substr(b.name, 1, 1)
      |     AND a.rid < b.rid
      |    WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.88)""".stripMargin

  val sql: Map[String, String] = Map(

    "fn_jaro_winkler" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM names a JOIN names b ON a.p_name < b.p_name
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.5""".stripMargin,

    "er_blocked_pairs" ->
      s"""WITH $pairsSql
        |SELECT rid_a, rid_b, jw FROM pairs""".stripMargin,

    "er_clusters" ->
      s"""WITH RECURSIVE $pairsSql,
        |  bi AS (SELECT rid_a AS s, rid_b AS d FROM pairs
        |         UNION ALL SELECT rid_b, rid_a FROM pairs),
        |  reach(node, lbl) AS (
        |    SELECT rid, rid FROM records
        |    UNION
        |    SELECT bi.d, r.lbl FROM reach r JOIN bi ON bi.s = r.node)
        |SELECT node AS rid, min(lbl) AS cluster
        |FROM reach GROUP BY node""".stripMargin,

    // same exact-integer counts + smoothed divisions + one quantized ln
    // per weight as the engine; u from value-frequency C(c_v, 2) sums
    "er_fellegi_sunter" -> """
      WITH roff AS (
        SELECT CAST(max(p_partkey) AS BIGINT) + 1 AS off FROM part),
      clean AS (
        SELECT CAST(p_partkey AS BIGINT) AS rid, p_name AS name,
               p_brand AS brand, p_type AS ptype
        FROM part),
      variants AS (
        SELECT rid + (SELECT off FROM roff) AS rid,
               concat(substr(name, 1, 2), substr(name, 4)) AS name,
               brand, ptype, rid AS parent
        FROM clean
        UNION ALL
        SELECT rid + 2 * (SELECT off FROM roff), name, brand,
               concat(ptype, ' X'), rid
        FROM clean),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_m,
               CAST(sum(CASE WHEN v.name = c.name THEN 1 ELSE 0 END)
                 AS BIGINT) AS am_name,
               CAST(sum(CASE WHEN v.brand = c.brand THEN 1 ELSE 0 END)
                 AS BIGINT) AS am_brand,
               CAST(sum(CASE WHEN v.ptype = c.ptype
                 THEN 1 ELSE 0 END) AS BIGINT) AS am_type
        FROM variants v JOIN clean c ON c.rid = v.parent),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS t_pairs
        FROM clean),
      u_name AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS u_a
                 FROM (SELECT count(*) AS c FROM clean GROUP BY name)),
      u_brand AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS u_a
                  FROM (SELECT count(*) AS c FROM clean GROUP BY brand)),
      u_type AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS u_a
                 FROM (SELECT count(*) AS c FROM clean GROUP BY ptype)),
      rows_ AS (
        SELECT 'brand' AS field, m.n_m, m.am_brand AS a_m, u.u_a, t.t_pairs
        FROM m, u_brand u, tot t
        UNION ALL
        SELECT 'ptype', m.n_m, m.am_type, u.u_a, t.t_pairs
        FROM m, u_type u, tot t
        UNION ALL
        SELECT 'name', m.n_m, m.am_name, u.u_a, t.t_pairs
        FROM m, u_name u, tot t),
      probs AS (
        SELECT field, n_m AS n_matches,
               CAST(a_m + 1 AS DOUBLE) / CAST(n_m + 2 AS DOUBLE) AS m_d,
               CAST(u_a + 1 AS DOUBLE) / CAST(t_pairs + 2 AS DOUBLE) AS u_d
        FROM rows_)
      SELECT field, n_matches,
             CAST(floor(1e6 * m_d + 0.5) AS BIGINT) AS m_ppm,
             CAST(floor(1e6 * u_d + 0.5) AS BIGINT) AS u_ppm,
             CAST(floor(1e6 * ln(m_d / u_d) + 0.5) AS BIGINT)
               AS w_agree_ppm,
             CAST(floor(1e6 * ln((1.0 - m_d) / (1.0 - u_d)) + 0.5)
               AS BIGINT) AS w_disagree_ppm
      FROM probs ORDER BY field""",

    "er_fuzzy_gate" ->
      s"""WITH $recordsSql
        |SELECT i.rid AS new_id, c.rid AS canon_id,
        |       round(jaro_winkler_similarity(i.name, c.name), 6) AS jw
        |FROM (SELECT * FROM records WHERE rid >= (SELECT off FROM roff)) i
        |JOIN (SELECT * FROM records WHERE rid < (SELECT off FROM roff)) c
        |  ON substr(i.name, 1, 1) = substr(c.name, 1, 1)
        |WHERE round(jaro_winkler_similarity(i.name, c.name), 6) >= 0.9""".stripMargin,

    "er_blocking_eval" ->
      s"""WITH $recordsSql,
        |  blocks AS (SELECT substr(name, 1, 1) AS blk,
        |                    CAST(count(*) AS BIGINT) AS nb
        |             FROM records GROUP BY 1),
        |  cand AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |                  CAST(sum(nb * (nb - 1) // 2) AS BIGINT)
        |                    AS cand_pairs
        |           FROM blocks),
        |  tot AS (SELECT CAST(count(*) AS BIGINT) AS n_records
        |          FROM records),
        |  tri AS (
        |    SELECT b.rid, substr(b.name, 1, 1) AS k0,
        |           substr(v1.name, 1, 1) AS k1, substr(v2.name, 1, 1) AS k2
        |    FROM (SELECT * FROM records
        |          WHERE rid < (SELECT off FROM roff)) b
        |    JOIN (SELECT rid - (SELECT off FROM roff) AS rid, name
        |          FROM records WHERE rid >= (SELECT off FROM roff)
        |            AND rid < 2 * (SELECT off FROM roff)) v1 USING (rid)
        |    JOIN (SELECT rid - 2 * (SELECT off FROM roff) AS rid, name
        |          FROM records
        |          WHERE rid >= 2 * (SELECT off FROM roff)) v2 USING (rid)),
        |  truth AS (
        |    SELECT CAST(count(*) * 3 AS BIGINT) AS n_true,
        |           CAST(sum((CASE WHEN k0 = k1 THEN 1 ELSE 0 END)
        |             + (CASE WHEN k0 = k2 THEN 1 ELSE 0 END)
        |             + (CASE WHEN k1 = k2 THEN 1 ELSE 0 END)) AS BIGINT)
        |             AS n_true_coblocked
        |    FROM tri)
        |SELECT n_records, n_blocks, cand_pairs,
        |       CAST(n_records * (n_records - 1) // 2 AS BIGINT)
        |         AS total_pairs,
        |       n_true, n_true_coblocked,
        |       CAST(floor(1e6 * (n_records * (n_records - 1) // 2
        |         - cand_pairs) / (n_records * (n_records - 1) // 2)
        |         + 0.5) AS BIGINT) AS rr_ppm,
        |       CAST(floor(1e6 * n_true_coblocked / n_true + 0.5)
        |         AS BIGINT) AS pc_ppm
        |FROM cand, tot, truth""".stripMargin,

    "er_survivorship" ->
      s"""WITH RECURSIVE $pairsSql,
        |  bi AS (SELECT rid_a AS s, rid_b AS d FROM pairs
        |         UNION ALL SELECT rid_b, rid_a FROM pairs),
        |  reach(node, lbl) AS (
        |    SELECT rid, rid FROM records
        |    UNION
        |    SELECT bi.d, r.lbl FROM reach r JOIN bi ON bi.s = r.node),
        |  cl AS (SELECT node AS rid, min(lbl) AS cluster
        |         FROM reach GROUP BY node),
        |  folded AS (
        |    SELECT cluster, count(*) AS n_members,
        |           string_agg(CAST(rid AS VARCHAR), ',' ORDER BY rid)
        |             AS members
        |    FROM cl GROUP BY cluster)
        |SELECT f.cluster, r.name AS canonical, f.n_members, f.members
        |FROM folded f JOIN records r ON r.rid = f.cluster""".stripMargin)
}
