package graft.llm
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.{spread, t}

/** Semantic curation operators — the embedding-space and
  * distribution-matching half of a training-data pipeline, built from
  * published method shapes:
  *
  *   - k-means cell assignment (deterministic seed centroids) — the
  *     clustering primitive SemDeDup/SemDeDup-style pruning stands on;
  *   - SemDeDup within-cluster semantic dedup (Abbas et al. 2023,
  *     arXiv:2303.09540): prune embeddings whose within-cluster cosine
  *     exceeds a threshold, keeping one representative;
  *   - CCNet-style perplexity bucketing (Wenzek et al. 2020,
  *     arXiv:1911.00359): per-language head/middle/tail terciles by LM
  *     score;
  *   - DSIR hashed-n-gram importance weights (Xie et al. 2023,
  *     arXiv:2302.03169): per-document log importance of a target
  *     distribution over a raw corpus, on hashed token features.
  *
  * All four are relational one-or-two-shuffle shapes with every
  * data-sized join bucketed or broadcast; each has a full DuckDB value
  * twin (portable md5-prefix hashes, double arithmetic mirrored
  * expression-for-expression).
  */
object Semantic {
  type Q = (SparkSession, String) => DataFrame

  /** Number of k-means cells. Fixed, deterministic init: the vectors
    * with vec_id < K are the centroids (the "first k points" seeding
    * every engine can reproduce). At corpus scale SemDeDup uses
    * k ≈ n/100 so per-cell pair counts stay bounded — K is a knob, the
    * plan shape (broadcast centroids, cell-bucketed self-join) is the
    * scale contract. */
  private val K = 16

  /** SemDeDup cosine threshold — same value as the exact embedding
    * near-dup anchor (`llm_embedding_neardup_exact`, Dedup.scala), so
    * the two queries agree on what "semantic duplicate" means. */
  private val Tau = 0.30

  /** Portable 16-bit salted hash (md5 hex prefix) — the same
    * construction FeatureEng.h16 / llm_split_assign use; duplicated
    * here because it is 3 lines and the FeatureEng copy is private. */
  private def h16(salt: String, c: Column): Column =
    conv(substring(md5(concat(lit(salt), c)), 1, 4), 16, 10).cast("bigint")

  /** Nearest-centroid assignment: (vec_id, cell, sim) with cell = the
    * argmax-cosine centroid. The K centroid rows are broadcast; the
    * shuffle after the crossJoin carries only (vec_id, cell, sim) — the
    * 64-float embedding is projected away BEFORE the exchange, so the
    * network cost is 20 bytes/candidate regardless of dimension.
    * Argmax via ONE hash aggregate (max of a (sim6, -cell) struct —
    * highest similarity, ties to the lowest cell id), not a
    * partition-wide row_number sort. sim is rounded to 6 decimals
    * before the comparison on BOTH engines so a cross-engine 1-ulp
    * summation difference cannot flip the winner except exactly at a
    * rounding boundary. */
  private val assignCache = new graft.core.SessionCache[DataFrame]

  // cached per (session, corpus): llm_kmeans_assign/step and llm_semdedup
  // all consume the seed assignment of the same embedding frame. Keyed by
  // the corpus path, NOT a plan hash — a 32-bit semanticHash collision
  // between two distinct embedding plans would silently hand the wrong
  // cached cell assignment to a caller (ADVICE r8).
  private def assignCells(d: String, emb: DataFrame): DataFrame =
    assignCache.getOrElseUpdate(emb.sparkSession, d,
      assignTo(emb, emb.filter(col("vec_id") < K)
        .select(col("vec_id").as("cell"), col("embedding").as("cvec")))
        .ckpt(eager = false))

  /** Same assignment against an arbitrary (cell, cvec) centroid table
    * (the Lloyd update feeds recomputed means back through here). */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("sim", expr("cosine_similarity(embedding, cvec)"))
      .select(col("vec_id"), col("cell"), col("sim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(round(col("sim"), 6).as("s6"),
        (-col("cell")).as("nc"), col("sim").as("sim"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"), col("m.sim").as("sim"))

  /** `rounds` full Lloyd iterations from the deterministic seed
    * centroids. Update step: per-(cell, dim) mean via posexplode — the
    * shuffle carries (cell, pos, x) triples and the rebuilt centroid
    * table is ≤ K rows, localCheckpointed so each round's plan doesn't
    * re-derive the whole history. A cell that loses every member
    * simply drops out (standard Lloyd behavior; K can only shrink).
    * Assignment uses cosine; the raw-mean update is the conventional
    * approximation of the spherical-k-means M-step (cosine is
    * scale-invariant, so not normalizing the mean changes nothing in
    * the next assign). */
  /** [[kmeansFit]] from the default seed, with round 1's assignment
    * served from [[assignCells]] — llm_kmeans_assign / llm_kmeans_step /
    * llm_semdedup already share exactly that frame (same seed centroids,
    * same argmax), so the iterate query pays rounds 2..n only instead of
    * re-running the full corpus×K cross-kernel for round 1 (r14,
    * VERDICT r13 #1: 2.46 s board read, of which ~0.8 s was the cached
    * round). */
  private[llm] def kmeansRounds(d: String, emb: DataFrame,
                                rounds: Int): DataFrame =
    kmeansFit(emb, K, rounds, seeded = Some(assignCells(d, emb)))._1

  /** The full Lloyd fit: ([[kmeansRounds]]' assignment, the final centroid
    * table (cell, cvec)) — the centroid half is what the portable IVF
    * index build (SimSearch.ivfFitPortable, r10) consumes. */
  private[llm] def kmeansFit(emb: DataFrame, k: Int, rounds: Int,
      seeded: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    // `seeded` must be EXACTLY assignTo(emb, cents) for the default seed
    // (the assignCells contract) — callers with a different k or seed
    // pass None and pay round 1
    var assigned = seeded.getOrElse(assignTo(emb, cents))
    for (_ <- 2 to rounds) {
      // integer-exact M-step (the ml_power_iteration discipline): each
      // member coordinate lands on a 1e-6 grid via floor(x·1e6 + 0.5)
      // (floor is bit-deterministic on both engines, unlike round), the
      // grid values sum EXACTLY in decimal(38,0) ≡ HUGEINT regardless
      // of summation order, and the mean is ONE double division of
      // identical operands — so both engines iterate the identical
      // centroid table and the whole trajectory is oracle-replayable.
      val means = assigned.join(emb, Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("x") * 1e6 + 0.5).cast("decimal(38,0)")).as("sx"),
          count(lit(1)).as("cn"))
        .select(col("cell"), col("pos"),
          (col("sx").cast("double") / (col("cn").cast("double") * 1e6))
            .as("mx"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          c => c.getField("mx").cast("float")).as("cvec"))
      cents = means.ckpt()
      assigned = assignTo(emb, cents)
    }
    (assigned, cents)
  }

  val defs: Map[String, Q] = Map(

    // per-vector nearest-centroid assignment — the Lloyd "assign" half
    // of k-means as a standalone, oracle-checked operator.
    "llm_kmeans_assign" -> ((s, d) => {
      assignCells(d, spread(t(s, d, "embeddings")))
        .select(col("vec_id"), col("cell"), round(col("sim"), 4).as("cos_sim"))
    }),

    // the matching "update" half, reduced to auditable per-cell facts:
    // member count and mean member-to-centroid cosine (the inertia
    // proxy you watch across Lloyd iterations). The mean averages
    // 6-decimal-rounded terms so partial-aggregation order cannot move
    // the 4-decimal output.
    "llm_kmeans_step" -> ((s, d) => {
      assignCells(d, spread(t(s, d, "embeddings")))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          round(avg(round(col("sim"), 6)), 4).as("avg_cos"))
    }),

    // SemDeDup: within each k-means cell, a vector is a semantic
    // duplicate if some LOWER-id vector in the SAME cell has cosine
    // ≥ Tau with it; survivors are the vectors with no such dominator.
    // This is the published trade: candidate pairs exist only inside a
    // cell (never a corpus-wide all-pairs), and cross-cell near-dups
    // are the accepted recall loss (SemDeDup §3 — at scale you raise K
    // with n, holding per-cell membership roughly constant). The pair
    // join is cell-bucketed: shuffle keys are (cell), per-cell work is
    // |cell|² cosines inside one task's hash join — with K ∝ n/100
    // that is O(n·100) total, linear in the corpus.
    "llm_semdedup" -> ((s, d) => {
      val emb = spread(t(s, d, "embeddings"))
      val a = assignCells(d, emb)
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("embedding"))
      val dominated = a.select(col("vec_id").as("id1"), col("cell"),
          col("embedding").as("v1"))
        .join(a.select(col("vec_id").as("id2"), col("cell"),
          col("embedding").as("v2")), Seq("cell"))
        .filter(col("id1") < col("id2"))
        .filter(expr("cosine_similarity(v1, v2)") >= Tau)
        .groupBy(col("id2").as("vec_id"))
        .agg(min(col("id1")).as("dup_of"))
      a.select(col("vec_id"), col("cell"))
        .join(dominated, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("dup_of"),
          col("dup_of").isNull.as("kept"))
    }),

    // CCNet perplexity buckets: per language, rank documents by their
    // bigram LM score (reusing the llm_lm_score operator verbatim as
    // the scoring stage) and cut equal-size head/middle/tail terciles.
    // Scores are rounded to 6 decimals BEFORE ranking on both engines —
    // rounding may create ties, but the doc_id tiebreak then decides
    // identically everywhere; unrounded doubles could order differently
    // across engines at 1-ulp gaps.
    //
    // Scale design: a naive ntile(3) OVER (PARTITION BY lang ...) sorts
    // a WHOLE LANGUAGE in one task — the canonical skew scale-killer
    // (the DuckDB twin keeps that plain form as the semantic spec). The
    // engine instead replays ntile's exact integer arithmetic over the
    // (lang, rounded-score) GRID, the same domain-bounding trick as
    // agg_spearman: cell counts + a per-language cumulative over CELLS
    // (window input = |distinct scores|, not |docs|), a row_number
    // bounded by one CELL for the in-cell tiebreak, then bucket =
    // ntile's first-(n mod k)-tiles-take-one-extra formula in pure
    // integer arithmetic — bit-identical to the window ntile, with no
    // task ever holding more than one score-cell of one language.
    "llm_ccnet_buckets" -> ((s, d) => {
      val scored = TextOps.defs("llm_lm_score")(s, d)
        .select(col("doc_id"), round(col("lm_score"), 6).as("lm6"))
      val j = t(s, d, "documents").select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"))
        .ckpt(eager = false) // cells leg + rank leg
      val cells = j.groupBy(col("lang"), col("lm6"))
        .agg(count(lit(1)).as("cn"))
      val wCum = Window.partitionBy(col("lang"))
        .orderBy(col("lm6").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = cells
        .withColumn("cb", sum(col("cn")).over(wCum) - col("cn"))
        .withColumn("n", sum(col("cn"))
          .over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("lm6"), col("cb"), col("n"))
      val wCell = Window.partitionBy(col("lang"), col("lm6"))
        .orderBy(col("doc_id"))
      j.withColumn("rc", row_number().over(wCell))
        .join(cum, Seq("lang", "lm6"))
        .withColumn("r", col("cb") + col("rc"))
        .withColumn("nt", expr(
          // ntile(k): q = n div k rows per tile, first n%k tiles get +1
          "CASE WHEN r <= (n div 3 + 1) * (n % 3)" +
          " THEN (r + n div 3) div (n div 3 + 1)" +
          " ELSE n % 3 + (r - (n div 3 + 1) * (n % 3) + n div 3 - 1)" +
          "      div (n div 3) END"))
        .select(col("doc_id"), col("lang"), col("lm6"),
          when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
    }),

    // ROUGE-1/ROUGE-2 F-scores over a bounded candidate pair set (the
    // doc_id < 10 grid here; in production the pairs come from the LSH
    // candidate generator, never all-pairs). Clipped n-gram overlap =
    // Σ_g min(c_a(g), c_b(g)) — per-doc gram counts join on the gram
    // (shuffle key is the gram, payload two ints), pair totals
    // broadcast back over the 45-row grid. The eval-metric sibling of
    // the Jaccard/containment dedup measures.
    // self-BLEU-2 over the same bounded candidate pool as
    // llm_rouge_pairs — the standard DIVERSITY readout for generated
    // corpora (high self-BLEU = the docs parrot each other). ORDERED
    // pairs (BLEU is asymmetric: clipped precision is measured on the
    // candidate): p_n = Σ min(c_cand, c_ref)/Σ c_cand from exact
    // integer n-gram counts, brevity penalty exp(1 − len_r/len_c) only
    // when the candidate is shorter, bleu2 = BP·√(p1·p2) — one exp and
    // one sqrt per pair on exact-rational operands, floor-ppm output.
    "llm_self_bleu2" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 10)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val bi = docs.select(col("doc_id"),
          explode(expr("transform(slice(toks, 1, size(toks) - 1)," +
            " (x, i) -> concat(x, ' ', toks[i + 1]))")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      def clipped(grams: DataFrame, out: String): DataFrame =
        grams.select(col("doc_id").as("id_cand"), col("g"),
            col("c").as("cc"))
          .join(grams.select(col("doc_id").as("id_ref"), col("g"),
            col("c").as("cr")), Seq("g"))
          .filter(col("id_cand") =!= col("id_ref"))
          .groupBy(col("id_cand"), col("id_ref"))
          .agg(sum(least(col("cc"), col("cr"))).as(out))
      def totals(grams: DataFrame, out: String): DataFrame =
        grams.groupBy(col("doc_id")).agg(sum(col("c")).as(out))
      val ids = docs.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("id_cand"))
        .crossJoin(ids.select(col("doc_id").as("id_ref")))
        .filter(col("id_cand") =!= col("id_ref"))
      pairs
        .join(clipped(uni, "o1"), Seq("id_cand", "id_ref"), "left")
        .join(clipped(bi, "o2"), Seq("id_cand", "id_ref"), "left")
        .join(totals(uni, "n1c").withColumnRenamed("doc_id", "id_cand"),
          Seq("id_cand"))
        .join(totals(uni, "n1r").withColumnRenamed("doc_id", "id_ref"),
          Seq("id_ref"))
        .join(totals(bi, "n2c").withColumnRenamed("doc_id", "id_cand"),
          Seq("id_cand"))
        .selectExpr("id_cand", "id_ref",
          "CAST(coalesce(o1, 0) AS BIGINT) AS o1",
          "CAST(coalesce(o2, 0) AS BIGINT) AS o2",
          "CASE WHEN coalesce(o1, 0) > 0 AND coalesce(o2, 0) > 0 THEN" +
            " CAST(floor(1e6 * (CASE WHEN n1c < n1r THEN" +
            " exp(1.0 - CAST(n1r AS DOUBLE) / CAST(n1c AS DOUBLE))" +
            " ELSE 1.0 END)" +
            " * sqrt((coalesce(o1, 0) / CAST(n1c AS DOUBLE))" +
            " * (coalesce(o2, 0) / CAST(n2c AS DOUBLE))) + 0.5)" +
            " AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bleu2_ppm")
    }),

    "llm_rouge_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 10)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val bi = docs.select(col("doc_id"),
          explode(expr("transform(slice(toks, 1, size(toks) - 1)," +
            " (x, i) -> concat(x, ' ', toks[i + 1]))")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      def overlap(grams: DataFrame, out: String): DataFrame =
        grams.select(col("doc_id").as("id_a"), col("g"), col("c").as("ca"))
          .join(grams.select(col("doc_id").as("id_b"), col("g"),
            col("c").as("cb")), Seq("g"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(sum(least(col("ca"), col("cb"))).as(out))
      def totals(grams: DataFrame, out: String): DataFrame =
        grams.groupBy(col("doc_id")).agg(sum(col("c")).as(out))
      val ids = docs.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      def f1(o: Column, na: Column, nb: Column): Column = {
        val p = o.cast("double") / nb
        val r = o.cast("double") / na
        when(o > 0, round(lit(2.0) * p * r / (p + r), 6)).otherwise(lit(0.0))
      }
      pairs
        .join(overlap(uni, "o1"), Seq("id_a", "id_b"), "left")
        .join(overlap(bi, "o2"), Seq("id_a", "id_b"), "left")
        .join(totals(uni, "n1a").withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
        .join(totals(uni, "n1b").withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .join(totals(bi, "n2a").withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
        .join(totals(bi, "n2b").withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          f1(coalesce(col("o1"), lit(0L)), col("n1a"), col("n1b")).as("rouge1_f"),
          f1(coalesce(col("o2"), lit(0L)), col("n2a"), col("n2b")).as("rouge2_f"))
    }),

    // Lloyd's k-means, 3 full assign/update rounds from the same
    // deterministic seed centroids as llm_kmeans_assign (which is this
    // operator's hash-green single-step anchor — the iterate itself is
    // rows-only, like the other fixed-point families). Each round is
    // one broadcast-assign (centroid table is K rows) plus one
    // (cell, dim) mean aggregate — the update shuffles (cell, pos, x)
    // triples, never whole vectors, and nothing data-sized ever reaches
    // the driver. SemanticSpec pins the contract: mean member-cosine
    // must not decrease across rounds.
    "llm_kmeans_iterate" -> ((s, d) => {
      kmeansRounds(d, spread(t(s, d, "embeddings")), rounds = 3)
        .select(col("vec_id"), col("cell"))
    }),

    // DSIR importance weights: features are salted-hashed unigrams in
    // 256 buckets; the target distribution is the English docs from
    // sources src0–src3 (the "trusted" slice standing in for Wikipedia
    // in the paper); a document's log importance is the sum over its
    // tokens of log p_target(f) − log p_raw(f), add-0.5 smoothed. The
    // whole thing is three hash aggregates plus a 256-row broadcast
    // joined back onto the token stream — per-token shuffle payload is
    // (doc_id, bucket), and the likelihood-ratio table is O(buckets)
    // regardless of corpus size.
    "llm_dsir_weights" -> ((s, d) => {
      val toks = spread(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), col("lang"), col("source"),
          (h16("dsir:", col("tok")) % 256).as("f"))
      val isTgt = col("lang") === "en" &&
        col("source").isin("src0", "src1", "src2", "src3")
      val perF = toks.groupBy(col("f"))
        .agg(count(lit(1)).as("c_raw"),
          sum(when(isTgt, 1L).otherwise(0L)).as("c_tgt"))
      val tot = perF.agg(sum(col("c_raw")).as("n_raw"),
        sum(col("c_tgt")).as("n_tgt"))
      // λ is ppb-quantized BEFORE the per-doc sum (the llm_js_divergence
      // discipline): the r12 sf1 sweep caught the raw double form —
      // join-order association over ~10² tokens/doc landed on opposite
      // sides of the 4-dp round once 50k docs sample the boundary.
      // Integer ppb sums cannot reorder. r14 closes the LAST libm
      // hazard (ADVICE r12/r13): λ is now derived from the integer
      // counts by the shared fixed-point log ([[graft.core.FixedLog]] —
      // ln(2c+1) − ln(2n+256) per distribution, all smoothing folded
      // into integers), so the λ table is bit-identical across engines
      // BY CONSTRUCTION — both run the same integer squaring chain, no
      // libm call anywhere in the path. Four kernel calls per feature
      // ride one 4·|buckets|-row stack (1024 rows).
      val dlt = graft.core.FixedLog.spark
      val vals = perF.crossJoin(broadcast(tot))
        .selectExpr("f", "stack(4, " +
          "CAST(1 AS BIGINT),  2 * c_tgt + 1, " +
          "CAST(-1 AS BIGINT), 2 * n_tgt + 256, " +
          "CAST(-1 AS BIGINT), 2 * c_raw + 1, " +
          "CAST(1 AS BIGINT),  2 * n_raw + 256) AS (sgn, n)")
      var lnChain = vals
        .selectExpr("f", "sgn",
          s"CAST(${graft.core.FixedLog.eExpr("n")} AS BIGINT) AS e", "n")
        .selectExpr("f", "sgn", "e",
          s"${graft.core.FixedLog.mInitExpr(dlt, "n")} AS m",
          "CAST(0 AS BIGINT) AS fr")
      for (_ <- 1 to graft.core.FixedLog.FracBits)
        lnChain = lnChain.selectExpr("f", "sgn", "e",
          s"${graft.core.FixedLog.mStepExpr(dlt)} AS m",
          s"${graft.core.FixedLog.frStepExpr(dlt)} AS fr")
      val lam = lnChain
        .selectExpr("f", "sgn",
          s"${graft.core.FixedLog.lnPpbExpr(dlt)} AS lnppb")
        .groupBy(col("f")).agg(sum(expr("sgn * lnppb")).as("lam_ppb"))
      toks.select(col("doc_id"), col("f"))
        .join(broadcast(lam), Seq("f"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(col("lam_ppb")).as("dsir_logw_ppb"))
    }),

    // Distributed PCA on the embedding space via power iteration: the
    // 64×64 covariance matrix is BUILT distributed (one pair-expanded
    // aggregate over the corpus — the only data-sized job) and lives as
    // a (i, j, c) DataFrame; each power-iteration step is then a
    // join + group-by between the matrix and the 64-row vector, with a
    // scalar-broadcast normalization. Covariance entries are rounded to
    // 8 decimals BEFORE iterating, so both engines iterate the identical
    // matrix and the 3-step trajectory cannot drift. Output: top
    // eigenvalue (Rayleigh quotient) and its share of total variance.
    "ml_power_iteration" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val xs = emb
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("i"), col("x").cast("double").as("x"))
      val n = emb.agg(count(lit(1)).cast("double").as("n"))
      val mu = xs.groupBy(col("i")).agg((sum(col("x"))).as("sx"))
        .crossJoin(broadcast(n))
        .select(col("i"), (col("sx") / col("n")).as("mu"))
      // outer products generated SCAN-SIDE: two chained posexplode over
      // the same embedding array emit the 64x64 (i, j, xi*xj) stream in
      // codegen with no shuffle — the former xs(a)⋈xs(b) vec_id self-join
      // shuffled the exploded frame twice to produce the same rows
      val cov = emb
        .select(posexplode(col("embedding")).as(Seq("i", "xi")),
          col("embedding"))
        .select(col("i"), col("xi").cast("double").as("xi"),
          posexplode(col("embedding")).as(Seq("j", "xj")))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("xi") * col("xj").cast("double")).as("sxy"))
        .crossJoin(broadcast(n))
        .join(broadcast(mu.select(col("i"), col("mu").as("mi"))), Seq("i"))
        .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mj"))),
          Seq("j"))
        .select(col("i"), col("j"),
          round(col("sxy") / col("n") - col("mi") * col("mj"), 8).as("c"))
      // DIMENSION-bounded driver iteration (the graph_ppr / graph_hits
      // pattern, core/Bounded fail-loud contract): the one data-sized job
      // is the covariance aggregate above; what's collected is the fixed
      // 64x64 = 4096-entry matrix — bounded by the embedding DIMENSION,
      // not the corpus, at any data scale. The former relational loop
      // spent ~1 s of pure job scheduling on 13 stages of 64-row state
      // (steady 1.7 s / board 2.47 s → steady min 0.8 s). Both engines
      // iterate the identical
      // 8-decimal-rounded matrix; the driver sums each row j-ascending, so
      // the 4/6-decimal outputs carry no summation-order exposure beyond
      // what the relational form already had.
      val dim = 64
      val m = Array.ofDim[Double](dim, dim)
      graft.core.Bounded.collect(cov, dim * dim + 1,
        s"ml_power_iteration covariance (dimension-bounded, ${dim}x$dim)")
        .foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      var v = Array.fill(dim)(0.125) // uniform unit start
      for (_ <- 1 to 3) {
        val w = Array.tabulate(dim)(i =>
          (0 until dim).map(j => m(i)(j) * v(j)).sum)
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(_ / nrm)
      }
      val cv = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val l1 = (0 until dim).map(i => v(i) * cv(i)).sum
      val tr = (0 until dim).map(i => m(i)(i)).sum
      import s.implicits._
      Seq((BigDecimal(l1).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(l1 / tr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(tr).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
        .toDF("lambda1", "evr", "trace")
    }),

    // Johnson-Lindenstrauss sign projection 64 → 8 dims. The sign matrix
    // is the quadratic-residue parity of m = 37·i + 101·j + 7 mod 97 —
    // pure integer arithmetic both engines reproduce exactly (no engine
    // hash involved). Long format (vec_id, j, p) over the first 100
    // vectors pins the values; at production scale the same projection
    // runs as a fused array kernel (the HyperplaneSigs Expression shape),
    // not an 8× row fan-out.
    "llm_random_projection" -> ((s, d) => {
      val xs = t(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      xs.select(col("vec_id"), col("i"), col("x"),
          explode(sequence(lit(0), lit(7))).as("j"))
        .withColumn("m", col("i") * 37 + col("j") * 101 + 7)
        .withColumn("sgn", lit(1) - lit(2) * (((col("m") * col("m")) % 97) % 2))
        .groupBy(col("vec_id"), col("j"))
        .agg((round(sum(col("x").cast("double") * col("sgn"))
          / sqrt(lit(8.0)), 6) + lit(0.0)).as("p"))
    })
  )

  /** One assign stage of the kmeans-iterate twin: centroid CTE `cn` →
    * assignment CTE `an`, mirroring [[assignTo]] term for term. */
  private def assignStage(cn: String, an: String): String = s"""
      sims_$an AS (
        SELECT v.vec_id, c.cell,
               sum(v.x * c.cx) / sqrt(sum(v.x * v.x) * sum(c.cx * c.cx)) AS sim
        FROM v JOIN $cn c ON v.i = c.i
        GROUP BY v.vec_id, c.cell
      ), $an AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(sim, 6) DESC, cell ASC) AS rn
          FROM sims_$an)
        WHERE rn = 1
      )"""

  /** One integer-exact M-step of the kmeans-iterate twin: assignment
    * CTE `an` → centroid CTE `cn`. floor(x·1e6 + 0.5) grid values sum
    * exactly (HUGEINT ≡ the Spark side's decimal(38,0)); the REAL cast
    * replays the Spark side's float centroid storage. */
  private def meanStage(an: String, cn: String): String = s"""
      $cn AS (
        SELECT a.cell, v.i,
               CAST(CAST(
                 CAST(sum(CAST(floor(v.x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1e6) AS REAL) AS DOUBLE) AS cx
        FROM $an a JOIN v ON v.vec_id = a.vec_id
        GROUP BY a.cell, v.i
      )"""

  /** The full 3-round Lloyd replay (the llm_kmeans_iterate twin body,
    * shared with the portable-IVF ANN twins, r10): unnested embeddings
    * `v(vec_id, x, i)`, seed centroids c1 = vec_id < K, then unrolled
    * assign/mean stages ending at centroid CTE `c3` and assignment `a3`. */
  private[llm] def lloydCtes: String = s"""v AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      ), c1 AS (
        SELECT vec_id AS cell, x AS cx, i FROM v WHERE vec_id < $K
      ), ${assignStage("c1", "a1")},
      ${meanStage("a1", "c2")},
      ${assignStage("c2", "a2")},
      ${meanStage("a2", "c3")},
      ${assignStage("c3", "a3")}"""

  /** Shared oracle CTE: per-component unnest of embeddings + the
    * nearest-centroid pick, mirroring [[assignCells]] term for term
    * (dot / sqrt(|x|²·|y|²), 6-decimal rounding before the argmax). */
  private val assignSql: String = s"""
      WITH v AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      ), c AS (
        SELECT vec_id AS cell, x AS cx, i FROM v WHERE vec_id < $K
      ), sims AS (
        SELECT v.vec_id, c.cell,
               sum(v.x * c.cx) / sqrt(sum(v.x * v.x) * sum(c.cx * c.cx)) AS sim
        FROM v JOIN c ON v.i = c.i
        GROUP BY v.vec_id, c.cell
      ), best AS (
        SELECT vec_id, cell, sim,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(sim, 6) DESC, cell ASC) AS rn
        FROM sims
      ), assigned AS (
        SELECT vec_id, cell, sim FROM best WHERE rn = 1
      )"""

  val sql: Map[String, String] = Map(

    "llm_kmeans_assign" -> s"""$assignSql
      SELECT vec_id, cell, round(sim, 4) AS cos_sim FROM assigned""",

    "llm_kmeans_step" -> s"""$assignSql
      SELECT cell, count(*) AS n_members,
             round(avg(round(sim, 6)), 4) AS avg_cos
      FROM assigned GROUP BY cell""",

    // 3 full Lloyd rounds unrolled (the pagerank-twin pattern): seed
    // centroids = vec_id < K, then assign → integer-exact mean → assign
    // → mean → assign. Every stage mirrors the Spark loop term for term.
    "llm_kmeans_iterate" -> s"""
      WITH $lloydCtes
      SELECT vec_id, cell FROM a3""",

    "llm_semdedup" -> s"""$assignSql, pv AS (
        SELECT a.vec_id, a.cell, v.x, v.i
        FROM assigned a JOIN v ON a.vec_id = v.vec_id
      ), pairs AS (
        SELECT x.vec_id AS id1, y.vec_id AS id2,
               sum(x.x * y.x) / sqrt(sum(x.x * x.x) * sum(y.x * y.x)) AS cos
        FROM pv x JOIN pv y
          ON x.i = y.i AND x.cell = y.cell AND x.vec_id < y.vec_id
        GROUP BY x.vec_id, y.vec_id
      ), dominated AS (
        SELECT id2 AS vec_id, min(id1) AS dup_of
        FROM pairs WHERE cos >= $Tau GROUP BY id2
      )
      SELECT a.vec_id, a.cell, r.dup_of, r.vec_id IS NULL AS kept
      FROM assigned a LEFT JOIN dominated r ON a.vec_id = r.vec_id""",

    "llm_ccnet_buckets" -> s"""
      WITH scored AS (${TextOps.sql("llm_lm_score")}),
      j AS (
        SELECT d.doc_id, d.lang, round(s.lm_score, 6) AS lm6
        FROM documents d JOIN scored s ON d.doc_id = s.doc_id
      ), b AS (
        SELECT doc_id, lang, lm6,
               ntile(3) OVER (PARTITION BY lang
                 ORDER BY lm6 DESC, doc_id) AS nt
        FROM j
      )
      SELECT doc_id, lang, lm6,
             CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
      FROM b""",

    "llm_self_bleu2" -> """
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 10
      ), unic AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest(toks) AS g FROM docs) GROUP BY doc_id, g
      ), bic AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS g
          FROM docs) GROUP BY doc_id, g
      ), o1 AS (
        SELECT a.doc_id AS id_cand, b.doc_id AS id_ref,
               sum(least(a.c, b.c)) AS o
        FROM unic a JOIN unic b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
      ), o2 AS (
        SELECT a.doc_id AS id_cand, b.doc_id AS id_ref,
               sum(least(a.c, b.c)) AS o
        FROM bic a JOIN bic b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
      ), t1 AS (SELECT doc_id, sum(c) AS n FROM unic GROUP BY doc_id),
      t2 AS (SELECT doc_id, sum(c) AS n FROM bic GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id_cand, b.doc_id AS id_ref
        FROM docs a JOIN docs b ON a.doc_id <> b.doc_id
      )
      SELECT p.id_cand, p.id_ref,
             CAST(coalesce(o1.o, 0) AS BIGINT) AS o1,
             CAST(coalesce(o2.o, 0) AS BIGINT) AS o2,
             CASE WHEN coalesce(o1.o, 0) > 0 AND coalesce(o2.o, 0) > 0
               THEN CAST(floor(1e6 * (CASE WHEN t1c.n < t1r.n THEN
                 exp(1.0 - CAST(t1r.n AS DOUBLE) / CAST(t1c.n AS DOUBLE))
                 ELSE 1.0 END)
                 * sqrt((coalesce(o1.o, 0) / CAST(t1c.n AS DOUBLE))
                 * (coalesce(o2.o, 0) / CAST(t2c.n AS DOUBLE))) + 0.5)
                 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bleu2_ppm
      FROM pairs p
      LEFT JOIN o1 ON o1.id_cand = p.id_cand AND o1.id_ref = p.id_ref
      LEFT JOIN o2 ON o2.id_cand = p.id_cand AND o2.id_ref = p.id_ref
      JOIN t1 t1c ON t1c.doc_id = p.id_cand
      JOIN t1 t1r ON t1r.doc_id = p.id_ref
      JOIN t2 t2c ON t2c.doc_id = p.id_cand""",

    "llm_rouge_pairs" -> """
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 10
      ), unic AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest(toks) AS g FROM docs) GROUP BY doc_id, g
      ), bic AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS g
          FROM docs) GROUP BY doc_id, g
      ), o1 AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(least(a.c, b.c)) AS o
        FROM unic a JOIN unic b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), o2 AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(least(a.c, b.c)) AS o
        FROM bic a JOIN bic b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), t1 AS (SELECT doc_id, sum(c) AS n FROM unic GROUP BY doc_id),
      t2 AS (SELECT doc_id, sum(c) AS n FROM bic GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      )
      SELECT p.id_a, p.id_b,
        CASE WHEN coalesce(o1.o, 0) > 0 THEN
          round(2.0 * (coalesce(o1.o, 0) / CAST(t1b.n AS DOUBLE))
                    * (coalesce(o1.o, 0) / CAST(t1a.n AS DOUBLE))
                / (coalesce(o1.o, 0) / CAST(t1b.n AS DOUBLE)
                 + coalesce(o1.o, 0) / CAST(t1a.n AS DOUBLE)), 6)
          ELSE 0.0 END AS rouge1_f,
        CASE WHEN coalesce(o2.o, 0) > 0 THEN
          round(2.0 * (coalesce(o2.o, 0) / CAST(t2b.n AS DOUBLE))
                    * (coalesce(o2.o, 0) / CAST(t2a.n AS DOUBLE))
                / (coalesce(o2.o, 0) / CAST(t2b.n AS DOUBLE)
                 + coalesce(o2.o, 0) / CAST(t2a.n AS DOUBLE)), 6)
          ELSE 0.0 END AS rouge2_f
      FROM pairs p
      LEFT JOIN o1 ON o1.id_a = p.id_a AND o1.id_b = p.id_b
      LEFT JOIN o2 ON o2.id_a = p.id_a AND o2.id_b = p.id_b
      JOIN t1 t1a ON t1a.doc_id = p.id_a
      JOIN t1 t1b ON t1b.doc_id = p.id_b
      JOIN t2 t2a ON t2a.doc_id = p.id_a
      JOIN t2 t2b ON t2b.doc_id = p.id_b""",

    // λ via the shared fixed-point log (graft.core.FixedLog): the CTE
    // chain below is GENERATED from the same per-step expression strings
    // the Spark side executes, differing only in the dialect's integer
    // division spelling — bit-identical λ by construction, no ln().
    "llm_dsir_weights" -> s"""
      WITH toks AS (
        SELECT doc_id, lang, source,
               CAST(('0x' || substr(md5('dsir:' || unnest(string_split(text, ' '))), 1, 4))
                 AS BIGINT) % 256 AS f
        FROM documents
      ), per_f AS (
        SELECT f, count(*) AS c_raw,
               sum(CASE WHEN lang = 'en'
                        AND source IN ('src0', 'src1', 'src2', 'src3')
                   THEN 1 ELSE 0 END) AS c_tgt
        FROM toks GROUP BY f
      ), tot AS (
        SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM per_f
      ), vals AS (
        SELECT f, CAST(1 AS BIGINT) AS sgn,
               CAST(2 * c_tgt + 1 AS BIGINT) AS n
        FROM per_f CROSS JOIN tot
        UNION ALL
        SELECT f, CAST(-1 AS BIGINT), CAST(2 * n_tgt + 256 AS BIGINT)
        FROM per_f CROSS JOIN tot
        UNION ALL
        SELECT f, CAST(-1 AS BIGINT), CAST(2 * c_raw + 1 AS BIGINT)
        FROM per_f CROSS JOIN tot
        UNION ALL
        SELECT f, CAST(1 AS BIGINT), CAST(2 * n_raw + 256 AS BIGINT)
        FROM per_f CROSS JOIN tot
      ), ${graft.core.FixedLog.ctes(graft.core.FixedLog.duckdb, "vals",
             Seq("f", "sgn"))}, lam AS (
        SELECT f, CAST(sum(sgn * lnppb) AS BIGINT) AS lam_ppb
        FROM fxlout GROUP BY f
      )
      SELECT t.doc_id, count(*) AS n_toks,
             CAST(sum(l.lam_ppb) AS BIGINT) AS dsir_logw_ppb
      FROM toks t JOIN lam l ON t.f = l.f
      GROUP BY t.doc_id""",

    "ml_power_iteration" -> """
      WITH xs AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
      ), nn AS (
        SELECT CAST(count(*) / 64 AS DOUBLE) AS n FROM xs
      ), mu AS (
        SELECT i, sum(x) / n AS mu FROM xs, nn GROUP BY i, n
      ), sxy AS (
        SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
        FROM xs a JOIN xs b ON a.vec_id = b.vec_id
        GROUP BY 1, 2
      ), cov AS (
        SELECT s.i, s.j, round(s.sxy / nn.n - ma.mu * mb.mu, 8) AS c
        FROM sxy s
        CROSS JOIN nn
        JOIN mu ma ON ma.i = s.i
        JOIN mu mb ON mb.i = s.j
      ), v0 AS (
        SELECT i, 0.125 AS v FROM mu
      ), w1 AS (
        SELECT c.i, sum(c.c * v.v) AS w FROM cov c
        JOIN v0 v ON v.i = c.j GROUP BY c.i
      ), v1 AS (
        SELECT i, w / nrm AS v
        FROM w1, (SELECT sqrt(sum(w*w)) AS nrm FROM w1)
      ), w2 AS (
        SELECT c.i, sum(c.c * v.v) AS w FROM cov c
        JOIN v1 v ON v.i = c.j GROUP BY c.i
      ), v2 AS (
        SELECT i, w / nrm AS v
        FROM w2, (SELECT sqrt(sum(w*w)) AS nrm FROM w2)
      ), w3 AS (
        SELECT c.i, sum(c.c * v.v) AS w FROM cov c
        JOIN v2 v ON v.i = c.j GROUP BY c.i
      ), v3 AS (
        SELECT i, w / nrm AS v
        FROM w3, (SELECT sqrt(sum(w*w)) AS nrm FROM w3)
      ), cv AS (
        SELECT c.i, sum(c.c * v.v) AS cv FROM cov c
        JOIN v3 v ON v.i = c.j GROUP BY c.i
      ), lam AS (
        SELECT sum(v.v * cv.cv) AS l1 FROM v3 v JOIN cv ON cv.i = v.i
      ), tr AS (
        SELECT sum(c) AS tr FROM cov WHERE i = j
      )
      SELECT round(l1, 4) AS lambda1, round(l1 / tr, 6) AS evr,
             round(tr, 4) AS trace
      FROM lam, tr""",

    "llm_random_projection" -> """
      WITH xs AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings WHERE vec_id < 100
      ), js AS (
        SELECT unnest(generate_series(0, 7)) AS j
      ), terms AS (
        SELECT vec_id, j, x, (i*37 + j*101 + 7) AS m FROM xs, js
      )
      SELECT vec_id, j,
             round(sum(x * (1 - 2*(((m*m) % 97) % 2))) / sqrt(8.0), 6) + 0.0
               AS p
      FROM terms GROUP BY vec_id, j"""
  )
}
