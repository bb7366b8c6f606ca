package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextOps}

/** Validates the approximate dedup family against the exact-Jaccard
  * ground truth (the oracle-checked `llm_ngram_jaccard`). */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("MinHash recalls most true near-dup pairs, with sane precision") {
    val exact = TextOps.defs("llm_ngram_jaccard")(spark, sf)
      .select(col("doc1"), col("doc2"), col("jaccard"))
    val truth = exact.filter(col("jaccard") >= 0.3)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(spark, sf, maxDist = 0.8)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-dup pairs")
    val recalled = truth.intersect(mh).size.toDouble / truth.size
    assert(recalled >= 0.8, s"MinHash recall too low: $recalled (|truth|=${truth.size}, |mh|=${mh.size})")
  }

  test("native banded MinHash: near-exact recall, no false positives") {
    val exact = TextOps.defs("llm_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.3)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val native = Dedup.minhashPairsNative(spark, sf, threshold = 0.3)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates are exact-verified, so no false positives are possible;
    // misses only come from r=2/b=32 banding (P_miss ≤ (1-0.3²)^32 ≈ 4.3%
    // at exactly J=0.3, sharply less above it)
    assert(native.subsetOf(exact), s"false positives: ${native -- exact}")
    val recall = exact.intersect(native).size.toDouble / exact.size
    assert(recall >= 0.95, s"native MinHash recall too low: $recall")
  }

  test("SimHash hamming distance correlates with similarity") {
    val sim = TextOps.defs("llm_simhash")(spark, sf)
    // near-dup pairs (exact jaccard >= 0.3) should have smaller hamming
    // distance on average than random pairs
    val exact = TextOps.defs("llm_ngram_jaccard")(spark, sf)
    val withSig = exact
      .join(sim.select(col("doc_id").as("doc1"), col("simhash").as("s1")), Seq("doc1"))
      .join(sim.select(col("doc_id").as("doc2"), col("simhash").as("s2")), Seq("doc2"))
      .withColumn("hamming", expr("bit_count(s1 ^ s2)"))
    val nearAvg = withSig.filter(col("jaccard") >= 0.3)
      .agg(avg("hamming")).collect()(0).getDouble(0)
    val sigs = sim.orderBy("doc_id").limit(60).collect().map(_.getLong(1))
    val randAvg = sigs.sliding(2).map { case Array(a, b) =>
      java.lang.Long.bitCount(a ^ b).toDouble }.toSeq
    val randMean = randAvg.sum / randAvg.size
    assert(nearAvg < randMean,
      s"near-dup hamming ($nearAvg) should beat random-pair hamming ($randMean)")
  }

  test("r=2 banding admits strictly fewer candidates than r=1 on boilerplate") {
    import spark.implicits._
    // 40 docs sharing a 30-shingle boilerplate block plus 170 unique
    // shingles each → pairwise J = 30/370 ≈ 0.081: classic r=1 blowup
    // territory (p ≈ 1-(1-J)^64 ≈ 1.0 per pair) that r=2 must prune
    val rows = for {
      doc <- 0 until 40
      sh <- 0 until 200
    } yield (doc.toLong, if (sh < 30) s"boiler_$sh" else s"doc${doc}_u$sh")
    val sigs = rows.toDF("doc_id", "shingle")
      .withColumn("h", xxhash64(col("shingle")))
      .groupBy(col("doc_id")).agg(expr("minhash64(h)").as("sig"))
      .cache()
    val c1 = Dedup.bandedCandidates(sigs, r = 1, b = 64).count()
    val c2 = Dedup.bandedCandidates(sigs, r = 2, b = 32).count()
    sigs.unpersist()
    assert(c2 < c1, s"r=2 candidates ($c2) should be fewer than r=1 ($c1)")
    // r=1 essentially admits every boilerplate pair; r=2 must prune most
    assert(c2 <= c1 / 2, s"r=2 should prune at least half of r=1's $c1, got $c2")
  }

  test("connected components converge past any fixed iteration cap") {
    import spark.implicits._
    // a 12-node path graph has diameter 11: min-label propagation moves
    // the global min one hop per round, so the old fixed-5-round loop
    // would leave nodes 6..11 mislabeled (two survivors). The
    // convergence-checked loop must label every node 0.
    val verts = (0L to 11L).toDF("doc_id")
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val labels = Dedup.connectedComponents(verts, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 12)
    assert(labels.values.forall(_ == 0L),
      s"all nodes should collapse to label 0, got $labels")
  }

  test("large-star/small-star CC ≡ min-label on chain, forest, and clusters") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shapes that stress different corners: a path (max diameter), a
    // forest of stars + isolated vertices, and a dense-ish random graph
    val rnd = new scala.util.Random(11)
    val graphs = Seq(
      ((0L to 11L), (0L until 11L).map(i => (i, i + 1))),
      ((0L to 30L), Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))),
      ((0L to 63L), Seq.fill(80)((rnd.nextInt(64).toLong, rnd.nextInt(64).toLong))
        .filter { case (a, b) => a != b })
    )
    for (((vr, pr), gi) <- graphs.zipWithIndex) {
      val verts = vr.toDF("doc_id")
      val pairs = pr.toDF("doc1", "doc2")
      val oracle = asMap(Dedup.connectedComponents(verts, pairs))
      val fast = asMap(Dedup.connectedComponentsFast(verts, pairs))
      assert(fast == oracle, s"graph $gi: fast CC diverged from min-label")
    }
  }

  test("CC driver union-find path ≡ the distributed star rounds (r15)") {
    import spark.implicits._
    // the driver short-circuit must be label-identical to the distributed
    // form it replaces below the probe bound; graft.cc.driverCap=0 forces
    // the distributed fallback through the SAME public entry point
    val rnd = new scala.util.Random(23)
    val verts = (0L to 199L).toDF("doc_id")
    val pairs = Seq.fill(300)(
        (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }.toDF("doc1", "doc2")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = asMap(Dedup.connectedComponentsFast(verts, pairs))
    val viaStars =
      try {
        System.setProperty("graft.cc.driverCap", "0")
        asMap(Dedup.connectedComponentsFast(verts, pairs))
      } finally System.clearProperty("graft.cc.driverCap")
    assert(viaDriver == viaStars,
      "driver union-find labels diverge from the distributed star rounds")
    // sanity: labels are component minima (every label ≤ its doc_id)
    assert(viaDriver.forall { case (d, l) => l <= d })
  }

  test("large-star/small-star converges in O(log d) rounds on a long chain") {
    import spark.implicits._
    // a 512-link chain has diameter 512: min-label would need ~512 shuffle
    // rounds (its maxIter backstop of 64 would silently split it).
    // Large-star/small-star must (a) still produce one component labeled 0
    // and (b) do it in logarithmically few rounds.
    val n = 512L
    val verts = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (labels, rounds) = Dedup.ccFastLabels(verts, pairs)
    val bad = labels.filter(col("label") =!= 0L).count()
    assert(bad == 0L, s"$bad nodes not labeled 0 on the chain")
    assert(rounds <= 15,
      s"expected O(log 512) ≈ ≤15 alternating rounds, took $rounds")
  }

  test("fast CC ≡ min-label on the real exact-Jaccard pair graph") {
    val pairs = TextOps.defs("llm_ngram_jaccard")(spark, sf)
      .select(col("doc1"), col("doc2"))
    val docs = graft.core.Tables.t(spark, sf, "documents").select(col("doc_id"))
    val oracle = Dedup.connectedComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.connectedComponentsFast(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == oracle,
      "production CC diverged from min-label on the sf pair graph")
  }

  test("embedding near-dup finds planted perturbed copies, no false positives") {
    import spark.implicits._
    // 60 seeded random 64-dim unit-ish vectors; for the first 12, plant a
    // lightly perturbed copy (id + 1000) with cosine ≈ 0.99 — near-dups an
    // LSH-bucketed pass must recover without comparing all pairs
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val dups = base.take(12).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(spark, emb)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 12).map(i => (i.toLong, i + 1000L)).toSet
    // exact cosine re-check ⇒ anything found must really be ≥ 0.95
    def cos(a: Array[Float], b: Array[Float]) = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val all = (base ++ dups).toMap
    got.foreach { case (i, j) =>
      assert(cos(all(i), all(j)) >= 0.95, s"false positive pair ($i,$j)") }
    val recall = got.intersect(planted).size.toDouble / planted.size
    assert(recall >= 0.9, s"planted near-dup recall too low: $recall ($got)")
  }

  test("banked simhash near-dup equals brute-force hamming ≤ 3 exactly") {
    import spark.implicits._
    // 40 seeded signatures + 10 planted variants with 1-3 bit flips; with
    // 4 banks > 3 flips the pigeonhole guarantees exact recall, and the
    // bit_count verify removes bucket false positives → set equality
    val rnd = new scala.util.Random(11)
    val base = (0 until 40).map(i => (i.toLong, rnd.nextLong()))
    val flipped = base.take(10).map { case (i, s) =>
      val flips = 1 + rnd.nextInt(3)
      val s2 = (0 until flips).foldLeft(s)((acc, _) =>
        acc ^ (1L << rnd.nextInt(64)))
      (i + 100L, s2)
    }
    val all = base ++ flipped
    val sim = all.toDF("doc_id", "simhash")
    val got = Dedup.simhashNearDup(sim)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (i, s1) <- all; (j, s2) <- all if i < j
      if java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (i, j)).toSet
    assert(got == want, s"banded ${got.size} != brute ${want.size}")
    assert(want.size >= 10, "fixture should contain the planted pairs")
  }

  test("simhash banking: block-PAIR keys (blocksPerKey = 2) are recall-exact too") {
    import spark.implicits._
    // same planted-fixture shape as the single-block test; 8 banks of
    // 8 bits, keys = C(8,2) = 28 block pairs — pigeonhole: <= 3 dirty
    // blocks leaves >= 5 clean, so some clean pair always agrees
    val rnd = new scala.util.Random(23)
    val base = (0 until 40).map(i => (i.toLong, rnd.nextLong()))
    val flipped = base.take(10).map { case (i, s) =>
      val flips = 1 + rnd.nextInt(3)
      val s2 = (0 until flips).foldLeft(s)((acc, _) =>
        acc ^ (1L << rnd.nextInt(64)))
      (i + 100L, s2)
    }
    val all = base ++ flipped
    val sim = all.toDF("doc_id", "simhash")
    val got = Dedup.simhashNearDup(sim, banks = 8, blocksPerKey = 2)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (i, s1) <- all; (j, s2) <- all if i < j
      if java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (i, j)).toSet
    assert(got == want, s"pair-banked ${got.size} != brute ${want.size}")
    // first-matching-table dedup means no distinct(): assert no pair is
    // emitted twice
    val rows = Dedup.simhashNearDup(sim, banks = 8, blocksPerKey = 2)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "each pair exactly once")
  }

  test("dedup_apply keeps exactly one representative per connected component") {
    val kept = Dedup.defs("llm_dedup_apply")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val total = graft.core.Tables.t(spark, sf, "documents").count()
    val pairs = Dedup.minhashPairsNative(spark, sf, 0.3)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find ground truth over the candidate graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inGraph = parent.keySet.toSet
    val componentMins = inGraph.groupBy(find).map(_._2.min).toSet
    val expectedKept = total - inGraph.size + componentMins.size
    assert(kept.size == expectedKept,
      s"${kept.size} survivors vs expected $expectedKept")
    // every component's minimum survives; no other member does
    assert(componentMins.subsetOf(kept))
    assert((inGraph -- componentMins).intersect(kept).isEmpty)
  }

  test("dedup_exact labels: survivors are fixpoints, members map to component min") {
    val labels = Dedup.defs("llm_dedup_exact")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // is_survivor ⇔ doc_id == survivor_id; survivor ids are themselves docs
    labels.foreach { case (doc, surv, isSurv) =>
      assert(isSurv == (doc == surv))
      assert(surv <= doc, s"label $surv above member $doc — not a min-label")
    }
    val docIds = labels.map(_._1).toSet
    assert(labels.map(_._2).toSet.subsetOf(docIds))
    // replay with driver-side union-find over the exact-Jaccard pair graph
    val pairs = TextOps.defs("llm_ngram_jaccard")(spark, sf)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byDoc = labels.map(l => l._1 -> l._2).toMap
    val groundTruth = parent.keySet.map(x => x -> {
      // component min = min over members sharing the root
      val root = find(x)
      parent.keySet.filter(find(_) == root).min
    }).toMap
    groundTruth.foreach { case (doc, expectedMin) =>
      assert(byDoc(doc) == expectedMin,
        s"doc $doc labeled ${byDoc(doc)}, union-find says $expectedMin")
    }
  }

  test("embedding neardup_exact: bucket-mates only, cosine verified, no misses in-bucket") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def octant(v: Array[Float]): Int =
      (0 until 8).map(i => if (v(i) >= 0f) 1 << i else 0).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val got = Dedup.defs("llm_embedding_neardup_exact")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every emitted pair shares the sign octant and its cosine is exact
    got.foreach { case ((a, b), c) =>
      assert(octant(emb(a)) == octant(emb(b)))
      assert(math.abs(c - cos(emb(a), emb(b))) < 1e-9)
    }
    // completeness within buckets: brute-force the same semantics
    val expected = emb.toSeq.combinations(2).collect {
      case Seq((a, va), (b, vb))
        if octant(va) == octant(vb) && cos(va, vb) >= 0.30 =>
          if (a < b) (a, b) else (b, a)
    }.toSet
    assert(got.keySet == expected,
      s"got ${got.size} pairs, brute-force in-bucket says ${expected.size}")
  }
}
