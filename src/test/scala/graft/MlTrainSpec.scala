package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Contracts for the r7 ML-training + entity-resolution additions
  * (MlTrain.scala, EntityRes.scala, JaroWinkler.scala). Value-level
  * engine parity lives in the DuckDB oracle; these pin the ALGORITHMIC
  * claims against independent local recomputation on sf0.001. */
class MlTrainSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  // ---- Jaro-Winkler kernel ----

  private def jw(a: String, b: String): Double =
    graft.functions.JaroWinkler.jw(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro_winkler matches the published worked examples") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(jw("CRATE", "TRACE") == 0.7333333333333334) // no boost at prefix 0
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "") == 0.0)    // DuckDB convention: empty -> 0
    assert(jw("a", "") == 0.0)
    assert(jw("ab", "ba") == 0.0) // window 0: no cross-position match
  }

  test("jaro_winkler strcmp95 integer transposition halving") {
    // 'blue anvil' vs 'small gizmo': m=4, mismatched=3 -> floor 1 transp
    // (a half-transposition convention would give 0.462879 instead)
    assert(math.abs(jw("blue anvil", "small gizmo") - 0.5045454545454545)
      < 1e-12)
  }

  test("jaro_winkler is symmetric and bounded on the name catalog") {
    val names = spark.read.parquet(s"$sf/part.parquet")
      .select("p_name").distinct().collect().map(_.getString(0))
    for (a <- names; b <- names) {
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s == jw(b, a), s"asymmetric on ($a, $b)")
      if (a == b) assert(s == 1.0)
    }
  }

  test("jaro_winkler codegen agrees with interpreted eval") {
    val df = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_name").as("a"), reverse(col("p_name")).as("b"))
      .limit(200)
    // whole-stage codegen path
    val gen = df.selectExpr("a", "b", "jaro_winkler(a, b) AS s").collect()
    gen.foreach { r =>
      assert(r.getDouble(2) == jw(r.getString(0), r.getString(1)))
    }
  }

  // ---- entity resolution ----

  test("er_clusters joins every planted corruption to its base record") {
    val cl = SparkEntry.queries("er_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val off = graft.queries.EntityRes.ridOffset(spark, sf)
    val bases = cl.keySet.filter(_ < off)
    assert(bases.nonEmpty)
    bases.foreach { rid =>
      assert(cl(rid + off) == cl(rid),
        s"char-drop variant of $rid not clustered with it")
      assert(cl(rid + 2 * off) == cl(rid),
        s"transposed variant of $rid not clustered with it")
    }
    // labels are the component minimum: every label is a member mapping
    // to itself
    cl.values.toSet.foreach { l: Long => assert(cl(l) == l) }
  }

  test("er star-star clustering equals min-label differential oracle") {
    import graft.llm.Dedup
    val pairs = SparkEntry.queries("er_blocked_pairs")(spark, sf)
      .select(col("rid_a").as("doc1"), col("rid_b").as("doc2"))
    val verts = SparkEntry.queries("er_clusters")(spark, sf)
      .select(col("rid").as("doc_id"))
    val fast = SparkEntry.queries("er_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val slow = Dedup.connectedComponents(verts, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == slow)
  }

  // ---- ML training ----

  test("ml_linreg solves the normal equations (gradient ~ 0 at optimum)") {
    val Array(b0, b1, b2, r2) = SparkEntry.queries("ml_linreg")(spark, sf)
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(round(col("l_extendedprice") * 100).cast("double"),
        round(col("l_quantity")).cast("double"),
        round(col("l_discount") * 100).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // X'(y - Xb) = 0 at the optimum; verify each gradient component
    // relative to the moment magnitudes
    var g0 = 0.0; var g1 = 0.0; var g2 = 0.0; var scale = 0.0
    rows.foreach { case (y, x1, x2) =>
      val e = y - (b0 + b1 * x1 + b2 * x2)
      g0 += e; g1 += e * x1; g2 += e * x2; scale += y * y
    }
    assert(math.abs(g0) / scale < 1e-9)
    assert(math.abs(g1) / scale < 1e-9)
    assert(math.abs(g2) / scale < 1e-9)
    // the synthetic generator draws price independent of quantity, so r2
    // is legitimately near zero — the contract is only its range (the
    // optimality claim is the gradient check above)
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("ml_pca satisfies the eigen equation C v = l1 v") {
    val r = SparkEntry.queries("ml_pca")(spark, sf).collect()(0)
    val (var1, var2, evr, vx, vy) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(var1 >= var2)
    assert(evr >= 0.5 && evr <= 1.0)
    assert(math.abs(vx * vx + vy * vy - 1.0) < 1e-5) // unit eigenvector
    // recompute the covariance matrix locally and apply it to (vx, vy)
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(round(col("l_quantity")).cast("double"),
        round(col("l_discount") * 100).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = rows.length.toDouble
    val mx = rows.map(_._1).sum / n
    val my = rows.map(_._2).sum / n
    val cxx = rows.map(p => (p._1 - mx) * (p._1 - mx)).sum / (n - 1)
    val cxy = rows.map(p => (p._1 - mx) * (p._2 - my)).sum / (n - 1)
    val cyy = rows.map(p => (p._2 - my) * (p._2 - my)).sum / (n - 1)
    val ax = cxx * vx + cxy * vy
    val ay = cxy * vx + cyy * vy
    assert(math.abs(ax - var1 * vx) < 1e-3 * math.max(1.0, var1))
    assert(math.abs(ay - var1 * vy) < 1e-3 * math.max(1.0, var1))
  }

  test("ml_logreg_gd replays the exact scaled-integer GD trajectory") {
    val out = SparkEntry.queries("ml_logreg_gd")(spark, sf).collect()(0)
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(round(col("l_quantity")).cast("double"),
        round(col("l_discount") * 100).cast("double"),
        col("l_returnflag"))
      .collect().map(r => (r.getDouble(0) / 50.0, r.getDouble(1) / 10.0,
        if (r.getString(2) == "R") 1.0 else 0.0))
    val n = rows.length.toDouble
    var w0 = 0.0; var w1 = 0.0; var w2 = 0.0
    for (_ <- 1 to 3) {
      var g0 = 0L; var g1 = 0L; var g2 = 0L
      rows.foreach { case (x1, x2, y) =>
        val z = (w0 + w1 * x1) + w2 * x2
        val sg = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
        def grid(v: Double): Long =
          BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        g0 += grid((sg - y) * 1.0 * 1e12)
        g1 += grid((sg - y) * x1 * 1e12)
        g2 += grid((sg - y) * x2 * 1e12)
      }
      w0 = w0 - 2.0 * ((g0.toDouble / 1e12) / n)
      w1 = w1 - 2.0 * ((g1.toDouble / 1e12) / n)
      w2 = w2 - 2.0 * ((g2.toDouble / 1e12) / n)
    }
    assert(out.getDouble(0) == math.rint(w0 * 1e6) / 1e6 ||
      math.abs(out.getDouble(0) - w0) < 1e-6)
    assert(math.abs(out.getDouble(1) - w1) < 1e-6)
    assert(math.abs(out.getDouble(2) - w2) < 1e-6)
    val acc = out.getDouble(3)
    assert(acc >= 0.0 && acc <= 1.0)
  }

  test("ml_naive_bayes beats the uniform-random baseline") {
    val preds = SparkEntry.queries("ml_naive_bayes")(spark, sf).collect()
    assert(preds.nonEmpty)
    val langs = Set("en", "de", "fr", "es", "zh")
    preds.foreach(r => assert(langs.contains(r.getString(2))))
    val acc = preds.count(r => r.getString(1) == r.getString(2)).toDouble /
      preds.length
    assert(acc > 0.2, s"accuracy $acc not above the 5-class random 0.2")
  }

  test("ml_confusion totals reconcile with the per-doc predictions") {
    val preds = SparkEntry.queries("ml_naive_bayes")(spark, sf).collect()
    val conf = SparkEntry.queries("ml_confusion")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(conf.size == 5)
    // micro totals: sum tp = correct predictions; sum(tp+fn) = #test docs
    val tpSum = conf.values.map(_._1).sum
    assert(tpSum == preds.count(r => r.getString(1) == r.getString(2)))
    assert(conf.values.map(t => t._1 + t._3).sum == preds.length)
    // ratios are parts-per-million BIGINTs: floor(1e6·x + 0.5)
    def ppm(num: Long, den: Long) =
      math.floor(1e6 * num / den + 0.5).toLong
    conf.foreach { case (cls, (tp, fp, fn, prec, rec, f1)) =>
      if (tp + fp > 0) assert(prec == ppm(tp, tp + fp), s"$cls prec")
      if (tp + fn > 0) assert(rec == ppm(tp, tp + fn), s"$cls rec")
      if (tp > 0) assert(f1 == ppm(2 * tp, 2 * tp + fp + fn), s"$cls f1")
    }
  }

  test("ml_auc is the pairwise concordance probability") {
    val r = SparkEntry.queries("ml_auc")(spark, sf).collect()(0)
    val (n1, n0, auc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(n1 > 0 && n0 > 0)
    assert(auc >= 0.0 && auc <= 1.0)
    // brute-force concordance on the collected scores
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(org.apache.spark.sql.functions.round(col("l_quantity"))
          .cast("double").as("q"),
        org.apache.spark.sql.functions.round(col("l_discount") * 100)
          .cast("double").as("dc"),
        col("l_returnflag")).collect()
      .map(x => (x.getDouble(0) / 50.0, x.getDouble(1) / 10.0,
        x.getString(2) == "R"))
    // recover the weights by replaying gdFit via the query itself
    val w = SparkEntry.queries("ml_logreg_gd")(spark, sf).collect()(0)
    val (w0, w1, w2) = (w.getDouble(0), w.getDouble(1), w.getDouble(2))
    val scored = rows.map { case (x1, x2, y) => ((w0 + w1 * x1) + w2 * x2, y) }
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    var conc = 0.0
    // group to keep the pair loop tractable: scores take few distinct values
    val pg = pos.groupBy(identity).map { case (v, a) => (v, a.length.toLong) }
    val ng = neg.groupBy(identity).map { case (v, a) => (v, a.length.toLong) }
    for ((pv, pc) <- pg; (nv, nc) <- ng)
      conc += (if (pv > nv) pc * nc.toDouble
               else if (pv == nv) 0.5 * pc * nc else 0.0)
    val brute = conc / (pos.length.toDouble * neg.length)
    // rounded weights vs exact weights shift a few ties: loose tolerance
    assert(math.abs(auc - brute) < 1e-3, s"auc $auc vs brute $brute")
  }

  test("ml_calibration bins partition the data") {
    val bins = SparkEntry.queries("ml_calibration")(spark, sf).collect()
    assert(bins.nonEmpty)
    val total = bins.map(_.getLong(1)).sum
    val n = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(total == n)
    bins.foreach { r =>
      val (bin, pred, obs) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      assert(bin >= 0 && bin <= 199)
      // the bin's average predicted probability lies inside the bin bounds
      assert(pred >= bin / 200.0 - 1e-6 && pred <= (bin + 1) / 200.0 + 1e-6)
      assert(obs >= 0.0 && obs <= 1.0)
    }
  }

  test("llm_good_turing mass identities hold") {
    val gt = SparkEntry.queries("llm_good_turing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(gt.nonEmpty)
    val byR = gt.map(t => t._1 -> t._2).toMap
    gt.foreach { case (r, nr, rstar) =>
      assert(nr > 0)
      rstar match {
        case Some(v) =>
          val expect = (r + 1).toDouble * byR(r + 1) / nr
          assert(math.abs(v - expect) < 1e-5, s"r=$r")
        case None => assert(!byR.contains(r + 1))
      }
    }
  }

  test("win_h_index is the rank-value crossing point") {
    val h = SparkEntry.queries("win_h_index")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pc = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("l_orderkey"))
        .as("n")).collect()
      .groupBy(_.getLong(0))
    pc.foreach { case (sk, rows) =>
      val counts = rows.map(_.getLong(2)).sortBy(-_)
      val brute = counts.zipWithIndex
        .filter { case (c, i) => c >= i + 1 }
        .map(_._2 + 1).maxOption.getOrElse(0).toLong
      assert(h(sk) == brute, s"supplier $sk")
    }
  }

  test("ml_kfold_cv: leave-fold-out models differ from and bracket the " +
    "global fit") {
    val folds = SparkEntry.queries("ml_kfold_cv")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(folds.length == 5)
    assert(folds.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
    // fold sizes partition the table
    val n = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(folds.map(_._2).sum == n)
    // the real contract: replay the leave-fold-out moment algebra
    // locally (total − fold sums, Cramer solve) and match each model.
    // (Coefficient closeness across folds is NOT asserted — the fixture
    // draws price independent of the features, so coefficients are
    // near-null noise and legitimately vary fold to fold.)
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey % 5 AS f",
        "CAST(ROUND(l_extendedprice*100) AS BIGINT) AS y",
        "CAST(ROUND(l_quantity) AS BIGINT) AS x1",
        "CAST(ROUND(l_discount*100) AS BIGINT) AS x2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    def solve(sel: ((Long, Long, Long, Long)) => Boolean) = {
      val rs = rows.filter(sel)
      val n = rs.length.toDouble
      val s1 = rs.map(_._3).sum.toDouble; val s2 = rs.map(_._4).sum.toDouble
      val s11 = rs.map(r => r._3 * r._3).sum.toDouble
      val s12 = rs.map(r => r._3 * r._4).sum.toDouble
      val s22 = rs.map(r => r._4 * r._4).sum.toDouble
      val sy = rs.map(_._2).sum.toDouble
      val s1y = rs.map(r => r._3 * r._2).sum.toDouble
      val s2y = rs.map(r => r._4 * r._2).sum.toDouble
      val m0 = s11 * s22 - s12 * s12; val m1 = s1 * s22 - s12 * s2
      val m2 = s1 * s12 - s11 * s2; val m3 = s1y * s22 - s12 * s2y
      val m4 = s1y * s12 - s11 * s2y; val m5 = s1 * s2y - s1y * s2
      val m6 = s11 * s2y - s1y * s12
      val det = n * m0 - s1 * m1 + s2 * m2
      ((sy * m0 - s1 * m3 + s2 * m4) / det,
        (n * m3 - sy * m1 + s2 * m5) / det,
        (n * m6 - s1 * m5 + sy * m2) / det)
    }
    folds.foreach { case (f, _, rmse, b0, b1, b2) =>
      assert(rmse > 0)
      val (e0, e1, e2) = solve(_._1 != f)
      assert(math.abs(b0 - e0) < 1e-4 * math.max(1.0, math.abs(e0)), s"f$f b0")
      assert(math.abs(b1 - e1) < 1e-4 * math.max(1.0, math.abs(e1)), s"f$f b1")
      assert(math.abs(b2 - e2) < 1e-4 * math.max(1.0, math.abs(e2)), s"f$f b2")
    }
  }

  test("ml_cohens_kappa reconciles with the confusion table") {
    val r = SparkEntry.queries("ml_cohens_kappa")(spark, sf).collect()(0)
    val (n, po, pe, kappa) = (r.getLong(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3))
    val conf = SparkEntry.queries("ml_confusion")(spark, sf).collect()
    val tp = conf.map(_.getLong(1)).sum
    val nAct = conf.map(c => c.getLong(1) + c.getLong(3)) // tp + fn
    val nPred = conf.map(c => c.getLong(1) + c.getLong(2)) // tp + fp
    assert(n == nAct.sum)
    assert(math.abs(po - tp.toDouble / n) < 1e-6)
    val peB = nAct.zip(nPred).map { case (a, p) => a.toDouble * p }.sum /
      (n.toDouble * n)
    assert(math.abs(pe - peB) < 1e-6)
    assert(math.abs(kappa - (po - pe) / (1 - pe)) < 2e-5)
    // kappa's SIGN is data-dependent (the 50-doc sf0.001 split hugs
    // chance agreement); the contract is the identity + range
    assert(kappa >= -1.0 && kappa <= 1.0)
  }

  test("ml_learning_curve: sizes grow, fold-4 model equals kfold fold 0") {
    val lc = SparkEntry.queries("ml_learning_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(lc.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // training sizes strictly increase and partition the non-test folds
    assert(lc.map(_._2).toSeq == lc.map(_._2).sorted.toSeq)
    val n = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(lc.last._2 + lc.head._3 == n) // full train + test = all rows
    lc.foreach { case (_, nt, _, rmse) => assert(nt > 0 && rmse > 0) }
    // the k=4 model trains on folds 1..4 = exactly kfold's leave-fold-0
    val kf = SparkEntry.queries("ml_kfold_cv")(spark, sf).collect()
      .find(_.getLong(0) == 0L).get
    assert(math.abs(lc.last._4 - kf.getDouble(2)) < 1e-6)
  }

  test("ml_ridge solves the penalized normal equations") {
    val r = SparkEntry.queries("ml_ridge")(spark, sf).collect()(0)
    val (b0, b1, b2) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(round(col("l_extendedprice") * 100).cast("double"),
        round(col("l_quantity")).cast("double"),
        round(col("l_discount") * 100).cast("double"))
      .collect().map(x => (x.getDouble(0), x.getDouble(1), x.getDouble(2)))
    // (X'X + λI_feat)β = X'y  ⇒ gradient with the penalty term ≈ 0
    val lam = 10000.0
    var g0 = 0.0; var g1 = 0.0; var g2 = 0.0; var scale = 0.0
    rows.foreach { case (y, x1, x2) =>
      val e = y - (b0 + b1 * x1 + b2 * x2)
      g0 += e; g1 += e * x1; g2 += e * x2; scale += y * y
    }
    g1 -= lam * b1; g2 -= lam * b2 // penalty gradient (intercept free)
    assert(math.abs(g0) / scale < 1e-9)
    assert(math.abs(g1) / scale < 1e-9)
    assert(math.abs(g2) / scale < 1e-9)
  }

  test("evt_did is internally consistent") {
    val r = SparkEntry.queries("evt_did")(spark, sf).collect()(0)
    val Seq(cp, ca, tp_, ta, did, se, t) =
      (0 until 7).map(r.getDouble)
    assert(math.abs(did - ((ta - tp_) - (ca - cp))) < 1e-5)
    assert(se > 0)
    assert(math.abs(t - did / se) < 2e-3 * math.max(1.0, math.abs(t)))
  }

  test("ml_apriori_rules: metrics are mutually consistent") {
    val rules = SparkEntry.queries("ml_apriori_rules")(spark, sf).collect()
    assert(rules.nonEmpty)
    val byPair = rules.map(r => ((r.getString(0), r.getString(1)),
      (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    byPair.foreach { case ((a, c), (nb, sup, conf, lift)) =>
      assert(sup >= 0.02 - 1e-9)
      assert(conf >= 0.12 - 1e-9)
      assert(conf >= sup) // n_both/cnt_a >= n_both/n since cnt_a <= n
      // lift symmetry when the reverse rule survived its confidence gate
      byPair.get((c, a)).foreach { case (nb2, sup2, _, lift2) =>
        assert(nb2 == nb); assert(sup2 == sup)
        assert(math.abs(lift2 - lift) < 2e-6)
      }
    }
  }
}
