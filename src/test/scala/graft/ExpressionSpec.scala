package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Differential test for the custom Catalyst expressions (SURVEY.md §7.3):
  * the codegen'd kernel must agree with the higher-order-function
  * formulation to 1e-12, on real embeddings and on edge cases. */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def hofCosine = expr(
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) /
       sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) *
            aggregate(transform(b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))""")

  test("cosine_similarity matches HOF formulation on real embeddings") {
    val emb = t(spark, TestSession.sf, "embeddings")
    val pairs = emb.select(col("vec_id").as("ida"), col("embedding").as("a"))
      .crossJoin(broadcast(
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("idb"), col("embedding").as("b"))))
    val diff = pairs
      .withColumn("expr_cos", expr("cosine_similarity(a, b)"))
      .withColumn("hof_cos", hofCosine)
      .select(max(abs(col("expr_cos") - col("hof_cos"))).as("maxdiff"))
      .collect()(0).getDouble(0)
    assert(diff < 1e-12, s"codegen vs HOF drift: $diff")
  }

  test("nulls propagate; zero vectors yield 0.0; dot_product works") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 0.0f)), Some(Array(1.0f, 0.0f))),
      (Some(Array(1.0f, 2.0f)), Some(Array(0.0f, 0.0f))),
      (None, Some(Array(1.0f, 1.0f))))
      .toDF("a", "b")
    val got = df.selectExpr("cosine_similarity(a, b) AS c", "dot_product(a, b) AS d")
      .collect()
    assert(got(0).getDouble(0) === 1.0)
    assert(got(0).getDouble(1) === 1.0)
    assert(got(1).getDouble(0) === 0.0) // zero vector → defined 0.0
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }

  test("nullSafeEval (interpreted fallback) matches the codegen path") {
    // Spark silently falls back to interpreted eval when codegen
    // compilation fails; a drift between nullSafeEval and doGenCode would
    // change results without any error surfacing
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import spark.implicits._
    val a = Array(0.3f, -1.2f, 2.5f, 0.0f)
    val b = Array(1.0f, 0.5f, -0.25f, 4.5f)
    def litOf(xs: Array[Float]) = Literal.create(xs, ArrayType(FloatType))
    val interpCos = graft.functions.CosineSimilarity(litOf(a), litOf(b))
      .eval(null).asInstanceOf[Double]
    val interpDot = graft.functions.DotProduct(litOf(a), litOf(b))
      .eval(null).asInstanceOf[Double]
    val r = Seq((a, b)).toDF("a", "b")
      .selectExpr("cosine_similarity(a, b)", "dot_product(a, b)").collect()(0)
    assert(math.abs(interpCos - r.getDouble(0)) < 1e-15)
    assert(math.abs(interpDot - r.getDouble(1)) < 1e-15)
  }

  test("hyperplane_sigs fused kernel ≡ composed dot_product formulation") {
    // the fused expression replaced a 96-node dot_product/when tree; the
    // signatures must be BIT-IDENTICAL or every LSH bucket assignment moves
    val nTables = 24; val bits = 4; val dim = 64
    val emb = t(spark, TestSession.sf, "embeddings").limit(200)
    val composed = (0 until nTables).map { tt =>
      (0 until bits).map { j =>
        val plane = graft.functions.HyperplaneSigs.planeVector(tt * bits + j, dim)
        when(call_function("dot_product",
          col("embedding"), typedLit(plane)) >= 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _) + lit(tt.toLong << bits)
    }
    val diff = emb
      .withColumn("fused", call_function("hyperplane_sigs",
        col("embedding"), lit(nTables), lit(bits), lit(dim)))
      .withColumn("composed", array(composed: _*))
      .filter(expr("fused != composed"))
      .count()
    assert(diff == 0, s"$diff rows with signature drift")
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = Array(0.3f, -1.2f, 2.5f, 0.0f, 0.7f)
    val interp = graft.functions.HyperplaneSigs(
        Literal.create(a, ArrayType(FloatType)), 4, 4, 5)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    import spark.implicits._
    val gen = Seq(Tuple1(a)).toDF("embedding")
      .selectExpr("hyperplane_sigs(embedding, 4, 4, 5) AS s")
      .collect()(0).getSeq[Long](0)
    assert(interp == gen)
  }

  test("interpreted eval agrees with codegen (fingerprint golden)") {
    // rolling-hash fingerprint must be stable across releases — golden value
    import spark.implicits._
    val fp = Seq("abc").toDF("text").selectExpr(
      """aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         CAST(7 AS BIGINT), (acc, x) -> pmod(acc * 31 + x, 1000000007))""")
      .collect()(0).getLong(0)
    // 7*31+97=314; 314*31+98=9832; 9832*31+99=304891
    assert(fp == 304891L)
  }

  test("extension-injected functions resolve in a fresh session without register()") {
    // newSession() rebuilds session state from spark.sql.extensions alone,
    // so resolution here proves the injectFunction path
    val fresh = spark.newSession()
    val sim = fresh.sql(
      "SELECT cosine_similarity(array(3.0F, 4.0F), array(3.0F, 4.0F))")
      .collect()(0).getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-9)
    val sh = fresh.sql("SELECT word_shingles('a b c d', 3)")
    assert(sh.count() == 2)
    // the six UDAFs are injected by the same extension
    val a = fresh.sql("""SELECT kahan_sum(CAST(x AS DOUBLE)), dec_hist(x),
        minhash16(x), minhash64(x), simhash64(x),
        topk3_by(CAST(x AS DOUBLE), x)
      FROM VALUES (1L), (2L), (3L), (4L) AS t(x)""").collect()(0)
    def minhash(k: Int): Seq[Long] = {
      val m = new graft.functions.Aggregators.MinHashAgg(k)
      m.finish(Seq(1L, 2L, 3L, 4L).foldLeft(m.zero)(m.reduce))
    }
    assert(a.getDouble(0) == 10.0)
    assert(a.getSeq[Long](1) == Seq(4L, 2L, 4L, 4L))
    assert(a.getSeq[Long](2) == minhash(16))
    assert(a.getSeq[Long](3) == minhash(64))
    // bits 0 and 1 tie at zero votes over 1..4 (set); every higher bit loses
    assert(a.getLong(4) == 3L)
    assert(a.getSeq[org.apache.spark.sql.Row](5).map(_.getLong(1)) == Seq(4L, 3L, 2L))
    // and so is the native as-of strategy
    val asof = graft.queries.EventsBatch.defs("join_asof_native")(fresh, TestSession.sf)
    assert(asof.queryExecution.sparkPlan.exists(_.isInstanceOf[graft.plans.AsOfJoinExec]))
  }
}
