package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Contracts for `bounded_collect_set` (functions/BoundedCollectSet.scala),
  * the constant-memory df-cutoff aggregate behind the r14 llm_substring_dup
  * rewrite: exactness at or under the cap, saturation above it (including
  * across partial-buffer merges), null handling, and the end-to-end
  * equivalence of the single-shuffle substring-dup plan with the former
  * count→join-back→self-join formulation on the driver testdata.
  */
class BoundedCollectSetSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("groups at or under the cap get the exact sorted distinct set") {
    import spark.implicits._
    // key k has df = k (1..10, all within cap), values deliberately
    // unsorted and duplicated; 16 partitions force partial-buffer merges
    val rows = for {
      k <- 1 to 10; v <- 1 to k; _ <- 1 to 2 // every value appears twice
    } yield (k, (k * 1000 + v).toLong)
    val got = rows.toDF("k", "v").repartition(16)
      .groupBy($"k")
      .agg(expr("bounded_collect_set(v, 10)").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    (1 to 10).foreach { k =>
      assert(got(k) == (1 to k).map(v => (k * 1000 + v).toLong),
        s"key $k: exact sorted set expected")
    }
  }

  test("groups over the cap saturate at cap+1 distinct values, across merges") {
    import spark.implicits._
    // df = 50 with cap = 10: every partial buffer stops at 11 and so does
    // the final merge — the group stays provably over-cap without ever
    // buffering more than cap+1 values
    val got = (1 to 50).map(v => ("hot", v.toLong)).toDF("k", "v")
      .repartition(16)
      .groupBy($"k")
      .agg(expr("bounded_collect_set(v, 10)").as("s"))
      .head().getSeq[Long](1)
    assert(got.size == 11, s"saturation must stop at cap+1, got ${got.size}")
    assert(got.toSet.subsetOf((1L to 50L).toSet) && got == got.sorted)
  }

  test("null keys are skipped; an all-null group yields an empty array") {
    import spark.implicits._
    val got = Seq(("a", Some(1L)), ("a", None), ("b", None))
      .toDF("k", "v")
      .groupBy($"k")
      .agg(expr("bounded_collect_set(v, 5)").as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a") == Seq(1L) && got("b").isEmpty)
  }

  test("substring_dup single-shuffle plan ≡ the former join-back formulation") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf, "documents.parquet").exists())
    import graft.core.Tables.{spread, t}
    // the pre-r14 shape, inlined: distinct windows → df count → join-back
    // → self-join → pair count (the DuckDB oracle twin is this same SQL)
    val wins = spread(t(spark, sf, "documents"))
      .filter(length(col("text")) >= 24)
      .withColumn("p", explode(sequence(lit(1), length(col("text")) - 23)))
      .selectExpr("doc_id", "substring(text, p, 24) AS w")
      .distinct()
    val rare = wins.groupBy(col("w"))
      .agg(count(lit(1)).as("c")).filter(col("c").between(2, 10))
      .select(col("w"))
    val keyed = wins.join(rare, Seq("w"))
    val old = keyed.alias("a")
      .join(keyed.alias("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val now = SparkEntry.queries("llm_substring_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(now == old, s"plans disagree: only-old=${old -- now} " +
      s"only-new=${now -- old}")
    assert(now.nonEmpty, "fixture should plant at least one dup pair")
  }

  test("lazy buffer growth: large caps stay exact through doubling and merges") {
    import spark.implicits._
    // cap 10000 (the exact-anchor budget): the buffer starts at 10 slots
    // and doubles on demand, so a df=500 group crosses several growth
    // boundaries in updates AND in partial-buffer merges (16 partitions);
    // df=3 groups stay in the initial allocation
    val rows = (for { v <- 1L to 500L } yield (1, v * 7)) ++
      (for { v <- 1L to 3L } yield (2, v))
    val got = rows.toDF("k", "v").repartition(16)
      .groupBy($"k")
      .agg(expr("bounded_collect_set(v, 10000)").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(got(1) == (1L to 500L).map(_ * 7), "df=500 exact sorted set")
    assert(got(2) == Seq(1L, 2L, 3L))
  }

  test("sorted-region membership (r15): exactness around and far past SORT_AT") {
    import spark.implicits._
    // the membership strategy flips from linear scan to sorted + binary
    // search at 64 values; exercise groups straddling the boundary
    // (63/64/65), a large near-saturation group (df = 9500 of cap 10000,
    // heavy duplication so membership HITS dominate), and saturation just
    // past the cap — all through 16-partition partial merges, with values
    // inserted in descending order so the sorted-insert path shifts
    val rows =
      (for { k <- Seq(63, 64, 65); v <- k to 1 by -1; _ <- 1 to 2 }
        yield (k, (k * 100000 + v).toLong)) ++
      (for { v <- 9500 to 1 by -1; _ <- 1 to 3 } yield (1, v.toLong)) ++
      (for { v <- 1 to 10001 } yield (2, v.toLong))
    val got = rows.toDF("k", "v").repartition(16)
      .groupBy($"k")
      .agg(expr("bounded_collect_set(v, 10000)").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    Seq(63, 64, 65).foreach { k =>
      assert(got(k) == (1 to k).map(v => (k * 100000 + v).toLong),
        s"df=$k straddles the sort threshold")
    }
    assert(got(1) == (1L to 9500L), "near-saturation group stays exact")
    assert(got(2).length == 10001 && got(2).toSet.subsetOf(
      (1L to 10001L).toSet), "over-cap group saturates at cap+1")
  }

  test("a truncated serialized buffer fails loudly instead of zero-padding") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = graft.functions.BoundedCollectSet(Literal(0L), 10)
    val bytes = agg.serialize(Array(3L, 11L, 22L, 33L))
    assert(agg.deserialize(bytes).toSeq == Seq(3L, 11L, 22L, 33L))
    // count says 3 members, the payload holds 1: eval would fabricate two
    val e = intercept[IllegalArgumentException] {
      agg.deserialize(java.util.Arrays.copyOf(bytes, 16))
    }
    assert(e.getMessage.contains("corrupt serialized buffer"))
  }
}
