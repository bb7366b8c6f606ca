package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** r15: [[graft.functions.BpeApplyMerges]] must reproduce the interpreted
  * HOF fold (one `aggregate` per rule, chained) bit for bit — the BPE
  * train/encode family's values and their reference anchors are defined
  * by that fold. Covers the greedy order ("aaa" under (a,a) → [aa, a]),
  * merged symbols feeding LATER rules, no-match passthrough, and the
  * full fixture vocabulary under the corpus-trained merge table. */
class BpeMergesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def hofApply(syms: org.apache.spark.sql.Column, l: String,
                       r: String): org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  test("bpe_apply_merges ≡ the chained HOF fold on crafted words") {
    import spark.implicits._
    val rules = Seq(("a", "a"), ("aa", "a"), ("b", "c"), ("aa", "bc"))
    val words = Seq("aaa", "aaaa", "aaaaa", "abc", "aabc", "aaabc",
      "bcbc", "", "x", "abcabc", "cab")
    val df = words.toDF("w").withColumn("syms", split(col("w"), ""))
    val ref = rules.foldLeft(col("syms")) { case (c, (l, r)) =>
      hofApply(c, l, r) }
    val got = call_function("bpe_apply_merges",
      col("syms") +: rules.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*)
    val bad = df.select(col("w"), ref.as("ref"), got.as("got"))
      .filter(not(col("ref") <=> col("got"))).collect()
    assert(bad.isEmpty, bad.map(r => s"'${r.getString(0)}': " +
      s"${r.getSeq[String](1)} vs ${r.getSeq[String](2)}").mkString("; "))
  }

  test("bpe_apply_merges ≡ the chained HOF fold over the fixture vocabulary") {
    val merges = graft.llm.TextOps.bpeMergesFor(spark, TestSession.sf)
    assert(merges.nonEmpty)
    val words = graft.core.Tables.t(spark, TestSession.sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("syms", split(col("w"), ""))
    val ref = merges.foldLeft(col("syms")) { case (c, (l, r)) =>
      hofApply(c, l, r) }
    val got = call_function("bpe_apply_merges",
      col("syms") +: merges.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*)
    val mism = words.select(ref.as("ref"), got.as("got"))
      .filter(not(col("ref") <=> col("got"))).count()
    assert(mism == 0L, s"$mism words tokenize differently")
  }
}
