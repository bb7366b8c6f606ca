package graft
import graft.core.Ckpt._

import graft.core.GraftSession
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextOps}

/** DEV harness: head-to-head of the two connected-components
  * implementations (min-label oracle vs large-star/small-star production)
  * on the same materialized pair graph, one warm JVM, median-of-N —
  * isolates CC cost from the pair-generation stage that dominates the
  * registered dedup queries.
  *
  *   runMain graft.CcBench [sfDir] [runs]
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val sf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.build(GraftSession.Role.CcBench)
    import spark.implicits._

    // real graph: the exact-Jaccard near-dup pairs + a synthetic LONG
    // chain welded on, so diameter stress is part of the measurement
    val pairs = TextOps.defs("llm_ngram_jaccard")(spark, sf)
      .select(col("doc1"), col("doc2")).ckpt()
    val docs = graft.core.Tables.t(spark, sf, "documents")
      .select(col("doc_id")).ckpt()
    println(s"[ccbench] pairs=${pairs.count()} docs=${docs.count()}")

    val chainN = 400L
    val chainPairs = (0L until chainN).map(i => (1000000L + i, 1000001L + i))
      .toDF("doc1", "doc2").union(pairs).ckpt()
    val chainDocs = (0L to chainN).map(1000000L + _).toDF("doc_id")
      .union(docs).ckpt()

    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def time(label: String, f: () => Long): Unit = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val n = f()
        (System.nanoTime() - t0) / 1e9 -> n
      }
      println(f"[ccbench] $label median=${med(ts.map(_._1))}%.2f s " +
        f"min=${ts.map(_._1).min}%.2f s rows=${ts.head._2}")
    }

    time("minlabel/real ",
      () => Dedup.connectedComponents(docs, pairs).count())
    time("starstar/real ",
      () => Dedup.connectedComponentsFast(docs, pairs).count())
    val (_, r1) = Dedup.ccFastLabels(docs, pairs)
    println(s"[ccbench] starstar rounds on real graph: $r1")

    time("minlabel/chain",
      () => Dedup.connectedComponents(chainDocs, chainPairs, maxIter = 500).count())
    time("starstar/chain",
      () => Dedup.connectedComponentsFast(chainDocs, chainPairs).count())
    val (_, r2) = Dedup.ccFastLabels(chainDocs, chainPairs)
    println(s"[ccbench] starstar rounds on chain-augmented graph: $r2")
    spark.stop()
  }
}
