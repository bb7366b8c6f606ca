package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** DEV harness for the cross-SF scaling probe: times the iterative /
  * multi-pass query family at several scale factors in ONE warm JVM, so
  * wall-time-vs-rows exponents (BASELINE.md "Scaling probe" table) are
  * measured, not argued from plan shape. Median-of-N per (query, sf)
  * after a warmup run; prints one JSON line per measurement.
  *
  *   runMain graft.ScaleBench [runs] [query ...]
  */
object ScaleBench {
  val defaultQueries = Seq("llm_dedup_exact", "llm_substring_dup",
    "llm_bpe_train", "graph_pagerank", "agg_ks_test")
  // the sf1 fixture (a deterministic 10x expansion of sf0.1 — see
  // graft.GenScale) joins the probe when present, giving the text/
  // embedding families a second genuine 10x step (VERDICT r9 #3)
  val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1") ++
    (if (new java.io.File("/root/repo/fixtures/sf1/documents.parquet")
          .exists) Seq("/root/repo/fixtures/sf1") else Nil)

  def main(args: Array[String]): Unit = {
    val runs = if (args.length > 0) args(0).toInt else 3
    val queries = if (args.length > 1) args.drop(1).toSeq else defaultQueries
    val spark = GraftSession.build(GraftSession.Role.ScaleBench)
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    for (q <- queries; sf <- sfDirs) {
      val fn = SparkEntry.queries(q)
      // the sf1 fixture carries only documents/embeddings/supplier —
      // a query over a table the dir lacks is skipped, not fatal
      try {
        fn(spark, sf).count() // warmup: codegen + JIT + page cache
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sf).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"""[scalebench] {"query":"$q","sf":"${sf.split('/').last}"""" +
          f""","median_sec":${med(times)}%.3f,"min_sec":${times.min}%.3f}""")
      } catch {
        // only the missing-table/path shape is a legitimate skip; a
        // genuine operator failure must kill the bench loudly (ADVICE
        // r10: catching Throwable masked regressions, and a null/empty
        // getMessage NPE'd inside the catch)
        case e: org.apache.spark.sql.AnalysisException =>
          val msg = String.valueOf(e.getMessage)
            .linesIterator.toSeq.headOption.getOrElse("")
          System.err.println(s"[scalebench] SKIP $q @ $sf: $msg")
      }
    }
    // mm probe (VERDICT r10 #6): the board's mm_* queries read the fixed
    // 5-file committed fixture, so their exponent was unmeasured. Probe
    // the dir-parameterized kernels against generated 1x/10x/50x replica
    // dirs — rows explode per byte, so the exponent is over total bytes.
    if (args.length <= 1) {
      import graft.llm.Multimodal
      val mmKernels: Seq[(String, (SparkSession, String) =>
          org.apache.spark.sql.DataFrame)] =
        Seq("mm_frame_sample" -> Multimodal.frameSample,
            "mm_audio_rms" -> Multimodal.audioRms,
            "mm_audio_vad" -> Multimodal.audioVad,
            "mm_patch_grid" -> Multimodal.patchGrid)
      val mmDirs = Seq(
        ("mm1", Multimodal.fixtureDir),
        ("mm10", "/tmp/graft_mm10"), ("mm50", "/tmp/graft_mm50"))
      MmGen.write("/tmp/graft_mm10", 10)
      MmGen.write("/tmp/graft_mm50", 50)
      for ((qn, fn) <- mmKernels; (label, dir) <- mmDirs) {
        fn(spark, dir).count() // warmup
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"""[scalebench] {"query":"$qn","sf":"$label"""" +
          f""","median_sec":${med(times)}%.3f,"min_sec":${times.min}%.3f}""")
      }
    }
    spark.stop()
  }
}
