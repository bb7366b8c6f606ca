package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{Ckpt, Debris}
import graft.core.Ckpt.CkptOps

/** r15 (VERDICT r14 #1): the broadcast/shuffle half of the deterministic
  * lifecycle. [[graft.core.Debris.sweep]] must (a) actually remove dead
  * broadcast blocks and registered shuffle state without any System.gc,
  * (b) never break the engine's only cross-query survivors — retained
  * (SessionCache-pattern) checkpoint frames, materialized or not — and
  * (c) leave plans that still reference a swept shuffle recomputable
  * (the DAGScheduler re-registers unknown shuffle ids on stage
  * creation). These are exactly the safety assumptions documented on
  * Debris; if Spark ever changes them, this suite fails before a bench
  * or a production session does. */
class DebrisSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def broadcastBlocks: Int =
    org.apache.spark.graft.LifecycleShim
      .broadcastBlockCount(spark.sparkContext)

  private def shuffleCount: Int =
    org.apache.spark.graft.LifecycleShim.shuffleIds(spark.sparkContext).size

  test("sweep removes dead broadcast blocks and shuffle state, no GC") {
    import spark.implicits._
    val dim = (1 to 50).map(i => (i, s"n$i")).toDF("k", "name")
    val fact = (1 to 10000).map(i => (i % 50 + 1, i.toLong)).toDF("k", "v")
    // broadcast join + aggregate: leaves broadcast blocks and a
    // registered shuffle behind once the action completes
    val out = fact.join(broadcast(dim), Seq("k"))
      .groupBy($"name").agg(sum($"v").as("s"))
    assert(out.count() == 50)
    assert(broadcastBlocks > 0, "fixture should have produced broadcasts")
    assert(shuffleCount > 0, "fixture should have registered a shuffle")
    val (b, sh) = Debris.sweep(spark)
    assert(b > 0 && sh > 0, s"sweep saw nothing to remove ($b, $sh)")
    assert(broadcastBlocks == 0,
      "broadcast blocks survived a blocking sweep")
    assert(shuffleCount == 0, "shuffle registrations survived the sweep")
  }

  test("a plan re-executed after its shuffle was swept just recomputes") {
    import spark.implicits._
    // SAME Dataset instance (same QueryExecution, same ShuffleDependency
    // objects) actioned again after the sweep — the worst case: the map
    // stage already ran once, its output was dropped, and the second
    // action must transparently recompute instead of failing on a
    // missing map-output registration
    val df = (1 to 5000).map(i => (i % 13, i.toLong)).toDF("k", "v")
      .groupBy($"k").agg(sum($"v").as("s"))
    val first = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    Debris.sweep(spark)
    val second = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(second == first)
  }

  test("retained lazy ckpt built BEFORE a sweep materializes correctly after") {
    import spark.implicits._
    // the SessionCache pattern: a frame with a broadcast join and a
    // shuffle is built (plan + shuffle registration happen now), cached
    // retained, NOT yet materialized; a sweep runs (another query's
    // boundary); only then does a consumer materialize it
    val dim = (1 to 20).map(i => (i, i * 100L)).toDF("k", "w")
    val frame = Ckpt.retained {
      (1 to 4000).map(i => (i % 20 + 1, i.toLong)).toDF("k", "v")
        .join(broadcast(dim), Seq("k"))
        .groupBy($"k").agg(sum($"v" * $"w").as("s"))
        .ckpt(eager = false)
    }
    Debris.sweep(spark)
    assert(frame.count() == 20)
    // and a MATERIALIZED retained frame survives later sweeps untouched
    // (sweep removes broadcast/shuffle state only, never RDD blocks)
    Debris.sweep(spark)
    assert(frame.agg(sum($"s")).head().getLong(0) ==
      (1 to 4000).map(i => i.toLong * ((i % 20 + 1) * 100L)).sum)
  }

  test("SessionCache queries survive build all → sweep → execute all") {
    // a fresh corpus directory, so every SessionCache frame (the IVF
    // index, the entity-resolution pairs and clusters) is built inside
    // this test: all plans are BUILT first, a sweep runs, and only then
    // is any plan executed. A lazily cut cached frame would lose the
    // broadcasts its first read still needs.
    val dir = java.nio.file.Files.createTempDirectory("graft-debris-order")
    new java.io.File(TestSession.sf).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    val names = Seq("llm_mmr_rerank", "llm_mmr_rerank_ann",
      "llm_mmr_rerank_ann_recall", "er_clusters", "er_survivorship")
    val built = names.map(n => SparkEntry.queries(n)(spark, dir.toString))
    Debris.sweep(spark)
    // row order is not part of every query's contract: compare sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val got = built.map(rows)
    val want = names.map(n => rows(SparkEntry.queries(n)(spark, TestSession.sf)))
    names.indices.foreach { i =>
      assert(got(i) == want(i), s"${names(i)} changed under build → sweep → run")
    }
  }
}
