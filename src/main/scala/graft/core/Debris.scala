package graft.core

import org.apache.spark.graft.LifecycleShim
import org.apache.spark.sql.SparkSession

/** Deterministic release of dead broadcast relations and shuffle state at
  * query boundaries — the broadcast/shuffle half of the lifecycle story
  * whose checkpoint half is [[Ckpt]] (r14).
  *
  * Why it exists: Spark frees broadcast blocks and shuffle files when the
  * ContextCleaner notices the owning object was garbage-collected. On a
  * large, quiet heap a full GC may not run for hundreds of queries, so a
  * long session accumulates dead broadcast relations in the unified
  * memory store (and shuffle state on disk) until storage/execution
  * contention inflates unrelated queries 2–6× — measured r13/r14 as the
  * bench "driver-read drift" (ml_ks_model 11.2 s on-board vs 0.9 s
  * isolated with a relaxed GC cadence). r14 closed the checkpoint half
  * deterministically; this closes the rest, replacing the timed-path
  * dependence on `System.gc()`.
  *
  * SAFETY CONTRACT (why a blanket sweep is correct here): the engine's
  * only artifacts that outlive a query are SessionCache values, and every
  * DataFrame among them is lineage-cut via `Ckpt.retained`
  * (localCheckpoint) — once materialized, consumers read the checkpoint
  * blocks (which this sweep never touches: it removes broadcast + shuffle
  * state only, never RDD blocks) and never re-read an earlier query's
  * broadcast or shuffle output. Registered-but-never-run shuffles are
  * re-registered by the DAGScheduler on stage creation after an
  * unregister ([[graft.DebrisSpec]] pins this empirically). No retained
  * frame is left unmaterialized: under AQE a lazy cut has already run
  * its upstream stages (see [[Ckpt]]), so a sweep before its first read
  * could remove a broadcast its final stage still needs — `Ckpt.retained`
  * therefore always cuts eagerly (DebrisSpec builds the SessionCache
  * queries, sweeps, then runs them).
  * Plain-value caches (fitted indexes, merge tables) hold no Spark
  * handles ([[SimSearch]] etc. collect to Scala values; the repo has no
  * raw `SparkContext.broadcast` call). Fresh queries re-plan from the
  * parquet scans and build their own broadcasts/shuffles.
  *
  * The sweep is synchronous and blocking, so a caller that runs it
  * OUTSIDE a timed window (Bench/TimeQuery do) guarantees none of the
  * release churn bleeds into the next measurement — unlike the GC +
  * async-cleaner path it replaces.
  */
object Debris {

  /** Blocking removal of every broadcast block and registered shuffle.
    * Call at query boundaries only (between queries / reps). Returns
    * (broadcasts, shuffles) removed.
    *
    * r15 hardening: the sweep NO-OPS unless the context is quiescent (no
    * active jobs) — a session running overlapped jobs from several driver
    * threads (guide §2.6) must not have one query's boundary sweep rip a
    * broadcast out from under another query mid-flight (observed as a
    * TorrentBroadcast FAILED_READ race when test suites share the
    * session). Bench/TimeQuery call between sequential queries, where the
    * tracker is empty and the sweep always proceeds; the check leaves a
    * small start-after-check window, so quiescence at the call site is
    * still the caller's contract — this guard just fails safe. */
  def sweep(spark: SparkSession): (Int, Int) = {
    val sc = spark.sparkContext
    if (sc.isStopped) return (0, 0)
    if (sc.statusTracker.getActiveJobIds().nonEmpty) return (0, 0)
    val bids = LifecycleShim.broadcastIds(sc)
    bids.foreach { id =>
      try LifecycleShim.removeBroadcast(sc, id)
      catch { case _: Throwable => () }
    }
    val sids = LifecycleShim.shuffleIds(sc)
    sids.foreach { id =>
      try LifecycleShim.removeShuffle(sc, id)
      catch { case _: Throwable => () }
    }
    (bids.size, sids.size)
  }
}
