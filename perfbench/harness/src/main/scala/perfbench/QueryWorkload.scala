package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Expected result of one registry query; `fp` is None where the query's
  * fingerprint is not stable from run to run and only rows are checked. */
final case class Expected(rows: Long, fp: Option[Long])

/** A pass runs every named registry query once, in the given order. Each
  * query is fully materialized and its Ckpt scope released and Debris
  * swept before the next plan is built, so no plan is ever built ahead of
  * a sweep. */
final class QueryWorkload(h: Harness, dataDir: String, names: Seq[String],
                          layer: String, expected: Map[String, Expected], seed: Long)
    extends Workload {
  private val registry: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
  /** (rows, fingerprint) of every execution, for recording expected values. */
  val observed: mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]] =
    mutable.Map.empty
  var swept = (0L, 0L)

  /** Pass `index` runs every query once, in a seeded order that differs
    * from pass to pass: order is what inflates late queries. */
  def pass(index: Int): (Seq[UnitTimes], Double, Map[String, Double]) = {
    val before = swept
    val units = new Random(seed * 1000003L + index).shuffle(names).map(run(index, _))
    (units, 0.0, Map("core.swept_broadcasts" -> (swept._1 - before._1).toDouble,
      "core.swept_shuffles" -> (swept._2 - before._2).toDouble))
  }

  private def run(index: Int, name: String): UnitTimes = {
    h.attempted += 1
    var (c, p, m, l) = (0.0, 0.0, 0.0, 0.0)
    var result: Option[(Long, Long)] = None
    h.timed(name, layer) {
      val (_, release) = graft.core.Ckpt.collecting {
        try {
          val (df, tc) = h.timed("construct", layer, "construct")(registry(name)(h.spark, dataDir))
          c = tc
          p = h.timed("plan", "plans", "plan")(df.queryExecution.executedPlan)._2
          val (r, tm) = h.timed("materialize", "exec", "materialize")(h.materialize(df, name))
          m = tm
          result = Some(r)
        } catch {
          case e: Throwable =>
            h.fail(name, index, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
        }
      }
      l = h.timed("lifecycle", "core", "lifecycle") {
        release()
        val (b, s) = graft.core.Debris.sweep(h.spark)
        swept = (swept._1 + b, swept._2 + s)
      }._2
    }
    result.foreach { case (rows, fp) =>
      observed.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((rows, fp))
      expected.get(name) match {
        case None => h.fail(name, index, "no expected value is stored for this query")
        case Some(e) if e.rows != rows =>
          h.fail(name, index, s"rows: expected ${e.rows}, got $rows")
        case Some(Expected(_, Some(efp))) if efp != fp =>
          h.fail(name, index,
            s"fingerprint: expected ${Fingerprint.hex(efp)}, got ${Fingerprint.hex(fp)}")
        case _ => ()
      }
    }
    UnitTimes(name, c, p, m, l, result.isDefined)
  }
}

/** The queries of the two registry workloads: a fixed subset of each
  * family, small enough that a warm pass and two timed passes fit one run.
  * Every pass runs all of them; the seed only permutes their order. */
object QueryWorkload {
  /** The reference's taxi analytics (B1–B4; B5, `taxi_zone_pair_max`,
    * returns no rows on this data), TPC-H Q6, the star join, the native
    * as-of and range joins of `plans/`, and the salting and spatial grid of
    * `ops/`. */
  val olap: Seq[String] = Seq(
    "taxi_validation_counts", "taxi_bucket_segmentation", "taxi_daily_max",
    "taxi_top_zones_revenue", "tpch_q6_forecast", "join_star_revenue",
    "join_asof_native", "join_interval_native", "join_salted_skew", "join_spatial_grid")

  /** `llm/` queries heavy on construction: the near-duplicate gate whose
    * late-board times inflate, the union-find driver loop, the SessionCache
    * IVF fit, the MMR probes, and one Curation query. */
  val corpus: Seq[String] = Seq(
    "llm_neardup_gate", "llm_dedup_apply", "llm_minhash_pairs",
    "llm_ann_ivf", "llm_mmr_rerank_ann", "llm_domain_cap")
}
