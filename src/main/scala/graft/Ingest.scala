package graft

import graft.core.GraftSession
import graft.etl.Pipeline

/** EP1 as a CLI (the engine's equivalent of
  * `python3 python/ingest_data.py` — SURVEY.md §3):
  *
  *   runMain graft.Ingest <tripsParquet> <zonesCsv> <warehouseDir>
  *
  * Normalizes + loads zones (truncate-replace) and trips (month-partitioned
  * dynamic overwrite). Re-running is idempotent.
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.Ingest <tripsParquet> <zonesCsv> <warehouseDir>")
    val spark = GraftSession.build(GraftSession.Role.Ingest)
    val conf = Pipeline.Conf(tripsSource = args(0), zonesSource = args(1),
      warehouse = args(2))
    val zones = Pipeline.refreshZones(spark, conf)
    val trips = Pipeline.loadTrips(spark, conf)
    println(s"[ingest] zones=${zones.count()} trips=${trips.count()} -> ${conf.warehouse}")
    spark.stop()
  }
}
