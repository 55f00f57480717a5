package graft.engine.builders

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Waypoints

/** A3 + W1 + F10-F12/F14: top-30 trips per year with route waypoints
  * (`update_tripsmap.py:23-95,100-221`).
  *
  * Schema: year TEXT, rideable_type TEXT, from_station TEXT, to_station
  * TEXT, trip_count INT, waypoints JSON (`table_list.py:50-57`).
  *
  * The reference collects the ranked rows to the driver for the Mapbox
  * calls; here the enrichment is a UDF over the (<= 30 x years)-row
  * DataFrame, so nothing leaves the executors. Ties in trip_count are
  * broken deterministically (from/to station, then rideable_type with
  * nulls first) where the reference relied on engine row order.
  */
object TripsMap {

  def build(imported: DataFrame,
            provider: Waypoints.RouteProvider = Waypoints.StraightLineRoutes): DataFrame = {
    val agg = imported
      .filter(col("start_station_name") =!= col("end_station_name"))
      .groupBy(
        col("year"),
        col("start_station_name").as("from_station"),
        col("start_station_latitude").as("from_lat"),
        col("start_station_longitude").as("from_lon"),
        col("end_station_name").as("to_station"),
        col("end_station_latitude").as("to_lat"),
        col("end_station_longitude").as("to_lon"),
        col("rideable_type"))
      .agg(count(lit(1)).cast("int").as("trip_count"),
        min(col("start_time")).as("trip_time"))
    val w = Window.partitionBy("year")
      .orderBy(col("trip_count").desc, col("from_station"), col("to_station"),
        col("rideable_type").asc_nulls_first)
    val top = agg.withColumn("rn", row_number().over(w)).filter(col("rn") <= 30)
    top.withColumn("waypoints",
        to_json(Waypoints.waypointsUdf(provider)(
          col("from_lat"), col("from_lon"), col("to_lat"), col("to_lon"),
          col("trip_time"))))
      .select("year", "rideable_type", "from_station", "to_station",
        "trip_count", "waypoints")
  }

  /** Upsert (`update_tripsmap.py:38-56`): matched rows add trip_count
    * but KEEP the existing waypoints (the reference's UPDATE only sets
    * trip_count); unmatched delta rows insert whole.
    *
    * Deliberate divergence: the reference joins on (year, from, to)
    * only, but build() emits one row per rideable_type for the same
    * station pair, so duplicate keys would cross-multiply on every
    * merge (and DuckDB's UPDATE..FROM with multiple matches is
    * nondeterministic). rideable_type joins the key set here, making
    * the merge deterministic and row-preserving. */
  def merge(existing: DataFrame, delta: DataFrame): DataFrame = {
    val e = existing.as("e")
    val d = delta.as("d")
    // null-safe on rideable_type: legacy archives carry null there, and
    // a plain equi-join would never match those rows (row duplication)
    val cond = col("e.year") === col("d.year") &&
      col("e.from_station") === col("d.from_station") &&
      col("e.to_station") === col("d.to_station") &&
      (col("e.rideable_type") <=> col("d.rideable_type"))
    e.join(d, cond, "full_outer")
      .select(
        coalesce(col("e.year"), col("d.year")).as("year"),
        coalesce(col("e.rideable_type"), col("d.rideable_type")).as("rideable_type"),
        coalesce(col("e.from_station"), col("d.from_station")).as("from_station"),
        coalesce(col("e.to_station"), col("d.to_station")).as("to_station"),
        (coalesce(col("e.trip_count"), lit(0)) + coalesce(col("d.trip_count"), lit(0)))
          .cast("int").as("trip_count"),
        coalesce(col("e.waypoints"), col("d.waypoints")).as("waypoints"))
  }
}
