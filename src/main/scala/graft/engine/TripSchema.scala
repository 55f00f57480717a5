package graft.engine

import org.apache.spark.sql.types._

/** Canonical Citibike trip schema and normalization constants.
  *
  * Mirrors the reference's Arrow schema and rename map
  * (`citibike_data_process/data_processing/setup/clean_up.py:6-41`) and
  * the import-time constants
  * (`citibike_data_process/data_processing/ingestion/db_importing.py:11-28`).
  */
object TripSchema {

  /** The 12 canonical columns, in reference order (`clean_up.py:20-33`).
    * Timestamps are ns in Arrow; Spark TimestampType is micros — the
    * reference's DuckDB storage is micros too, so parity holds. */
  val canonical: StructType = StructType(Seq(
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("start_station_name", StringType),
    StructField("start_station_id", StringType),
    StructField("end_station_name", StringType),
    StructField("end_station_id", StringType),
    StructField("start_station_longitude", DoubleType),
    StructField("start_station_latitude", DoubleType),
    StructField("end_station_latitude", DoubleType),
    StructField("end_station_longitude", DoubleType),
    StructField("user_type", StringType),
    StructField("rideable_type", StringType)))

  /** Header synonym map (`clean_up.py:6-18`). Deliberately preserves the
    * reference quirk: modern-format `start_lng -> start_station_latitude`
    * and `start_lat -> start_station_longitude` arrive swapped and are
    * conditionally un-swapped by the bbox repair (`db_importing.py:46-71`)
    * — the two cancel for NYC coordinates. */
  val renameMap: Map[String, String] = Map(
    "member_casual" -> "user_type",
    "usertype" -> "user_type",
    "start_lng" -> "start_station_latitude",
    "start_lat" -> "start_station_longitude",
    "end_lat" -> "end_station_latitude",
    "end_lng" -> "end_station_longitude",
    "started_at" -> "start_time",
    "starttime" -> "start_time",
    "stoptime" -> "end_time",
    "stop_time" -> "end_time",
    "ended_at" -> "end_time")

  /** NYC bounding box used by the swap repair (`db_importing.py:48-50`). */
  val LatMin = 40.478245113529454
  val LatMax = 40.98852055760176
  val LonMin = -74.25383719445274
  val LonMax = -73.59127683334592

  /** `db_importing.py:11-14` */
  val userTypes: Map[String, String] =
    Map("member" -> "subscriber", "casual" -> "customer")

  /** `db_importing.py:16-21` */
  val stationBlacklist: Seq[String] = Seq(
    "8D QC Station 01", "SSP - Basement",
    "NYCBS Depot - STY - Valet Scan",
    "333 Johnson TEST 1", "8D Mobile 01",
    "8D OPS 01")

  /** Timestamp formats accepted by the reference's CSV reader
    * (`clean_up.py:47-52`) plus ISO for modern files (Arrow's default). */
  val timestampFormats: Seq[String] = Seq(
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm",
    "yyyy-MM-dd HH:mm:ss.SSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm")
}
