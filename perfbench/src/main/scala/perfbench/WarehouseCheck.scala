package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.TableStore

/** Correctness of a Citibike warehouse, checked outside the timed
  * region: the derived tables against [[Expected]], and a digest of all
  * six tables that must be equal wherever the same archives were
  * loaded. */
object WarehouseCheck {

  val tables: Seq[String] = Seq("ImportedTrips", "LineGraphTable",
    "HeatMapTable", "TripTable", "DockTable", "StatusDataTable")

  private val stationDataSchema = org.apache.spark.sql.types.DataType.fromDDL(
    "MAP<STRING, STRUCT<year_starts: BIGINT, year_ends: BIGINT, " +
      "months: MAP<STRING, STRUCT<month_total: BIGINT, month_starts: BIGINT, " +
      "month_ends: BIGINT>>>>")

  private def read(spark: SparkSession, wh: String, name: String): DataFrame =
    TableStore.read(spark, wh, name)

  /** Order-independent digest: per table the row count and the sum of
    * a 64-bit hash of every row, columns taken in name order. */
  def digest(spark: SparkSession, wh: String): String =
    tables.map { t =>
      val df = read(spark, wh, t)
      val cols = df.columns.sorted.map(col).toIndexedSeq
      val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      s"$t:${r.getLong(0)}:${r.get(1)}"
    }.mkString(";")

  /** Problems found, empty when the warehouse matches. `stations` maps
    * a station name to its geographic (lat, lon). */
  def compare(spark: SparkSession, wh: String, exp: Expected,
              stations: Map[String, (Double, Double)]): Seq[String] = {
    val out = Seq.newBuilder[String]
    def diff[K, V](table: String, got: Map[K, V], want: Map[K, V]): Unit = {
      val bad = (got.keySet ++ want.keySet).toSeq
        .filter(k => got.get(k) != want.get(k)).take(3)
      if (bad.nonEmpty) out += s"$table differs from the expected values at " +
        bad.map(k => s"$k: got ${got.get(k)}, want ${want.get(k)}").mkString("; ")
    }

    val kept = read(spark, wh, "ImportedTrips").count()
    if (kept != exp.kept) out += s"ImportedTrips has $kept rows, want ${exp.kept}"

    val lg = read(spark, wh, "LineGraphTable").collect().toSeq.map(r =>
      (r.getString(r.fieldIndex("year")), r.getString(r.fieldIndex("month")),
        r.getInt(r.fieldIndex("subscriber_count")).toLong,
        r.getInt(r.fieldIndex("customer_count")).toLong)).sorted
    if (lg != exp.lineGraph.sorted)
      out += s"LineGraphTable differs: got ${lg.take(3)}..., want ${exp.lineGraph.sorted.take(3)}..."

    diff("HeatMapTable", read(spark, wh, "HeatMapTable").collect().map(r =>
      (r.getString(r.fieldIndex("year")), r.getString(r.fieldIndex("month")),
        r.getInt(r.fieldIndex("hour"))) -> r.getInt(r.fieldIndex("total_count")).toLong).toMap,
      exp.heatMap)

    val dock = read(spark, wh, "DockTable")
    val dockRows = dock.select(col("station_name"),
        explode(from_json(col("station_data"), stationDataSchema)).as(Seq("year", "ys")))
      .select(col("station_name"), col("year"), explode(col("ys.months")).as(Seq("month", "ms")))
      .select(col("station_name"), col("year"), col("month"), col("ms.month_starts"))
      .collect()
    diff("DockTable month_starts", dockRows.map(r =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap, exp.dockStarts)
    // coordinates come out of the bounding-box swap repair
    dock.select("station_name", "station_lat", "station_lon").collect().foreach { r =>
      stations.get(r.getString(0)) match {
        case Some((lat, lon)) if math.abs(r.getFloat(1) - lat) < 1e-4 &&
          math.abs(r.getFloat(2) - lon) < 1e-4 =>
        case want => out += s"DockTable ${r.getString(0)} at (${r.getFloat(1)}, " +
          s"${r.getFloat(2)}), want $want"
      }
    }

    val trips = read(spark, wh, "TripTable").collect().map(r =>
      (r.getString(r.fieldIndex("year")), Option(r.getString(r.fieldIndex("rideable_type"))),
        r.getString(r.fieldIndex("from_station")), r.getString(r.fieldIndex("to_station"))) ->
        r.getInt(r.fieldIndex("trip_count")).toLong).toMap
    val allowed = Expected.tripTables(exp)
    if (!allowed.contains(trips)) diff("TripTable", trips, allowed.head)

    diff("StatusDataTable", read(spark, wh, "StatusDataTable").collect().map { r =>
      val m = r.fieldIndex("month")
      r.getInt(r.fieldIndex("year")) ->
        (if (r.isNullAt(m)) None else Some(r.getInt(m)), r.getBoolean(r.fieldIndex("complete")))
    }.toMap, exp.status)
    out.result()
  }
}
