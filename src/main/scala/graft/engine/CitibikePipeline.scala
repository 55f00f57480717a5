package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.engine.builders._

/** The full incremental pipeline (§3.1 of SURVEY.md): discover archives,
  * skip already-loaded periods via the manifest, normalize + repair each
  * archive, and upsert the five derived tables in the warehouse.
  *
  * Per archive, `zip -> csv -> Normalize -> Quality` streams once into
  * the staged ImportedTrips partitions. The four trip tables are then
  * derived from exactly those staged partitions (the reference's
  * updates read the staging `ImportedTable`, `db_importing.py:93-96`):
  * each builder's scan reads only its own columns, and nothing is
  * cached. All six table writes of an archive are published in one
  * [[TableStore]] commit.
  */
object CitibikePipeline {

  val lineGraphSchema: StructType = StructType(Seq(
    StructField("year", StringType), StructField("month", StringType),
    StructField("subscriber_count", IntegerType),
    StructField("customer_count", IntegerType)))

  val heatMapSchema: StructType = StructType(Seq(
    StructField("year", StringType), StructField("month", StringType),
    StructField("hour", IntegerType), StructField("total_count", IntegerType)))

  val tripTableSchema: StructType = StructType(Seq(
    StructField("year", StringType), StructField("rideable_type", StringType),
    StructField("from_station", StringType), StructField("to_station", StringType),
    StructField("trip_count", IntegerType), StructField("waypoints", StringType)))

  val dockTableSchema: StructType = StructType(Seq(
    StructField("station_name", StringType), StructField("station_id", StringType),
    StructField("station_lat", FloatType), StructField("station_lon", FloatType),
    StructField("station_data", StringType)))

  /** Process every new archive in `inputDir` into `warehouse`. Returns
    * the number of archives loaded.
    *
    * Failure model: each archive's six table writes (its ImportedTrips
    * partitions, the four trip tables and the manifest) are one
    * [[TableStore]] commit. A crash before the commit point leaves all
    * six tables as they were before the archive. A crash after it can
    * leave some of them replaced and others not until the next `run`,
    * which first finishes any commit it finds, so it then equals a run
    * that never crashed. (The reference updates its tables with one SQL
    * statement after another on a single DuckDB file.) */
  def run(spark: SparkSession, inputDir: String, warehouse: String,
          provider: Waypoints.RouteProvider = Waypoints.StraightLineRoutes): Int = {
    TableStore.finishCommits(spark, warehouse)
    val archives = Ingest.listArchives(inputDir,
      spark.sparkContext.hadoopConfiguration)
    val manifest = TableStore.readOrEmpty(spark, warehouse, "StatusDataTable",
      StatusData.schema)
    // Manifest is tiny — one decision per archive on the driver (J7/J8).
    val newOnes = archives.filterNot(a =>
      StatusData.alreadyLoaded(manifest, a.year.toInt, a.month.map(_.toInt)))
    newOnes.foreach { a =>
      stage(spark, a, warehouse, provider)
      TableStore.finishCommits(spark, warehouse)
    }
    newOnes.size
  }

  /** Stage the archive's six table writes and write their commit
    * marker: everything up to and including the commit point. The
    * trip tables merge a delta read from the staged partitions as one
    * input partition, one task per archive as in ingest: Spark's
    * default split of a year's 12 monthly files runs several
    * partial-aggregate tasks at once, each holding its own aggregation
    * memory. */
  private[engine] def stage(spark: SparkSession, a: Ingest.Archive, wh: String,
                            provider: Waypoints.RouteProvider): Unit = {
    val imported = Quality.importTrips(Ingest.readArchiveDistributed(spark, a), a.year)
    // the canonical fact table, partitioned for per-period pruning
    // (replaces the reference's (year, month) ART index, S12)
    val fact = TableStore.stage(imported, wh, "ImportedTrips", Seq("year", "month"))
    val delta = TableStore.readStaged(spark, wh, fact.name, imported.schema).coalesce(1)
    def merged(name: String, schema: StructType)(merge: DataFrame => DataFrame) =
      TableStore.stage(merge(TableStore.readOrEmpty(spark, wh, name, schema)), wh, name, Nil)
    val tables = Seq(
      merged("LineGraphTable", lineGraphSchema)(LineGraph.merge(_, LineGraph.build(delta))),
      merged("HeatMapTable", heatMapSchema)(HeatMap.merge(_, HeatMap.build(delta))),
      merged("TripTable", tripTableSchema)(TripsMap.merge(_, TripsMap.build(delta, provider))),
      merged("DockTable", dockTableSchema)(t => DockMap.toStorage(
        DockMap.merge(DockMap.fromStorage(t), DockMap.build(delta)))),
      merged("StatusDataTable", StatusData.schema)(
        StatusData.markLoaded(_, a.year.toInt, a.month.map(_.toInt))))
    TableStore.writeMarker(spark, wh, fact +: tables)
  }
}
