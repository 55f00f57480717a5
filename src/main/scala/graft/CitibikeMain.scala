package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{CitibikePipeline, TableStore}

/** CLI entry mirroring the reference's `python -m citibike_data_process`
  * (`main.py:27-43`): discover new trip archives in a directory,
  * incrementally load them, and upsert the five derived tables.
  *
  * Usage: graft.CitibikeMain <archiveDir> <warehouseDir> [threads]
  *
  * Prints one JSON line: the archives this run loaded, the rows the
  * warehouse's ImportedTrips fact table holds afterwards, and the
  * seconds the load took, e.g.
  * `{"archives_loaded":1,"imported_trips_rows":38912,"seconds":9.412}`.
  *
  * The reference's remote modes (S3 listing/download/publish,
  * `--read-remote`/`--make-remote`/`--file-remote`) map to pointing
  * these paths at s3a:// URIs with the hadoop-aws connector on the
  * classpath — the pipeline itself is path-scheme agnostic; this
  * zero-egress build only exercises local paths.
  */
object CitibikeMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.CitibikeMain <archiveDir> <warehouseDir> [threads]")
    val threads = if (args.length > 2) args(2) else
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("citibike-graft")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val n = CitibikePipeline.run(spark, args(0), args(1))
    val seconds = (System.nanoTime() - t0) / 1e9
    val rows = if (TableStore.exists(spark, args(1), "ImportedTrips"))
      TableStore.read(spark, args(1), "ImportedTrips").count() else 0L
    println("{\"archives_loaded\":%d,\"imported_trips_rows\":%d,\"seconds\":%.3f}"
      .formatLocal(java.util.Locale.ROOT, n, rows, seconds))
    spark.stop()
  }
}
