package graft.engine

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.SparkSpec
import graft.engine.builders.DockMap
import org.apache.spark.sql.functions._

/** End-to-end incremental pipeline: synthetic monthly zips (legacy +
  * modern header generations, nested zip, macOS junk) -> warehouse
  * tables -> idempotent re-run -> incremental second month. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def zipBytes(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      z.putNextEntry(new ZipEntry(name)); z.write(bytes); z.closeEntry()
    }
    z.close(); bos.toByteArray
  }

  private def s(x: String) = x.getBytes(StandardCharsets.UTF_8)

  val modernHeader = "ride_id,rideable_type,started_at,ended_at,start_station_name,start_station_id,end_station_name,end_station_id,start_lat,start_lng,end_lat,end_lng,member_casual"

  def modernCsv(rows: String*): Array[Byte] = s((modernHeader +: rows).mkString("\n"))

  val janCsv: Array[Byte] = modernCsv(
    "R1,classic_bike,2021-01-05 08:00:00,2021-01-05 08:10:00,A,1,B,2,40.7,-73.95,40.8,-73.96,member",
    "R2,classic_bike,2021-01-05 09:00:00,2021-01-05 09:10:00,A,1,B,2,40.7,-73.95,40.8,-73.96,member",
    "R3,electric_bike,2021-01-06 10:00:00,2021-01-06 10:20:00,B,2,A,1,40.8,-73.96,40.7,-73.95,casual")

  val febCsv: Array[Byte] = modernCsv(
    "R4,classic_bike,2021-02-01 08:30:00,2021-02-01 08:40:00,A,1,B,2,40.7,-73.95,40.8,-73.96,casual")

  test("driver-side and distributed ingest produce identical normalized rows") {
    val in = tmpDir("ingest-eq")
    // nested zip + junk + a legacy-header member with quoted commas
    val legacyHdr = "tripduration,starttime,stoptime,start station id,start station name,start station latitude,start station longitude,end station id,end station name,end station latitude,end station longitude,bikeid,usertype,birth year,gender"
    val legacyCsv = (legacyHdr + "\n" +
      "600,10/01/2014 00:00:01,10/01/2014 00:10:01,101,\"Alpha, St\",40.7,-73.95,102,Beta Av,40.8,-73.96,555,Subscriber,1980,1\n" +
      "300,10/02/2014 09:30,10/02/2014 09:35,102,Beta Av,40.8,-73.96,101,\"Alpha, St\",40.7,-73.95,556,Customer,,2")
      .getBytes(StandardCharsets.UTF_8)
    val zip = zipBytes(
      "__MACOSX/._x.csv" -> s("junk"),
      "inner.zip" -> zipBytes("2014-10.csv" -> legacyCsv),
      "202101-modern.csv" -> janCsv)
    new FileOutputStream(s"$in/2014-citibike-tripdata.zip").write(zip)
    val a = Ingest.listArchives(in).head
    val driver = Ingest.readArchive(spark, a)
    val dist = Ingest.readArchiveDistributed(spark, a)
    assert(driver.schema == dist.schema)
    val key = driver.columns.map(col)
    assert(driver.orderBy(key.toIndexedSeq: _*).collect().toSeq ==
      dist.orderBy(key.toIndexedSeq: _*).collect().toSeq)
  }

  test("archives without CSV members fail fast instead of loading zero rows") {
    val in = tmpDir("empty-arch")
    new FileOutputStream(s"$in/202101-citibike-tripdata.zip")
      .write(zipBytes("readme.txt" -> s("nothing here")))
    val a = Ingest.listArchives(in).head
    intercept[IllegalArgumentException](Ingest.readArchiveDistributed(spark, a))
    intercept[IllegalArgumentException](Ingest.readArchive(spark, a))
  }

  test("pipeline: load, idempotent re-run, incremental month, junk entries") {
    val in = tmpDir("pipe-in")
    val wh = tmpDir("pipe-wh")
    // jan archive: csv nested inside an inner zip + macOS junk entries
    val inner = zipBytes("202101-citibike-tripdata_1.csv" -> janCsv)
    val janZip = zipBytes(
      "__MACOSX/._junk.csv" -> s("junk"),
      "._hidden.csv" -> s("junk"),
      "202101.zip" -> inner)
    new FileOutputStream(s"$in/202101-citibike-tripdata.zip").write(janZip)
    // a non-matching file that must be ignored (S2 filter)
    new FileOutputStream(s"$in/JC-202101-citibike-tripdata.csv.zip")
      .write(zipBytes("x.csv" -> janCsv))

    assert(CitibikePipeline.run(spark, in, wh) == 1)

    val lg = TableStore.read(spark, wh, "LineGraphTable").collect()
    assert(lg.length == 1)
    assert(lg(0).getAs[Int]("subscriber_count") == 2)
    assert(lg(0).getAs[Int]("customer_count") == 1)

    val hm = TableStore.read(spark, wh, "HeatMapTable")
    assert(hm.count() == 3) // hours 8, 9, 10
    assert(hm.agg(sum("total_count")).as[Long].head() == 3)

    val tt = TableStore.read(spark, wh, "TripTable")
    assert(tt.count() == 2) // A->B (2 trips), B->A (1)
    assert(tt.filter($"from_station" === "A").select("trip_count").as[Int].head() == 2)

    val status = TableStore.read(spark, wh, "StatusDataTable").collect()
    assert(status.length == 1 && status(0).getAs[Int]("month") == 1
      && !status(0).getAs[Boolean]("complete"))

    // idempotent: re-run loads nothing, tables unchanged
    assert(CitibikePipeline.run(spark, in, wh) == 0)
    assert(TableStore.read(spark, wh, "HeatMapTable").agg(sum("total_count"))
      .as[Long].head() == 3)

    // incremental second month
    new FileOutputStream(s"$in/202102-citibike-tripdata.zip")
      .write(zipBytes("202102-citibike-tripdata.csv" -> febCsv))
    assert(CitibikePipeline.run(spark, in, wh) == 1)

    val lg2 = TableStore.read(spark, wh, "LineGraphTable")
    assert(lg2.count() == 2) // linegraph appends per-month rows
    val tt2 = TableStore.read(spark, wh, "TripTable")
      .filter($"from_station" === "A" && $"to_station" === "B")
    assert(tt2.select("trip_count").as[Int].head() == 3) // 2 + 1 merged

    val dock = DockMap.fromStorage(TableStore.read(spark, wh, "DockTable"))
    val a = dock.filter($"station_name" === "A").collect()(0)
    val months = a.getAs[Map[String, org.apache.spark.sql.Row]]("station_data")("2021")
      .getAs[Map[String, org.apache.spark.sql.Row]]("months")
    assert(months.keySet == Set("Jan", "Feb"))

    val status2 = TableStore.read(spark, wh, "StatusDataTable").collect()
    assert(status2.length == 1 && status2(0).getAs[Int]("month") == 2)
  }

  private def rows(wh: String, table: String): Seq[String] = {
    val df = TableStore.read(spark, wh, table)
    df.orderBy(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq
  }

  private val tripTables =
    Seq("LineGraphTable", "HeatMapTable", "TripTable", "DockTable")

  test("an archive Quality drops whole: empty delta, no fact read, tables unchanged") {
    val in = tmpDir("dropped-in")
    // every trip starts in 2020, so the 2021 archives' year filter drops it
    val stale = modernCsv(
      "R8,classic_bike,2020-12-31 23:50:00,2021-01-01 00:05:00,A,1,B,2,40.7,-73.95,40.8,-73.96,member")
    // on a fresh warehouse there is no ImportedTrips to read
    val fresh = tmpDir("dropped-wh-fresh")
    new FileOutputStream(s"$in/202101-citibike-tripdata.zip")
      .write(zipBytes("202101-citibike-tripdata.csv" -> stale))
    assert(CitibikePipeline.run(spark, in, fresh) == 1)
    tripTables.foreach(t => assert(rows(fresh, t).isEmpty, t))
    assert(builders.StatusData.alreadyLoaded(
      TableStore.read(spark, fresh, "StatusDataTable"), 2021, Some(1)))

    // after a real month, the builders must not read the fact table
    // either: its only file is garbage while the dropped archive loads
    val wh = tmpDir("dropped-wh")
    new FileOutputStream(s"$in/202101-citibike-tripdata.zip")
      .write(zipBytes("202101-citibike-tripdata.csv" -> janCsv))
    assert(CitibikePipeline.run(spark, in, wh) == 1)
    val before = tripTables.map(t => rows(wh, t))
    val factFiles = new java.io.File(s"$wh/ImportedTrips/year=2021/month=Jan")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(factFiles.length == 1)
    val fact = factFiles(0).toPath
    val saved = java.nio.file.Files.readAllBytes(fact)
    java.nio.file.Files.write(fact, s("not parquet"))
    new FileOutputStream(s"$in/202102-citibike-tripdata.zip")
      .write(zipBytes("202102-citibike-tripdata.csv" -> stale))
    try assert(CitibikePipeline.run(spark, in, wh) == 1)
    finally java.nio.file.Files.write(fact, saved)
    assert(tripTables.map(t => rows(wh, t)) == before)
    val status = TableStore.read(spark, wh, "StatusDataTable").collect()
    assert(status.length == 1 && status(0).getAs[Int]("month") == 2)
  }

  test("a stray trip from an earlier month: the delta is exactly the rows the archive wrote") {
    val in = tmpDir("stray-in")
    val wh = tmpDir("stray-wh")
    new FileOutputStream(s"$in/202101-citibike-tripdata.zip")
      .write(zipBytes("202101-citibike-tripdata.csv" -> janCsv))
    assert(CitibikePipeline.run(spark, in, wh) == 1)
    // February's archive also carries one January trip
    new FileOutputStream(s"$in/202102-citibike-tripdata.zip")
      .write(zipBytes("202102-citibike-tripdata.csv" -> modernCsv(
        "R4,classic_bike,2021-02-01 08:30:00,2021-02-01 08:40:00,A,1,B,2,40.7,-73.95,40.8,-73.96,casual",
        "R5,electric_bike,2021-01-31 23:00:00,2021-01-31 23:20:00,B,2,A,1,40.8,-73.96,40.7,-73.95,member")))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    spark.catalog.clearCache()
    assert(CitibikePipeline.run(spark, in, wh) == 1)
    // the write option leaves the session's mode alone; nothing stays cached
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static")
    assert(spark.sharedState.cacheManager.isEmpty)

    // both of the archive's periods reach the tables: 3 + 2 trips
    assert(TableStore.read(spark, wh, "HeatMapTable").agg(sum("total_count"))
      .as[Long].head() == 5)
    val lg = TableStore.read(spark, wh, "LineGraphTable")
      .select($"month", $"subscriber_count", $"customer_count").as[(String, Int, Int)]
      .collect().sorted.toSeq
    assert(lg == Seq(("Feb", 0, 1), ("Jan", 1, 0), ("Jan", 2, 1)))
    val tt = TableStore.read(spark, wh, "TripTable")
      .filter($"from_station" === "B" && $"to_station" === "A")
    assert(tt.select("trip_count").as[Int].head() == 2)
    // the fact write replaced January's partition with the stray trip
    // (the documented overwritePartitions behaviour)
    assert(TableStore.read(spark, wh, "ImportedTrips").count() == 2)
  }
}
