package graft.engine

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** P1-P6, P10, S7 against the historical header variants (FIXTURES.md §A1).
  * Each fixture goes through the shipped ingest: its CSV lines are
  * zipped into an archive and read with [[Ingest.readArchiveDistributed]]. */
class NormalizeQualitySpec extends SparkSpec {
  import spark.implicits._

  private def csvDf(name: String, lines: String*): DataFrame = {
    val dir = tmpDir(s"normalize-$name")
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry(s"$name.csv"))
    z.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    z.closeEntry(); z.close()
    val path = s"$dir/$name.zip"
    val out = new FileOutputStream(path)
    try out.write(bos.toByteArray) finally out.close()
    Ingest.readArchiveDistributed(spark, Ingest.Archive(path, name.take(4), None))
  }

  val legacy: DataFrame = csvDf("2014-legacy",
    "tripduration,starttime,stoptime,start station id,start station name,start station latitude,start station longitude,end station id,end station name,end station latitude,end station longitude,bikeid,usertype,birth year,gender",
    "600,10/01/2014 00:00:01,10/01/2014 00:10:01,101,Alpha St,40.7,-73.95,102,Beta Av,40.8,-73.96,555,Subscriber,1980,1",
    "300,10/02/2014 09:30,10/02/2014 09:35,102,Beta Av,40.8,-73.96,101,Alpha St,40.7,-73.95,556,Customer,1990,2")

  val modern: DataFrame = csvDf("2021-modern",
    "ride_id,rideable_type,started_at,ended_at,start_station_name,start_station_id,end_station_name,end_station_id,start_lat,start_lng,end_lat,end_lng,member_casual",
    "R1,classic_bike,2021-02-01 08:30:00,2021-02-01 08:45:00,Alpha St,101,Beta Av,102,40.7,-73.95,40.8,-73.96,member",
    "R2,electric_bike,2021-02-02 17:00:00,2021-02-02 17:20:00,Gamma Rd,103,Alpha St,101,34.0,-118.2,40.7,-73.95,casual")

  test("legacy header: rename, project, cast, multi-format timestamps") {
    assert(legacy.columns.toSeq == TripSchema.canonical.fieldNames.toSeq)
    val rows = legacy.orderBy("start_time").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.sql.Timestamp]("start_time").toString
      == "2014-10-01 00:00:01.0")
    // %H:%M variant (no seconds) parses via the second format
    assert(rows(1).getAs[java.sql.Timestamp]("start_time").toString
      == "2014-10-02 09:30:00.0")
    assert(rows(0).getAs[String]("user_type") == "Subscriber")
    assert(rows(0).getAs[Double]("start_station_latitude") == 40.7)
    // rideable_type absent in legacy -> null-padded
    assert(rows(0).getAs[String]("rideable_type") == null)
  }

  test("modern header: lat/lng land swapped (reference quirk) then repair un-swaps NYC coords") {
    // the quirk: start_lat (40.7) lands in start_station_longitude
    val raw = modern.filter($"start_station_id" === "101").collect()(0)
    assert(raw.getAs[Double]("start_station_longitude") == 40.7)
    assert(raw.getAs[Double]("start_station_latitude") == -73.95)
    // swap repair restores them (NYC bbox row)
    val fixed = Quality.swapRepair(modern).filter($"start_station_id" === "101").collect()(0)
    assert(fixed.getAs[Double]("start_station_latitude") == 40.7)
    assert(fixed.getAs[Double]("start_station_longitude") == -73.95)
    // out-of-bbox row (LA coords) keeps the swapped values (ELSE branch swaps again)
    val la = Quality.swapRepair(modern).filter($"start_station_id" === "103").collect()(0)
    assert(la.getAs[Double]("start_station_latitude") == 34.0)
    assert(la.getAs[Double]("start_station_longitude") == -118.2)
  }

  test("user-type normalization: member/casual map, others lowercase") {
    val df = Seq("member", "casual", "Subscriber", "CUSTOMER")
      .toDF("user_type")
    val got = Quality.normalizeUserType(df).as[String].collect().toSeq
    assert(got == Seq("subscriber", "customer", "subscriber", "customer"))
  }

  test("quality filter: empties, zeros, blacklist, nulls, wrong-year rows drop") {
    val ok = Quality.qualityFilter(modern, "2021")
    assert(ok.count() == 2)
    assert(Quality.qualityFilter(modern, "2020").count() == 0) // late-data policy
    val bl = csvDf("2021-blacklist",
      "ride_id,rideable_type,started_at,ended_at,start_station_name,start_station_id,end_station_name,end_station_id,start_lat,start_lng,end_lat,end_lng,member_casual",
      "R3,classic_bike,2021-02-01 08:30:00,2021-02-01 08:45:00,8D QC Station 01,101,Beta Av,102,40.7,-73.95,40.8,-73.96,member",
      "R4,classic_bike,2021-02-01 08:30:00,2021-02-01 08:45:00,,101,Beta Av,102,40.7,-73.95,40.8,-73.96,member",
      "R5,classic_bike,2021-02-01 08:30:00,2021-02-01 08:45:00,Alpha St,101,Beta Av,102,,,40.8,-73.96,member",
      // a quoted empty name stays "" through the parse and drops too
      "R6,classic_bike,2021-02-01 08:30:00,2021-02-01 08:45:00,\"\",101,Beta Av,102,40.7,-73.95,40.8,-73.96,member")
    assert(bl.count() == 4)
    assert(Quality.qualityFilter(bl, "2021").count() == 0)
  }

  test("importTrips derives year and English month name") {
    val imp = Quality.importTrips(modern, "2021")
    val r = imp.select("year", "month").distinct().collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSet == Set(("2021", "Feb")))
  }
}
