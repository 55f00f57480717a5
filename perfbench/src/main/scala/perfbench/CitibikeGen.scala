package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.util.Random

/** Seeded Citibike trip-archive generator.
  *
  * The pipeline under test sees only the zip files written here. Each
  * archive mixes clean trips with a fixed share of the dirty rows the
  * import stage must drop (blacklisted stations, empty ids, zero
  * latitude, missing coordinates, start times outside the archive
  * year). Coordinates lie in the NYC box, so the modern header's
  * swapped `start_lat`/`start_lng` rename must be undone by the
  * bounding-box repair for the derived tables to come out right.
  *
  * [[Expected]] recomputes the derived tables from the generated trips
  * in plain Scala, without Spark, for the correctness check.
  */
object CitibikeGen {

  final case class Station(name: String, id: String, lat: Double, lon: Double)

  /** One CSV record. Coordinates are geographic; the header generation
    * decides which canonical column each lands in. `None` is an empty
    * field. */
  final case class Trip(start: LocalDateTime, end: LocalDateTime,
                        sName: Option[String], sId: Option[String],
                        eName: Option[String], eId: Option[String],
                        sLat: Option[Double], sLon: Option[Double],
                        eLat: Option[Double], eLon: Option[Double],
                        user: String, rideable: Option[String])

  /** An archive as written: its trips, CSV bytes and zip file. */
  final case class Archive(file: File, year: Int, month: Option[Int],
                           modern: Boolean, trips: IndexedSeq[Trip],
                           csvBytes: Long)

  val Blacklisted: Seq[String] = Seq("8D QC Station 01", "SSP - Basement",
    "NYCBS Depot - STY - Valet Scan", "333 Johnson TEST 1")

  private val streets = Seq("Broadway", "Park Ave", "W 52 St", "E 17 St",
    "Atlantic Ave", "Bedford Ave", "Central Park S", "Greenwich St",
    "Columbus Ave", "Myrtle Ave", "Lexington Ave", "Court St")

  def stations(seed: Long, n: Int): IndexedSeq[Station] = {
    val r = new Random(seed * 7919 + 17)
    (0 until n).map { i =>
      // some names carry a comma, so the CSV reader has to honour quotes
      val sep = if (i % 9 == 0) ", " else " & "
      val name = s"${streets(i % streets.size)}$sep${i / streets.size + 1} Av #$i"
      Station(name, f"${4000 + i}%d.${r.nextInt(100)}%02d",
        40.62 + r.nextDouble() * 0.24, -74.02 + r.nextDouble() * 0.12)
    }
  }

  /** Trips for one month. Station popularity is skewed (a few hubs and
    * commuter routes take most trips, as in the real feed), and about
    * 3% of rows are dirty in a fixed rotation of six kinds. */
  def monthTrips(seed: Long, sts: IndexedSeq[Station], year: Int, month: Int,
                 n: Int, modern: Boolean): IndexedSeq[Trip] = {
    val r = new Random(seed * 1000003L + year * 100 + month)
    val days = java.time.YearMonth.of(year, month).lengthOfMonth()
    def pick(): Int = {
      val u = r.nextDouble()
      (u * u * u * sts.size).toInt
    }
    var dirty = 0
    (0 until n).map { i =>
      val si = pick()
      val s = sts(si)
      val e = sts(if (r.nextDouble() < 0.35) (si * 31 + 7) % sts.size else pick())
      val start = LocalDateTime.of(year, month, 1 + r.nextInt(days),
        r.nextInt(24), r.nextInt(60), r.nextInt(60))
      val end = start.plusSeconds(120 + r.nextInt(3600))
      val user =
        if (modern) (if (r.nextDouble() < 0.8) "member" else "casual")
        else (if (r.nextDouble() < 0.8) "Subscriber" else "Customer")
      val rideable =
        if (!modern) None
        else Some(r.nextDouble() match {
          case u if u < 0.62 => "classic_bike"
          case u if u < 0.97 => "electric_bike"
          case _ => "docked_bike"
        })
      val t = Trip(start, end, Some(s.name), Some(s.id), Some(e.name),
        Some(e.id), Some(s.lat), Some(s.lon), Some(e.lat), Some(e.lon),
        user, rideable)
      if (i % 33 != 5) t
      else {
        dirty += 1
        dirty % 6 match {
          case 0 => t.copy(sName = Some(Blacklisted(dirty % Blacklisted.size)))
          case 1 => t.copy(eName = Some(Blacklisted(dirty % Blacklisted.size)))
          case 2 => t.copy(sId = None)
          // the field that lands in canonical start_station_latitude:
          // the modern header's start_lng (see TripSchema.renameMap)
          case 3 => if (modern) t.copy(sLon = Some(0.0)) else t.copy(sLat = Some(0.0))
          case 4 => t.copy(eLat = None, eLon = None)
          case _ =>
            val early = LocalDateTime.of(year - 1, 12, 31, 23, r.nextInt(60), 0)
            t.copy(start = early, end = early.plusMinutes(30))
        }
      }
    }
  }

  private val legacyTs = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")
  private val modernTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def coord(x: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, x)
  private def num(d: Option[Double]): String = d.map(coord).getOrElse("")

  /** CSV text in the legacy 15-column or the modern 13-column header. */
  def csv(trips: Seq[Trip], modern: Boolean): Array[Byte] = {
    val sb = new java.lang.StringBuilder(trips.size * 200)
    // empty fields stay unquoted so the reader sees null, not ""
    def q(s: Option[String]) = s.map(v => "\"" + v.replace("\"", "\"\"") + "\"").getOrElse("")
    if (modern) {
      sb.append("ride_id,rideable_type,started_at,ended_at,start_station_name," +
        "start_station_id,end_station_name,end_station_id,start_lat,start_lng," +
        "end_lat,end_lng,member_casual\n")
      trips.zipWithIndex.foreach { case (t, i) =>
        sb.append(f"R$i%012X,").append(t.rideable.getOrElse("")).append(',')
          .append(modernTs.format(t.start)).append(',')
          .append(modernTs.format(t.end)).append(',')
          .append(q(t.sName)).append(',').append(t.sId.getOrElse("")).append(',')
          .append(q(t.eName)).append(',').append(t.eId.getOrElse("")).append(',')
          .append(num(t.sLat)).append(',').append(num(t.sLon)).append(',')
          .append(num(t.eLat)).append(',').append(num(t.eLon)).append(',')
          .append(t.user).append('\n')
      }
    } else {
      sb.append("\"tripduration\",\"starttime\",\"stoptime\",\"start station id\"," +
        "\"start station name\",\"start station latitude\",\"start station longitude\"," +
        "\"end station id\",\"end station name\",\"end station latitude\"," +
        "\"end station longitude\",\"bikeid\",\"usertype\",\"birth year\",\"gender\"\n")
      trips.zipWithIndex.foreach { case (t, i) =>
        val dur = java.time.Duration.between(t.start, t.end).getSeconds
        sb.append('"').append(dur).append("\",\"").append(legacyTs.format(t.start))
          .append("\",\"").append(legacyTs.format(t.end)).append("\",")
          .append(q(t.sId)).append(',').append(q(t.sName)).append(',')
          .append(q(t.sLat.map(coord))).append(',')
          .append(q(t.sLon.map(coord))).append(',')
          .append(q(t.eId)).append(',').append(q(t.eName)).append(',')
          .append(q(t.eLat.map(coord))).append(',')
          .append(q(t.eLon.map(coord))).append(',')
          .append('"').append(10000 + i % 30000).append("\",\"").append(t.user)
          .append("\",\"").append(1960 + i % 45).append("\",\"").append(i % 3).append("\"\n")
      }
    }
    sb.toString.getBytes(UTF_8)
  }

  private def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zout = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      zout.putNextEntry(new ZipEntry(name))
      zout.write(bytes)
      zout.closeEntry()
    }
    zout.close()
    bos.toByteArray
  }

  /** macOS resource-fork junk the extractor must skip. */
  private def junk(name: String): (String, Array[Byte]) =
    (s"__MACOSX/._$name", "\u0000\u0005\u0016\u0007 Mac OS X junk".getBytes(UTF_8))

  /** A yearly archive `<year>-citibike-tripdata.zip` holding 12 nested
    * monthly zips plus junk entries. */
  def yearly(dir: File, seed: Long, sts: IndexedSeq[Station], year: Int,
             perMonth: Int, modern: Boolean): Archive = {
    val months = (1 to 12).map(m => m -> monthTrips(seed, sts, year, m, perMonth, modern))
    var csvBytes = 0L
    val inner = months.flatMap { case (m, trips) =>
      val base = f"$year$m%02d-citibike-tripdata"
      val bytes = csv(trips, modern)
      csvBytes += bytes.length
      Seq(s"$year-citibike-tripdata/$base.zip" ->
            zip(Seq(s"$base.csv" -> bytes, junk(s"$base.csv"))),
          junk(s"$base.zip"))
    }
    val f = new File(dir, s"$year-citibike-tripdata.zip")
    dir.mkdirs()
    Files.write(f.toPath, zip(inner))
    Archive(f, year, None, modern, months.flatMap(_._2), csvBytes)
  }

  /** A monthly archive `<yyyymm>-citibike-tripdata.csv.zip`. */
  def monthly(dir: File, seed: Long, sts: IndexedSeq[Station], year: Int,
              month: Int, n: Int, modern: Boolean): Archive = {
    val trips = monthTrips(seed, sts, year, month, n, modern)
    val base = f"$year$month%02d-citibike-tripdata"
    val bytes = csv(trips, modern)
    val f = new File(dir, s"$base.csv.zip")
    dir.mkdirs()
    Files.write(f.toPath, zip(Seq(s"$base.csv" -> bytes, junk(s"$base.csv"))))
    Archive(f, year, Some(month), modern, trips, bytes.length)
  }
}
