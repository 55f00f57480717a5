package perfbench

import perfbench.CitibikeGen.{Archive, Trip}

/** The warehouse the pipeline should hold after a sequence of archive
  * loads, recomputed from the generated trips in plain Scala.
  *
  * The import rules (row filter, user-type mapping, period columns)
  * and the merge laws of the five derived tables are restated here
  * from the reference semantics, not called from the program, so a
  * change to the program's rules shows up as a mismatch.
  */
final case class Expected(
    kept: Long,
    lineGraph: Vector[(String, String, Long, Long)],
    heatMap: Map[(String, String, Int), Long],
    dockStarts: Map[(String, String, String), Long],
    tripTable: Map[Expected.TripKey, Long],
    tripTies: Vector[(Seq[Expected.TripKey], Int, Long)],
    status: Map[Int, (Option[Int], Boolean)]) {

  import Expected._

  def load(a: Archive): Expected = {
    val rows = a.trips.filter(keep(_, a.year, a.modern))
    def by[K](f: Trip => K): Map[K, Long] =
      rows.groupBy(f).map { case (k, v) => k -> v.size.toLong }

    val lg = by(t => (year(t), month(t))).keys.toVector.sorted.map { case k @ (y, m) =>
      val ofMonth = rows.filter(t => (year(t), month(t)) == k)
      (y, m, ofMonth.count(t => userType(t) == "subscriber").toLong,
        ofMonth.count(t => userType(t) == "customer").toLong)
    }
    val hm = by(t => (year(t), month(t), t.start.getHour))
    val starts = by(t => (t.sName.get, year(t), month(t)))
    val ends = by(t => (t.eName.get, year(t), month(t)))
    val dock = (starts.keySet ++ ends.keySet).map(k => k -> starts.getOrElse(k, 0L))

    // TripsMap: top 30 (year, rideable, from, to) groups per year of
    // this archive by (count desc, from, to), then an additive merge
    // into the stored table. That order does not rank the rideable
    // types of one route against each other, so when ranks 30 and 31
    // tie on all three keys the data does not decide which is kept:
    // the tied rows become a choice the check accepts either way.
    val groups = rows.filter(t => t.sName != t.eName)
      .groupBy(t => (year(t), t.rideable, t.sName.get, t.eName.get))
      .map { case (k, v) => k -> v.size.toLong }
    var trips = tripTable
    var ties = tripTies
    groups.groupBy(_._1._1).foreach { case (_, g) =>
      def rank(x: (TripKey, Long)) = (x._2, x._1._3, x._1._4)
      val sorted = g.toVector.sortBy { case ((_, _, from, to), n) => (-n, from, to) }
      val sure =
        if (sorted.size > 30 && rank(sorted(29)) == rank(sorted(30))) {
          val cut = rank(sorted(29))
          val before = sorted.takeWhile(rank(_) != cut)
          ties :+= ((sorted.filter(rank(_) == cut).map(_._1), 30 - before.size, cut._1))
          before
        } else sorted.take(30)
      trips = sure.foldLeft(trips) { case (acc, (k, n)) => acc.updated(k, acc.getOrElse(k, 0L) + n) }
    }
    Expected(
      kept + rows.size,
      lineGraph ++ lg,
      hm.foldLeft(heatMap) { case (acc, (k, n)) => acc.updated(k, acc.getOrElse(k, 0L) + n) },
      dockStarts ++ dock,
      trips,
      ties,
      status.updated(a.year, (a.month, a.month.isEmpty)))
  }
}

object Expected {
  /** (year, rideable_type, from_station, to_station) */
  type TripKey = (String, Option[String], String, String)

  val empty: Expected =
    Expected(0L, Vector.empty, Map.empty, Map.empty, Map.empty, Vector.empty, Map.empty)

  /** Every TripTable the data allows: the sure rows plus, for each
    * undetermined top-30 cut (tied candidates, how many were kept,
    * their count), one choice of the kept candidates. */
  def tripTables(e: Expected): Seq[Map[TripKey, Long]] =
    e.tripTies.foldLeft(Seq(e.tripTable)) { case (tables, (cands, k, n)) =>
      for (t <- tables; pick <- cands.combinations(k).toSeq)
        yield pick.foldLeft(t)((acc, key) => acc.updated(key, acc.getOrElse(key, 0L) + n))
    }

  private val blacklist = Set("8D QC Station 01", "SSP - Basement",
    "NYCBS Depot - STY - Valet Scan", "333 Johnson TEST 1", "8D Mobile 01",
    "8D OPS 01")
  val monthNames: IndexedSeq[String] = IndexedSeq("Jan", "Feb", "Mar", "Apr",
    "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  def year(t: Trip): String = f"${t.start.getYear}%04d"
  def month(t: Trip): String = monthNames(t.start.getMonthValue - 1)

  def userType(t: Trip): String = t.user.toLowerCase match {
    case "member" => "subscriber"
    case "casual" => "customer"
    case other => other
  }

  /** (latitude, longitude) columns as the reader sees them: the modern
    * header maps start_lng to the latitude column and start_lat to the
    * longitude column. */
  def rawStart(t: Trip, modern: Boolean): (Option[Double], Option[Double]) =
    if (modern) (t.sLon, t.sLat) else (t.sLat, t.sLon)

  /** The import filter, on raw (pre-repair) columns. */
  def keep(t: Trip, archiveYear: Int, modern: Boolean): Boolean = {
    val (sLat, sLon) = rawStart(t, modern)
    t.sName.exists(_.nonEmpty) && t.sId.exists(_.nonEmpty) &&
      sLat.exists(_ != 0) && t.eLat.exists(_ != 0) &&
      !t.sName.exists(blacklist) && t.eName.exists(n => !blacklist(n)) &&
      sLon.isDefined && t.eLon.isDefined &&
      t.start.getYear == archiveYear
  }
}
