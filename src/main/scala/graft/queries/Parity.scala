package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Manifest, Merge, Tables}

/** One registered query per operator family of SURVEY.md §2, expressed
  * over the driver testdata (TESTDATA.md). Each query has a DuckDB
  * oracle; both sides order deterministically and align column names and
  * types (counts → BIGINT, derived doubles → floor-scaled BIGINT or
  * untouched raw values) so the driver's hash-compare is exact.
  *
  * Capability mapping (FIXTURES.md §B): `events` plays the trips fact
  * table (ts → start_time, user_id → station, event_type → user_type),
  * `lineitem` plays the trip endpoints table, `orders` the period-rich
  * manifest source.
  */
object Parity {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** events with the reference's derived period columns (P7/P8/F1). */
  private def periods(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("props"), col("ts"),
      date_format(col("ts"), "yyyy").as("year"),
      date_format(col("ts"), "MMM").as("month"),
      hour(col("ts")).as("hour"))

  private val periodsSql =
    """SELECT event_id, user_id, event_type, value, props, ts,
      |  strftime(ts, '%Y') AS year, strftime(ts, '%b') AS month,
      |  CAST(strftime(ts, '%H') AS INT) AS hour FROM events""".stripMargin

  val queries: Seq[Q] = Seq(

    // ── A1 + P7 + F1/F3: grouped conditional counts (linegraph) ──────
    Q("q01_linegraph", "A1 P7 F1 F3",
      s"""WITH p AS ($periodsSql)
        |SELECT year, month,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS subscriber_count,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS customer_count
        |FROM p GROUP BY year, month ORDER BY year, month""".stripMargin,
      (s, dir) => periods(s, dir)
        .groupBy("year", "month")
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("subscriber_count"),
          count(when(col("event_type") === "signup", 1)).as("customer_count"))
        .orderBy("year", "month")),

    // ── A2 + P8: grouped count over (year, month, hour) (heatmap) ────
    Q("q02_heatmap", "A2 P8 F1",
      s"""WITH p AS ($periodsSql)
        |SELECT year, month, hour, CAST(count(*) AS BIGINT) AS total_count
        |FROM p GROUP BY year, month, hour ORDER BY year, month, hour""".stripMargin,
      (s, dir) => periods(s, dir)
        .groupBy("year", "month", "hour")
        .agg(count(lit(1)).as("total_count"))
        .orderBy("year", "month", "hour")),

    // ── A3 + W1 + O2/O6 + P11: 8-col agg, top-30 per year (tripsmap) ─
    Q("q03_topk_trips", "A3 W1 O2 O6 P11",
      """WITH agg AS (
        |  SELECT strftime(l_shipdate, '%Y') AS year,
        |    l_suppkey AS from_station, l_partkey AS to_station,
        |    CAST(count(*) AS BIGINT) AS trip_count,
        |    min(l_shipdate) AS first_trip
        |  FROM lineitem WHERE l_suppkey <> l_partkey
        |  GROUP BY year, from_station, to_station),
        |r AS (
        |  SELECT year, from_station, to_station, trip_count, first_trip,
        |    CAST(row_number() OVER (PARTITION BY year
        |      ORDER BY trip_count DESC, from_station, to_station) AS INT) AS rn
        |  FROM agg)
        |SELECT * FROM r WHERE rn <= 30 ORDER BY year, rn""".stripMargin,
      (s, dir) => {
        val agg = t(s, dir, "lineitem")
          .filter(col("l_suppkey") =!= col("l_partkey"))
          .groupBy(
            date_format(col("l_shipdate"), "yyyy").as("year"),
            col("l_suppkey").as("from_station"),
            col("l_partkey").as("to_station"))
          .agg(count(lit(1)).as("trip_count"), min(col("l_shipdate")).as("first_trip"))
        val w = Window.partitionBy("year")
          .orderBy(col("trip_count").desc, col("from_station"), col("to_station"))
        agg.withColumn("rn", row_number().over(w).cast("int"))
          .filter(col("rn") <= 30).orderBy("year", "rn")
      }),

    // ── J1 + A4/A5 + F4: full-outer starts⟗ends with COALESCE (dock) ─
    Q("q04_dock_fullouter", "J1 A4 A5 F4",
      s"""WITH p AS ($periodsSql),
        |s AS (SELECT user_id AS station, year, month, count(*) AS n FROM p
        |      WHERE event_type IN ('click', 'view') GROUP BY 1, 2, 3),
        |e AS (SELECT user_id AS station, year, month, count(*) AS n FROM p
        |      WHERE event_type NOT IN ('click', 'view') GROUP BY 1, 2, 3)
        |SELECT station, year, month,
        |  CAST(coalesce(s.n, 0) AS BIGINT) AS starts,
        |  CAST(coalesce(e.n, 0) AS BIGINT) AS ends
        |FROM s FULL JOIN e USING (station, year, month)
        |ORDER BY station, year, month""".stripMargin,
      (s, dir) => {
        val base = periods(s, dir).select(
          col("user_id").as("station"), col("year"), col("month"), col("event_type"))
        val starts = base.filter(col("event_type").isin("click", "view"))
          .groupBy("station", "year", "month").agg(count(lit(1)).as("starts"))
        val ends = base.filter(!col("event_type").isin("click", "view"))
          .groupBy("station", "year", "month").agg(count(lit(1)).as("ends"))
        starts.join(ends, Seq("station", "year", "month"), "full_outer")
          .select(col("station"), col("year"), col("month"),
            coalesce(col("starts"), lit(0L)).as("starts"),
            coalesce(col("ends"), lit(0L)).as("ends"))
          .orderBy("station", "year", "month")
      }),

    // ── A6/A7 + F5: nested JSON aggregation (dock station_data) ──────
    Q("q05_station_profile", "A6 A7 F5 F13",
      s"""WITH p AS ($periodsSql),
        |m AS (SELECT user_id AS station, month, CAST(count(*) AS BIGINT) AS n
        |      FROM p GROUP BY 1, 2)
        |SELECT station,
        |  CAST(to_json(list({'month': month, 'n': n} ORDER BY month, n)) AS VARCHAR) AS station_data,
        |  CAST(sum(n) AS BIGINT) AS total
        |FROM m GROUP BY station ORDER BY station""".stripMargin,
      (s, dir) => periods(s, dir)
        .groupBy(col("user_id").as("station"), col("month"))
        .agg(count(lit(1)).as("n"))
        .groupBy("station")
        .agg(
          to_json(array_sort(collect_list(struct(col("month"), col("n")))))
            .as("station_data"),
          sum(col("n")).as("total"))
        .orderBy("station")),

    // ── J2 + J3 (Merge): full-outer-join upsert rewrite ──────────────
    Q("q06_merge_upsert", "J2 J3 U2",
      s"""WITH p AS ($periodsSql),
        |e AS (SELECT year, month, hour, count(*) AS total_count FROM p
        |      WHERE value < 100 GROUP BY 1, 2, 3),
        |d AS (SELECT year, month, hour, count(*) AS total_count FROM p
        |      WHERE value >= 100 GROUP BY 1, 2, 3)
        |SELECT year, month, hour,
        |  CAST(coalesce(e.total_count, 0) + coalesce(d.total_count, 0) AS BIGINT) AS total_count
        |FROM e FULL JOIN d USING (year, month, hour)
        |ORDER BY year, month, hour""".stripMargin,
      (s, dir) => {
        val p = periods(s, dir)
        val existing = p.filter(col("value") < 100)
          .groupBy("year", "month", "hour").agg(count(lit(1)).as("total_count"))
        val delta = p.filter(col("value") >= 100)
          .groupBy("year", "month", "hour").agg(count(lit(1)).as("total_count"))
        Merge.upsertAdd(existing, delta, Seq("year", "month", "hour"),
            Seq("total_count"))
          .orderBy("year", "month", "hour")
      }),

    // ── J7 (+J5 shape): manifest anti-join, non-equi left-anti ───────
    Q("q07_manifest_antijoin", "J5 J7 A8",
      """WITH cand AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y') AS year,
        |    CAST(strftime(o_orderdate, '%m') AS INT) AS month FROM orders),
        |m AS (SELECT '1993' AS year, 12 AS month, true AS complete
        |      UNION ALL SELECT '1994', 6, false)
        |SELECT year, month FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM m
        |  WHERE m.year = c.year AND (m.complete OR c.month <= m.month))
        |ORDER BY year, month""".stripMargin,
      (s, dir) => {
        import s.implicits._
        val cand = t(s, dir, "orders").select(
            date_format(col("o_orderdate"), "yyyy").as("year"),
            date_format(col("o_orderdate"), "MM").cast("int").as("month"))
          .distinct()
        val manifest = Seq(("1993", 12, true), ("1994", 6, false))
          .toDF("year", "month", "complete")
        Manifest.newPeriods(cand, manifest).orderBy("year", "month")
      }),

    // ── J4 + F4: left join against persisted state with default ──────
    Q("q08_state_left_join", "J4 F4",
      """WITH d AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey)
        |SELECT d.o_custkey, d.n_orders, d.cents,
        |  coalesce(c.c_mktsegment, '{}') AS state
        |FROM d LEFT JOIN customer c ON d.o_custkey = c.c_custkey
        |ORDER BY d.o_custkey""".stripMargin,
      (s, dir) => {
        val d = t(s, dir, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        val c = t(s, dir, "customer")
        d.join(broadcast(c), d("o_custkey") === c("c_custkey"), "left")
          .select(d("o_custkey"), col("n_orders"), col("cents"),
            coalesce(col("c_mktsegment"), lit("{}")).as("state"))
          .orderBy("o_custkey")
      }),

    // ── P5 + F3/F6: conditional lat/lon swap repair (bbox CASE) ──────
    Q("q09_swap_repair", "P5 F3 F6",
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount BETWEEN 0.02 AND 0.05
        |        AND l_tax BETWEEN 0.02 AND 0.05
        |       THEN l_discount ELSE l_tax END AS lat,
        |  CASE WHEN l_discount BETWEEN 0.02 AND 0.05
        |        AND l_tax BETWEEN 0.02 AND 0.05
        |       THEN l_tax ELSE l_discount END AS lon
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
      (s, dir) => {
        val inBox = col("l_discount").between(0.02, 0.05) &&
          col("l_tax").between(0.02, 0.05)
        t(s, dir, "lineitem").select(
            col("l_orderkey"), col("l_linenumber"),
            when(inBox, col("l_discount")).otherwise(col("l_tax")).as("lat"),
            when(inBox, col("l_tax")).otherwise(col("l_discount")).as("lon"))
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // ── P6 + F2: user-type normalization CASE ────────────────────────
    Q("q10_usertype_norm", "P6 F2 F3",
      """SELECT lower(CASE WHEN lower(upper(event_type)) = 'purchase' THEN 'Subscriber'
        |             WHEN lower(upper(event_type)) = 'signup' THEN 'Customer'
        |             ELSE upper(event_type) END) AS user_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      (s, dir) => {
        val raw = upper(col("event_type"))
        t(s, dir, "events").select(
            lower(when(lower(raw) === "purchase", lit("Subscriber"))
              .when(lower(raw) === "signup", lit("Customer"))
              .otherwise(raw)).as("user_type"))
          .groupBy("user_type").agg(count(lit(1)).as("n"))
          .orderBy("user_type")
      }),

    // ── P10 + F7: data-quality row filter (blacklist, nulls, year) ───
    Q("q11_quality_filter", "P10 F7 F6",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE props IS NOT NULL AND value <> 0
        |  AND user_id NOT IN (1, 2, 3) AND event_type <> ''
        |  AND strftime(ts, '%Y') = '2024'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .filter(col("props").isNotNull && col("value") =!= 0 &&
          !col("user_id").isin(1, 2, 3) && col("event_type") =!= "" &&
          date_format(col("ts"), "yyyy") === "2024")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy("event_type")),

    // ── S7 + P4: multi-format timestamp parsing via coalesce chain ───
    Q("q12_multiformat_ts", "S7 P4 F1",
      """WITH raw AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%m/%d/%Y %H:%M:%S')
        |         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS s
        |  FROM events)
        |SELECT event_id,
        |  coalesce(try_strptime(s, '%m/%d/%Y %H:%M:%S'),
        |           try_strptime(s, '%Y-%m-%d %H:%M:%S')) AS parsed
        |FROM raw ORDER BY event_id""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_id") % 2 === 0,
            date_format(col("ts"), "MM/dd/yyyy HH:mm:ss"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("s"))
        .select(col("event_id"),
          coalesce(
            try_to_timestamp(col("s"), lit("MM/dd/yyyy HH:mm:ss")),
            try_to_timestamp(col("s"), lit("yyyy-MM-dd HH:mm:ss"))).as("parsed"))
        .orderBy("event_id")),

    // ── F13: JSON field extraction + aggregation ─────────────────────
    Q("q13_json_extract", "F13 F5",
      """SELECT event_type,
        |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // ── F10: haversine distance (geodesic approx for waypoints) ──────
    Q("q14_haversine", "F10",
      """WITH c AS (
        |  SELECT l_orderkey, l_linenumber,
        |    40.0 + l_discount * 10 AS lat1, -74.0 + l_tax * 10 AS lon1,
        |    40.0 + (l_partkey % 1000) / 1000.0 AS lat2,
        |    -74.0 + (l_suppkey % 1000) / 1000.0 AS lon2
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(2 * 6371.0088 * asin(sqrt(
        |    sin((lat2 - lat1) * 0.008726646259971648) * sin((lat2 - lat1) * 0.008726646259971648)
        |    + cos(lat1 * 0.017453292519943295) * cos(lat2 * 0.017453292519943295)
        |    * sin((lon2 - lon1) * 0.008726646259971648) * sin((lon2 - lon1) * 0.008726646259971648)
        |  )) * 10) AS BIGINT) AS km_x10
        |FROM c ORDER BY l_orderkey, l_linenumber""".stripMargin,
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (lit(40.0) + col("l_discount") * 10).as("lat1"),
          (lit(-74.0) + col("l_tax") * 10).as("lon1"),
          (lit(40.0) + (col("l_partkey") % 1000) / 1000.0).as("lat2"),
          (lit(-74.0) + (col("l_suppkey") % 1000) / 1000.0).as("lon2"))
        val halfRad = 0.008726646259971648 // pi/360, matches oracle literal
        val rad = 0.017453292519943295     // pi/180
        val sLat = sin((col("lat2") - col("lat1")) * halfRad)
        val sLon = sin((col("lon2") - col("lon1")) * halfRad)
        val a = sLat * sLat +
          cos(col("lat1") * rad) * cos(col("lat2") * rad) * sLon * sLon
        li.select(col("l_orderkey"), col("l_linenumber"),
            floor(lit(2) * 6371.0088 * asin(sqrt(a)) * 10).cast("long").as("km_x10"))
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // ── J8 + O3: existence probe with LIMIT 1 ────────────────────────
    Q("q15_exists_probe", "J8 O3",
      "SELECT 1 AS one FROM events WHERE strftime(ts, '%Y') = '2024' LIMIT 1",
      (s, dir) => t(s, dir, "events")
        .filter(date_format(col("ts"), "yyyy") === "2024")
        .select(lit(1).as("one")).limit(1)),

    // ── U1/U2: union of aligned batches then aggregate ───────────────
    Q("q16_union_append", "U1 U2",
      """WITH u AS (
        |  SELECT user_id, 'click' AS src FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, 'view' AS src FROM events WHERE event_type = 'view')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM u
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = ev.filter(col("event_type") === "click")
          .select(col("user_id"), lit("click").as("src"))
        val b = ev.filter(col("event_type") === "view")
          .select(col("user_id"), lit("view").as("src"))
        a.unionByName(b).groupBy("user_id").agg(count(lit(1)).as("n"))
          .orderBy("user_id")
      }),

    // ── A8: DISTINCT projection over derived periods ─────────────────
    Q("q17_distinct_periods", "A8 P7",
      """SELECT DISTINCT strftime(o_orderdate, '%Y') AS year,
        |  strftime(o_orderdate, '%b') AS month
        |FROM orders ORDER BY year, month""".stripMargin,
      (s, dir) => t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy").as("year"),
          date_format(col("o_orderdate"), "MMM").as("month"))
        .distinct().orderBy("year", "month")),

    // ── A4/A5: deterministic representative pickers (min-based) ──────
    Q("q18_station_pickers", "A4 A5",
      """SELECT user_id AS station, min(event_type) AS repr_type,
        |  min(value) AS min_value, max(value) AS max_value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id ORDER BY station""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id").as("station"))
        .agg(min(col("event_type")).as("repr_type"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          count(lit(1)).as("n"))
        .orderBy("station")),

    // ── as-of (point-in-time) join: union + running-window composition
    // vs DuckDB's native ASOF JOIN. Sort-merge shape: one shuffle per
    // side on the key, no range cross-join.
    Q("q40_asof_join", "asof-join (beyond reference; time-series op)",
      """WITH clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purch AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  CAST(round(p.value * 100) AS BIGINT) AS purchase_cents,
        |  CAST(round(c.click_value * 100) AS BIGINT) AS asof_click_cents,
        |  c.ts AS asof_click_ts
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))
          .withColumn("click_ts", col("ts"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        graft.ops.AsOf.asofJoin(purch, clicks, "user_id", "ts",
            Seq("click_value", "click_ts"))
          .select(col("event_id"), col("user_id"),
            round(col("value") * 100).cast("long").as("purchase_cents"),
            round(col("asof_click_value") * 100).cast("long").as("asof_click_cents"),
            col("asof_click_ts"))
          .orderBy("event_id")
      }),

    // ── forward as-of with tolerance: the NEXT click within 45 min of
    // each purchase (pandas merge_asof direction="forward"/tolerance).
    // Tolerance nulls an out-of-range nearest match — equivalent to
    // restricting candidates, since the nearest is checked first.
    Q("q48_asof_forward", "asof-join forward+tolerance (beyond reference)",
      """WITH clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purch AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  CAST(round(p.value * 100) AS BIGINT) AS purchase_cents,
        |  CASE WHEN c.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 45 MINUTE
        |    THEN CAST(round(c.click_value * 100) AS BIGINT) END AS next_click_cents,
        |  CASE WHEN c.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 45 MINUTE
        |    THEN c.ts END AS next_click_ts
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin,
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))
          .withColumn("click_ts", col("ts"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        graft.ops.AsOf.asofJoin(purch, clicks, "user_id", "ts",
            Seq("click_value", "click_ts"),
            direction = "forward",
            toleranceMicros = Some(45L * 60 * 1000000))
          .select(col("event_id"), col("user_id"),
            round(col("value") * 100).cast("long").as("purchase_cents"),
            round(col("asof_click_value") * 100).cast("long").as("next_click_cents"),
            col("asof_click_ts").as("next_click_ts"))
          .orderBy("event_id")
      }),

    // ── sessionization: lag + running conditional sum (gap > 30 min
    // opens a session). Covers lag + ROWS frames — analytic surface the
    // reference never needed but a complete engine must have.
    Q("q41_sessionize", "analytics:sessionize lag frames",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM o)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_id""".stripMargin,
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        // gap at full microsecond precision — cast-to-long truncates to
        // seconds and disagrees with the oracle's INTERVAL comparison
        // exactly at the 30-minute boundary
        val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val o = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("new_s",
            when(lag(col("ts"), 1).over(w).isNull || gap > 30L * 60 * 1000000, 1L)
              .otherwise(0L))
        o.withColumn("session_id",
            sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .groupBy("user_id", "session_id")
          .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id", "session_id")
      }),

    // ── running-frame aggregates + lag delta per user ────────────────
    Q("q42_running_totals", "analytics:frames lag running-sum",
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
        |  CAST(coalesce(CAST(round(value * 100) AS BIGINT) -
        |    lag(CAST(round(value * 100) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), 0) AS BIGINT) AS delta_cents
        |FROM events ORDER BY event_id""".stripMargin,
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val cents = round(col("value") * 100).cast("long")
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), cents.as("cents"))
          .select(col("event_id"), col("user_id"),
            sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).as("running_cents"),
            coalesce(col("cents") - lag(col("cents"), 1).over(w), lit(0L))
              .as("delta_cents"))
          .orderBy("event_id")
      }),

    // ── exact percentiles (interpolated), floor-scaled ───────────────
    Q("q43_percentiles", "analytics:percentiles",
      """SELECT event_type,
        |  CAST(floor(quantile_cont(value, 0.5) * 100) AS BIGINT) AS median_x100,
        |  CAST(floor(quantile_cont(value, 0.9) * 100) AS BIGINT) AS p90_x100,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          floor(expr("percentile(value, 0.5)") * 100).cast("long").as("median_x100"),
          floor(expr("percentile(value, 0.9)") * 100).cast("long").as("p90_x100"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // ── P1-P4: rename / null-pad / project / cast normalization ──────
    Q("q19_normalize", "P1 P2 P3 P4",
      """SELECT event_id, event_type AS user_type,
        |  CAST(NULL AS VARCHAR) AS rideable_type,
        |  CAST(value AS DOUBLE) AS v, CAST(user_id AS VARCHAR) AS station_id
        |FROM events ORDER BY event_id""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          col("event_type").as("user_type"),
          lit(null).cast("string").as("rideable_type"),
          col("value").cast("double").as("v"),
          col("user_id").cast("string").as("station_id"))
        .orderBy("event_id")))
}
