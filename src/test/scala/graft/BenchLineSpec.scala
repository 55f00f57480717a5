package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver tail-captures ~2000 chars of stdout and json-parses the
  * LAST line — round 7's bench went `parsed: null` when the probes
  * object rode on the compact line past that window, and the observed
  * capture also carries trailing noise (an sbt `[success]` trailer,
  * ~75 bytes), so the line budget is [[Bench.LineBudget]] (1850), not
  * 2000. These tests pin the output contract against registry growth,
  * without a Spark session (pure string math). */
class BenchLineSpec extends AnyFunSuite {

  private def fakeResults(n: Int): Seq[(String, Bench.Probe)] =
    (0 until n).map { i =>
      (f"q$i%02d_some_long_query_name_x", Bench.Probe(123.456, 123.789,
        Some(123.5)))
    }

  test("compact line for the REAL registry plus growth headroom stays " +
    "inside the driver's tail window") {
    // every actual query name, worst realistic per-query time (two
    // digits of seconds), plus five future queries of the current
    // maximum name width — the ladder's final level keeps only the
    // TopKFallback slowest queries, so the line is bounded for ANY
    // registry size (the previous final level still emitted every
    // query and outgrew the window at ~77)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val widest = names.map(_.length).max
    val grown = names ++ (0 until 5).map(i => s"q9$i" + "_x" * ((widest - 3) / 2))
    val rs = grown.map((_, Bench.Probe(99.99, 99.99, None)))
    val line = Bench.compactLine(rs, "/root/testdata/sf0.1")
    assert(line.length < Bench.LineBudget, s"compact line ${line.length} " +
      s"bytes at ${grown.size} queries — over the ${Bench.LineBudget} budget")
    assert(!line.contains("probes"), "probes must never ride the compact line")
    // whichever truncating level the ladder lands on (dec1 top-48 or
    // the integer top-32 fallback), the line must account for every
    // query: shown entries + the omitted count = the registry
    val om = """"omitted":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
    val shown = (""""q[0-9A-Za-z_]+":""".r.findAllIn(line).length
      - 1) // minus the "queries" key itself, which the regex also matches
    assert(om.isDefined, s"truncating level must count omissions: $line")
    assert(om.get + shown == grown.size,
      s"shown=$shown omitted=${om.get} of ${grown.size}: $line")
    // at today's registry size with realistic times, the per-query
    // values keep at least ONE decimal (dec2 outgrew the budget at 72
    // queries — measured 1913 vs 1841 — so full 2-decimal precision
    // now lives only in the probes line / out-file)
    val today = SparkEntry.queries.keys.toSeq.sorted
      .map((_, Bench.Probe(2.34, 2.41, None)))
    assert(Bench.compactLine(today, "/root/testdata/sf0.1")
      .contains("\":2.3"), "premature precision degradation")
  }

  test("a double-the-registry pathological case is still bounded") {
    val rs = (0 until 150).map(i =>
      (f"q$i%03d_some_very_long_query_name_indeed_x", Bench.Probe(9.9, 9.9, None)))
    val line = Bench.compactLine(rs, "/root/testdata/sf0.1")
    assert(line.length < Bench.LineBudget, s"${line.length} bytes at 150 queries")
    assert(line.contains(s""""omitted":${150 - Bench.TopKFallback}"""))
  }

  test("probe stability: reprobe settles an outlier; no-reprobe pairs " +
    "must agree directly; any failed run is unstable") {
    assert(Bench.Probe(1.0, 1.2, None).stable)
    assert(!Bench.Probe(1.0, 2.0, None).stable)
    // outlier 11.9 settled by two agreeing runs -> stable
    assert(Bench.Probe(11.9, 2.3, Some(2.7)).stable)
    // three mutually-disagreeing runs -> unstable
    assert(!Bench.Probe(1.0, 2.0, Some(4.0)).stable)
    assert(!Bench.Probe(-1.0, 1.0, None).stable)
    // best ignores failed runs; all-failed reports -1
    assert(Bench.Probe(-1.0, 1.5, Some(1.4)).best == 1.4)
    assert(Bench.Probe(-1.0, -1.0, None).best == -1.0)
  }

  test("history suspicion: agreeing runs at 2x history are flagged " +
    "(the BENCH_r08 q64/q65 failure mode min-of-N cannot reject)") {
    // runs agree with each other — stable — but both sit at ~3x the
    // recorded history: suspect, therefore flaky in the compact line
    val contended = Bench.Probe(9.9, 10.0, None, hist = Some(3.3))
    assert(contended.stable && contended.suspect && contended.flaky)
    // a genuine regression that REPROBES to the same number stays
    // suspect (the flag says "disputed vs history", not "noise") —
    // the probes line carries the evidence either way
    assert(Bench.Probe(9.9, 10.0, Some(9.8), hist = Some(3.3)).suspect)
    // within 2x of history: not suspect
    assert(!Bench.Probe(5.0, 5.1, None, hist = Some(3.3)).suspect)
    // no or nonsense history: never suspect
    assert(!Bench.Probe(9.9, 10.0, None).suspect)
    assert(!Bench.Probe(9.9, 10.0, None, hist = Some(0.0)).suspect)
    // flaky names ride the compact line, capped at 3 with a full count
    val rs = (0 until 5).map(i =>
      (s"q0${i}_x", Bench.Probe(9.9, 10.0, None, hist = Some(3.3))))
    val line = Bench.compactLine(rs, "/sf")
    assert(line.contains(""""flaky":["q00_x","q01_x","q02_x"]"""), line)
    assert(line.contains(""""flaky_n":5"""), line)
    // and an all-stable run carries no marker at all
    assert(!Bench.compactLine(fakeResults(3), "/sf").contains("flaky"))
  }

  test("contention sentinel: the line self-labels when any query is " +
    "flaky or the raw total diverges >1.3x from best-known") {
    // any flaky query -> contended (the flaky fixture above)
    val flakyRs = Seq(("q00_x", Bench.Probe(9.9, 10.0, None,
      hist = Some(3.3))))
    assert(Bench.compactLine(flakyRs, "/sf").contains(""""contended":true"""))
    // stable runs, none suspect (best < 2x history), but the session
    // raw sum sits 1.5x above best-known: the r11/r12 driver shape —
    // nothing disputes any single number, the whole session is slow
    val loaded = (0 until 4).map(i =>
      (s"q0${i}_x", Bench.Probe(1.5, 1.55, None, hist = Some(1.0))))
    assert(loaded.forall(!_._2.flaky), "fixture must not be flaky")
    val line = Bench.compactLine(loaded, "/sf")
    assert(line.contains(""""contended":true"""), line)
    // a clean session carries no sentinel: presence IS the signal
    assert(!Bench.compactLine(fakeResults(3), "/sf").contains("contended"))
    // divergence below the threshold stays unlabeled (1.2x)
    val mild = (0 until 4).map(i =>
      (s"q0${i}_x", Bench.Probe(1.2, 1.25, None, hist = Some(1.0))))
    assert(!Bench.compactLine(mild, "/sf").contains("contended"))
  }

  test("a flagged query is identifiable BY NAME from the compact line at " +
    "every ladder level, and keeps decimals at today's registry size") {
    // round-9 failure mode, inverted: the driver recorded q58's
    // contended 2.6 s as a regression because the slim form reduced
    // the dispute to a nameless "flaky_n":3. Names are ≤3 by cap
    // (~90 B) — coverage pays for them, never the other way round.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rs = names.zipWithIndex.map { case (n, i) =>
      val h = if (i == 0) Some(0.5) else None // one suspect query
      (n, Bench.Probe(2.34, 2.41, None, hist = h))
    }
    val line = Bench.compactLine(rs, "/root/testdata/sf0.1")
    assert(line.length < Bench.LineBudget, s"${line.length} over budget")
    assert(line.contains("\":2.3"), s"flaky marker cost precision: $line")
    assert(line.contains(""""flaky_n":1"""), line)
    assert(line.contains(s""""flaky":["${names.head}"]"""),
      s"flagged name must survive every ladder level: $line")
  }

  test("r17 regression shape: at today's registry with 33 flaky names, " +
    "every reported per-query value still carries >= 1 decimal") {
    // the r17 driver sweep: 147 queries, flaky_n=33 — the flaky-name
    // union pushed the dec1 top-48 level over budget and the ladder
    // fell to INTEGERS, so PERF_r17 computed 19 "regressions" from
    // ±0.5 s quantization noise. Coverage must degrade first (smaller
    // top-K), precision never below one decimal at this shape.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rs = names.zipWithIndex.map { case (n, i) =>
      val t = 0.5 + (i % 45) * 0.5 // realistic 0.5–22.5 s spread
      val h = if (i % 5 == 0 && i < 165) Some(t / 3) else None // 30+ suspect
      (n, Bench.Probe(t, t + 0.07, None, hist = h))
    }
    assert(rs.count(_._2.flaky) >= 30, "fixture must reproduce flaky_n>=30")
    val line = Bench.compactLine(rs, "/root/testdata/sf0.1")
    assert(line.length < Bench.LineBudget, s"${line.length} over budget")
    // no per-query value may be a bare integer: every ":<digits>" must
    // continue with a decimal point (total/best_total carry 2 decimals
    // by construction; epoch/flaky_n/omitted are not query keys)
    val intValued = """"q[0-9A-Za-z_]+":(\d+)[,}]""".r
      .findAllMatchIn(line).map(_.group(0)).toSeq
    assert(intValued.isEmpty,
      s"integer-quantized query values survived the ladder: $intValued\n$line")
    // and it still accounts for the whole registry
    val om = """"omitted":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
    val shown = (""""q[0-9A-Za-z_]+":""".r.findAllIn(line).length - 1)
    assert(om.exists(_ + shown == names.size), s"shown=$shown om=$om")
  }

  test("a FAST flagged query survives the top-K coverage cut by name " +
    "and value, and its recorded value is the reprobe minimum") {
    // 150 slow queries force the bounded top-K fallback; the one
    // disputed query is fast (would never make the slowest-K set) —
    // it must still appear in the queries object, recorded at the
    // minimum across ALL its runs including the reprobe (the honest
    // best-known number: a contended session cannot poison it upward
    // past what any run observed)
    val slow = (0 until 150).map(i =>
      (f"q$i%03d_some_very_long_query_name_indeed_x", Bench.Probe(9.9, 9.9, None)))
    val disputed = ("q900_fast_disputed",
      Bench.Probe(2.6, 8.0, Some(1.1), hist = Some(0.9)))
    assert(disputed._2.best == 1.1, "best must be the reprobe minimum")
    assert(disputed._2.flaky)
    val line = Bench.compactLine(slow :+ disputed, "/root/testdata/sf0.1")
    assert(line.length < Bench.LineBudget, s"${line.length} over budget")
    assert(line.contains(""""flaky":["q900_fast_disputed"]"""), line)
    assert(line.contains(""""q900_fast_disputed":1"""),
      s"disputed query's value must ride the line: $line")
    // shown + omitted still account for every query
    val om = """"omitted":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
    val shown = (""""q[0-9A-Za-z_]+":""".r.findAllIn(line).length - 1)
    assert(om.exists(_ + shown == 151), s"shown=$shown om=$om: $line")
  }

  test("the headline value is reprobe-settled: contended raw runs are " +
    "replaced by the fresh-session reprobe in the `value` sum") {
    // BENCH_r11's q96: runs [27.7, 127.5] in a loaded session, fresh
    // reprobe 4.2 — the headline must charge the settled 4.2, not the
    // contended raw minimum. `best` folds the reprobe into the same
    // min the per-query dict reads, so value and the dict can never
    // disagree about a reprobed query.
    val reprobed = ("q96_semdedup_keep",
      Bench.Probe(27.0, 127.0, Some(4.2), hist = Some(2.9)))
    assert(reprobed._2.best == 4.2,
      "a settled reprobe must replace the contended raw min")
    val line = Bench.compactLine(Seq(reprobed), "/sf")
    assert(line.contains(""""value":4.20"""), line)
    assert(line.contains(""""q96_semdedup_keep":4.2"""), line)
    // history still only feeds best_total, never value: the
    // value/best_total gap stays the in-band contention signal
    assert(line.contains(""""best_total":2.90"""), line)
  }

  test("best_total sums per-query best-knowns: a contended query " +
    "contributes its history minimum, never its contended raw") {
    // BENCH_r10's q24: recorded 7.2 s where every fresh-session
    // measurement says 1.06 — the raw-sum `value` read as a regression
    // that was not there. best_total is the cross-round headline.
    val contended = ("q24_dedup_simhash",
      Bench.Probe(7.2, 7.4, None, hist = Some(1.06)))
    val clean = ("q20_dedup_exact",
      Bench.Probe(0.4, 0.42, None, hist = Some(0.38)))
    val line = Bench.compactLine(Seq(contended, clean), "/sf")
    assert(line.contains(""""value":7.60"""), line)
    assert(line.contains(""""best_total":1.44"""), line)
    // min is two-sided: a session FASTER than history improves it
    assert(Bench.compactLine(Seq(
      ("q1_x", Bench.Probe(0.5, 0.55, None, hist = Some(2.0)))), "/sf")
      .contains(""""best_total":0.50"""))
    // no history: best_total degenerates to the session's own best
    assert(Bench.compactLine(Seq(("q2_x", Bench.Probe(3.0, 3.2, None))), "/sf")
      .contains(""""value":3.00,"best_total":3.00"""))
    // all-failed falls back to history; with neither it is excluded
    assert(Bench.Probe(-1.0, -1.0, None, hist = Some(1.5)).bestKnown == 1.5)
    assert(Bench.Probe(-1.0, -1.0, None).bestKnown == -1.0)
    // best_total must never be parsed as a query by the history reader
    val h = Bench.parseHistory(line.replace("\"sf\":\"/sf\"",
      "\"sf\":\"sf0.1\""), "/root/testdata/sf0.1")
    assert(h.keySet == Set("q24_dedup_simhash", "q20_dedup_exact"), h)
  }

  test("history parsing: same-sf compact lines round-trip; cross-sf " +
    "history is ignored") {
    val line = """{"metric":"total","value":65.43,"unit":"sec",""" +
      """"queries":{"q64_span_removal":3.45,"q65_dedup_materialize":2.60},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    val h = Bench.parseHistory(line, "/root/testdata/sf0.1")
    assert(h == Map("q64_span_removal" -> 3.45, "q65_dedup_materialize" -> 2.6))
    // slim-form sf (basename only) still matches the full dir
    val slim = line.replace("\"sf\":\"/root/testdata/sf0.1\"", "\"sf\":\"sf0.1\"")
    assert(Bench.parseHistory(slim, "/root/testdata/sf0.1").size == 2)
    // a different sf must not poison the thresholds
    assert(Bench.parseHistory(line, "/root/testdata/sf0.01").isEmpty)
  }

  test("epoch bracket: the factor rides the compact line, the raw " +
    "calib pair rides the probes line, and a history with an " +
    "epoch_log still parses cleanly") {
    val rs = fakeResults(2)
    // no calibration -> no field (absence is the no-sweep signal)
    assert(!Bench.compactLine(rs, "/sf").contains("epoch"))
    assert(!Bench.probesLine(rs).contains("calib"))
    val line = Bench.compactLine(rs, "/sf", epoch = Some(1.546))
    assert(line.contains(""""epoch":1.55,"""), line)
    val probes = Bench.probesLine(rs, Some((0.485, Some(0.47))))
    assert(probes.contains(
      s""""calib":{"query":"${Bench.CalibName}","pre":0.485,"post":0.470}"""),
      probes)
    // pre-only form (sweep killed before the closing bracket)
    assert(Bench.probesLine(rs, Some((0.485, None)))
      .contains(""""calib":{"query":"q01_linegraph","pre":0.485}"""))
    // a history line carrying the merge script's epoch_log (appended
    // after "queries") must not leak log keys into the query map
    val hist = """{"metric":"total","value":0.73,"unit":"sec",""" +
      """"queries":{"q01_linegraph":0.313,"q02_heatmap":0.413},""" +
      """"sf":"sf0.1","epoch_log":[{"pre":0.47,"post":0.18,"factor":1.5}]}"""
    val h = Bench.parseHistory(hist, "/root/testdata/sf0.1")
    assert(h == Map("q01_linegraph" -> 0.313, "q02_heatmap" -> 0.413), h)
    // the calibrator itself must be a registered query, or every
    // sweep silently loses its bracket
    assert(SparkEntry.queries.contains(Bench.CalibName))
  }

  test("both lines are valid JSON and locale-proof") {
    val default = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma decimals
      val rs = fakeResults(3)
      val compact = Bench.compactLine(rs, "/sf")
      val probes = Bench.probesLine(rs)
      // a comma decimal separator would corrupt these parses
      assert(compact.matches(""".*"value":\d+\.\d{2},.*"""), compact)
      assert(probes.contains("\"runs\":[123.456,123.789]"), probes)
    } finally java.util.Locale.setDefault(default)
  }
}
