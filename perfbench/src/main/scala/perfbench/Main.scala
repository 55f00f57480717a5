package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.engine.{CitibikePipeline, Ingest, Quality, TableStore, Tables, Waypoints}
import graft.engine.builders.{DockMap, HeatMap, LineGraph, StatusData, TripsMap}

/** One benchmark run inside one JVM. Writes a raw JSON record (timings,
  * counters, correctness problems, and in a traced run the spans and
  * listener events) to `--out`; `run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores N --work DIR --out FILE [--data DIR]
  *
  * The working directory must be a scratch directory: several queries
  * write under `target/graft-wh/` relative to it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: File, out: File,
                        data: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, new File(m("work")).getAbsoluteFile,
      new File(m("out")).getAbsoluteFile, m.getOrElse("data", ""))
  }

  /** local[cores] with shuffle partitions = cores; scratch files under `work`. */
  def session(cores: Int, work: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    HeapWatch.install()
    val w: Workload = a.workload match {
      case "citibike_load" => new CitibikeLoad(a)
      case "query_mix" => new QueryMix(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = try w.run() finally w.stop()
    Files.write(a.out.toPath, Json(record).getBytes("UTF-8"))
  }
}

/** What one timed iteration produced. */
final case class Iter(wall: Double, ops: Seq[(String, Double)], inBytes: Long,
                      outBytes: Long, digest: String, peakMb: Double = 0, cpuS: Double = 0,
                      jitS: Double = 0)

/** Session handling, the measured loop and the traced run, shared by
  * the workloads. */
abstract class Workload(val a: Main.Args) {
  val rec = new Recorder
  var spark: SparkSession = _
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val iters = mutable.ArrayBuffer.empty[Iter]
  /** (what just finished, seconds since JVM start) */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  def phase(label: String): Unit =
    phases += label -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def dir(rel: String): File = new File(a.work, rel)

  /** Set-up work repeated in every set-up round after the session starts. */
  def prepare(round: Int): Unit
  /** One iteration; spans are recorded when `tr` is enabled. */
  def iteration(i: Int, tr: Tracer): Iter
  /** Checks on the final state, outside the timed region. */
  def finalChecks(): Unit
  /** Bytes of input one iteration loads, and the bytes the program
    * keeps on disk after it. */
  def inputBytes: Long
  def spaceBytes: Long
  /** Untimed iterations after set-up, to let the JIT settle. */
  def warmUpIterations: Int = 0
  /** Set-up rounds after the first; `setup_s` is their median. */
  def warmSetups: Int
  /** Workload facts for `run.py`, added to the raw record. */
  def extraRecord: Map[String, Any] = Map.empty
  /** Layer metrics that need their own timing, outside the iteration. */
  def extraTrace(): Map[String, Any] = Map.empty

  def stop(): Unit = if (spark != null) spark.stop()

  /** Start a session and run [[prepare]], `rounds` times; seconds each. */
  def setups(rounds: Int): Seq[Double] = (0 until rounds).map { r =>
    stop()
    val t0 = System.nanoTime()
    spark = Main.session(a.cores, a.work)
    rec.register(spark)
    phase(s"session $r")
    prepare(r)
    (System.nanoTime() - t0) / 1e9
  }

  /** An iteration with its peak live heap. Every iteration ends with a
    * full collection outside its timed region, so the next one starts
    * from the same heap state. */
  def measured(i: Int, tr: Tracer): Iter = {
    HeapWatch.reset()
    val (cpu0, jit0) = (cpuSeconds, jitSeconds)
    val it = iteration(i, tr)
    val (cpu, jit) = (cpuSeconds - cpu0, jitSeconds - jit0)
    it.copy(peakMb = HeapWatch.peakMb(), cpuS = cpu, jitS = jit)
  }

  /** CPU time of the whole JVM so far: driver, tasks, JIT and GC. */
  def cpuSeconds: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compilers have spent so far. Spark compiles new
    * classes for the plans it runs, so this keeps growing long after
    * set-up. */
  def jitSeconds: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def counters(): (Long, Long) = {
    rec.drain(spark)
    (rec.inputBytes.get, rec.outputBytes.get)
  }

  /** Time `body` as one operation; a throw counts as a failed operation. */
  def op[T](name: String, ops: mutable.Buffer[(String, Double)])(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += name -> (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        problems += s"$name failed: $e"
        None
    }
  }

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def run(): Map[String, Any] = {
    val untraced = new Tracer(false)
    phase("inputs")
    // the first round pays JVM class loading and JIT compilation, so
    // setup_s is the median of the warm rounds after it
    val rounds = setups(if (a.trace) 1 else 1 + warmSetups)
    phase("setup")
    for (i <- 1 to (if (a.trace) warmUpIterations max 1 else warmUpIterations)) {
      measured(-i, untraced)
      phase("warm-up")
    }
    var trace: Map[String, Any] = null
    if (!a.trace) {
      val t0 = System.nanoTime()
      var i = 0
      // at least two iterations, whatever the host speed
      while (i < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        iters += measured(i, untraced)
        i += 1
      }
    } else {
      iters += measured(0, untraced)
      rec.drain(spark)
      rec.clearDetail()
      rec.detail = true
      val tr = new Tracer(true)
      val gc0 = HeapWatch.gcSeconds
      val (t0, s0, sp0) = (rec.tasks.get, rec.shuffleBytes.get, rec.spillBytes.get)
      iters += measured(1, tr)
      rec.drain(spark)
      rec.detail = false
      trace = Map(
        "spans" -> tr.spans.map(s => (s.id, s.name, s.parent, s.t0, s.t1)),
        "tasks" -> rec.taskRecs.toArray.toSeq,
        "jobs" -> rec.jobTimes.toArray.toSeq,
        "plans" -> rec.planRecs.toArray.toSeq,
        "progress" -> rec.progressRecs.toArray.toSeq,
        "traced_wall_s" -> iters(1).wall,
        "traced_cpu_s" -> iters(1).cpuS,
        "traced_jit_s" -> iters(1).jitS,
        "gc_s" -> (HeapWatch.gcSeconds - gc0),
        "tasks_total" -> (rec.tasks.get - t0),
        "shuffle_bytes" -> (rec.shuffleBytes.get - s0),
        "spill_bytes" -> (rec.spillBytes.get - sp0),
        "cores" -> a.cores) ++ extraTrace()
      // an untraced iteration on each side of the traced one, so the
      // tracing overhead is not confounded with the JIT's progress
      iters += measured(2, untraced)
      trace += "untraced_wall_s" -> (iters(0).wall + iters(2).wall) / 2
    }
    phase("timed")
    val digests = iters.map(_.digest).distinct
    if (digests.size > 1)
      problems += s"warehouse digest differs between iterations: ${digests.mkString(" | ")}"
    finalChecks()
    phase("checks")
    Map(
      "phases" -> phases,
      "workload" -> a.workload,
      "cores" -> a.cores,
      "cold_setup_s" -> rounds.head,
      "setup_s" -> rounds.tail,
      "iterations" -> iters.map(it => Map("wall_s" -> it.wall, "ops" -> it.ops,
        "in_bytes" -> it.inBytes, "out_bytes" -> it.outBytes, "peak_mb" -> it.peakMb,
        "cpu_s" -> it.cpuS, "jit_s" -> it.jitS)),
      "input_bytes" -> inputBytes,
      "space_bytes" -> spaceBytes,
      "attempted" -> attempted,
      "failed" -> failed,
      "problems" -> problems,
      "trace" -> trace) ++ extraRecord
  }
}

/** citibike_load: per iteration, an empty warehouse takes one yearly
  * legacy-header archive (12 nested monthly zips plus macOS junk), then
  * one modern-header monthly archive, each through its own
  * `CitibikePipeline.run` call on a directory holding only that
  * archive (the manifest skips only an exact month match, so a shared
  * directory would reload earlier months). The yearly call decodes the
  * whole archive in one task, and its merges see empty tables. The
  * monthly call is read-modify-write: it rereads and rewrites all six
  * tables for a small delta. The table builders take most of both. */
final class CitibikeLoad(a: Main.Args) extends Workload(a) {
  val nStations = 800
  val perMonth = 3000
  val sts = CitibikeGen.stations(a.seed, nStations)
  private val inputDirs = Seq(dir("archives/2022"), dir("archives/202301"))
  /** The inputs and their expected tables are made while the first
    * session starts. */
  private val generated = scala.concurrent.Future {
    val loaded = Seq(
      CitibikeGen.yearly(inputDirs(0), a.seed, sts, 2022, perMonth, modern = false),
      CitibikeGen.monthly(inputDirs(1), a.seed, sts, 2023, 1, perMonth, modern = true))
    (loaded, loaded.foldLeft(Expected.empty)(_ load _))
  }(scala.concurrent.ExecutionContext.global)
  lazy val (loaded: Seq[CitibikeGen.Archive], expected: Expected) =
    scala.concurrent.Await.result(generated, scala.concurrent.duration.Duration.Inf)
  private var lastWh: File = _
  private var kept = 0L

  def warmSetups: Int = 7
  /** Set-up loads nothing, so the first iteration pays the JIT for the
    * pipeline code, and the JIT is still busy in the second. */
  override def warmUpIterations: Int = 2
  def inputBytes: Long = loaded.map(_.csvBytes).sum
  def spaceBytes: Long = dirBytes(lastWh)

  /** What the pipeline does before it loads anything: list each input
    * directory and look the archives up in the warehouse's manifest. */
  def prepare(round: Int): Unit = {
    val manifest = TableStore.readOrEmpty(spark, dir(s"wh/setup$round").getPath,
      "StatusDataTable", StatusData.schema)
    // going through `loaded` waits until the archives are written
    loaded.zip(inputDirs).foreach { case (_, d) =>
      Ingest.listArchives(d.getPath, spark.sparkContext.hadoopConfiguration).foreach(x =>
        StatusData.alreadyLoaded(manifest, x.year.toInt, x.month.map(_.toInt)))
    }
  }

  /** The pipeline itself, or in a traced run a replica of
    * `CitibikePipeline.run` that drives the same public steps with a
    * span around each module call. */
  private def load(inputDir: File, wh: File, tr: Tracer): Int =
    if (!tr.enabled) CitibikePipeline.run(spark, inputDir.getPath, wh.getPath)
    else Replica.run(spark, inputDir.getPath, wh.getPath, tr, n => kept += n)

  def iteration(i: Int, tr: Tracer): Iter = {
    val wh = dir(s"wh/it$i")
    if (lastWh != null) org.apache.commons.io.FileUtils.deleteQuietly(lastWh)
    lastWh = wh
    val c0 = counters()
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    var ok = true
    tr.span("run") {
      inputDirs.zip(loaded).foreach { case (d, x) =>
        val call = if (x.month.isEmpty) "yearly" else "monthly"
        val n = tr.span(s"call.$call")(op(call, ops)(load(d, wh, tr)))
        if (!n.contains(1)) {
          ok = false
          if (n.isDefined) { failed += 1; problems += s"${d.getName}: loaded ${n.get} archives, want 1" }
        }
      }
    }
    val (in1, out1) = counters()
    Iter(ops.map(_._2).sum, ops.toSeq, in1 - c0._1, out1 - c0._2,
      if (!ok) "failed" else if (i < 0) "" else WarehouseCheck.digest(spark, wh.getPath))
  }

  def finalChecks(): Unit = {
    val p = WarehouseCheck.compare(spark, lastWh.getPath, expected,
      sts.map(s => s.name -> (s.lat, s.lon)).toMap)
    if (p.nonEmpty) { failed += 1; problems ++= p }
  }

  override def extraTrace(): Map[String, Any] = {
    val t0 = System.nanoTime()
    loaded.foreach(x => Ingest.extractCsvMembers(Files.readAllBytes(x.file.toPath)))
    Map("extract_s" -> (System.nanoTime() - t0) / 1e9, "kept" -> kept,
      "records" -> loaded.map(_.trips.size).sum)
  }
}

/** The traced stand-in for `CitibikePipeline.run`: the same steps
  * through the same public functions, with a span around each module.
  * Filling the import cache is forced inside its own span (a count) so
  * ingest is not charged to the fact-table write. The traced run checks
  * that the replica leaves the same warehouse digest as the pipeline. */
object Replica {
  def run(spark: SparkSession, inputDir: String, wh: String, tr: Tracer,
          onKept: Long => Unit): Int = {
    var manifest: org.apache.spark.sql.DataFrame = null
    val newOnes = tr.span("engine.Ingest.list") {
      val archives = Ingest.listArchives(inputDir, spark.sparkContext.hadoopConfiguration)
      manifest = TableStore.readOrEmpty(spark, wh, "StatusDataTable", StatusData.schema)
      archives.filterNot(x =>
        StatusData.alreadyLoaded(manifest, x.year.toInt, x.month.map(_.toInt)))
    }
    newOnes.foreach { x =>
      val imported = tr.span("engine.Quality.import") {
        val df = Quality.importTrips(Ingest.readArchiveDistributed(spark, x), x.year).cache()
        onKept(df.count())
        df
      }
      try {
        tr.span("engine.TableStore.fact_write") {
          TableStore.overwritePartitions(imported, wh, "ImportedTrips", Seq("year", "month"))
        }
        tr.span("engine.builders.LineGraph") {
          TableStore.write(LineGraph.merge(TableStore.readOrEmpty(spark, wh, "LineGraphTable",
            CitibikePipeline.lineGraphSchema), LineGraph.build(imported)), wh, "LineGraphTable")
        }
        tr.span("engine.builders.HeatMap") {
          TableStore.write(HeatMap.merge(TableStore.readOrEmpty(spark, wh, "HeatMapTable",
            CitibikePipeline.heatMapSchema), HeatMap.build(imported)), wh, "HeatMapTable")
        }
        tr.span("engine.builders.TripsMap") {
          TableStore.write(TripsMap.merge(TableStore.readOrEmpty(spark, wh, "TripTable",
            CitibikePipeline.tripTableSchema), TripsMap.build(imported,
            Waypoints.StraightLineRoutes)), wh, "TripTable")
        }
        tr.span("engine.builders.DockMap") {
          val existing = DockMap.fromStorage(TableStore.readOrEmpty(spark, wh, "DockTable",
            CitibikePipeline.dockTableSchema))
          TableStore.write(DockMap.toStorage(DockMap.merge(existing, DockMap.build(imported))),
            wh, "DockTable")
        }
        tr.span("engine.builders.StatusData") {
          TableStore.write(StatusData.markLoaded(manifest, x.year.toInt, x.month.map(_.toInt)),
            wh, "StatusDataTable")
          manifest = TableStore.read(spark, wh, "StatusDataTable")
        }
      } finally imported.unpersist()
    }
    newOnes.size
  }
}

/** query_mix: registry queries on one warm session over a table
  * generated from the seed. Every timed query starts from a cleared
  * cache: several operators pin results with cache+count, and the
  * cache manager matches by plan, so a warm cache would time a cache
  * read instead of the query. */
final class QueryMix(a: Main.Args) extends Workload(a) {
  val queries: Seq[(String, String)] = Seq(
    "q103" -> "q103_streaming_dedup_drain", "q136" -> "q136_cluster_keywords")
  val tableNames = Seq("documents")
  private val results = dir("results")
  /** Set-up runs no query, so the JIT needs two passes over the queries
    * before timings settle. The untimed passes write every result for
    * the oracle check. */
  override def warmUpIterations: Int = 2
  def warmSetups: Int = 7

  def inputBytes: Long = tableNames.map(t => new File(a.data, s"$t.parquet").length).sum
  def spaceBytes: Long = dirBytes(new File("target/graft-wh").getAbsoluteFile)

  def prepare(round: Int): Unit =
    tableNames.foreach(t => Tables(spark, a.data, t).count())

  def iteration(i: Int, tr: Tracer): Iter = {
    val c0 = counters()
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    tr.span("run") {
      queries.foreach { case (short, name) =>
        tr.span(s"queries.$short") {
          spark.catalog.clearCache()
          val fn = SparkEntry.queries(name)
          op(short, ops) {
            val df = tr.span("build")(fn(spark, a.data))
            tr.span("exec")(
              if (i >= 0) df.write.format("noop").mode("overwrite").save()
              else df.coalesce(1).write.mode("overwrite").parquet(new File(results, name).getPath))
          }
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (in1, out1) = counters()
    Iter(wall, ops.toSeq, in1 - c0._1, out1 - c0._2, "")
  }

  /** The warm-up iterations wrote every result the way `graft.Verify`
    * does; `scripts/check.py` compares them with the DuckDB oracle after
    * the JVM exits. */
  def finalChecks(): Unit = {
    Files.write(new File(results, "oracle_sql.json").toPath,
      Json(SparkEntry.oracleSql).getBytes("UTF-8"))
    Files.write(new File(results, "names.json").toPath,
      Json(SparkEntry.queries.keys.toSeq.sorted).getBytes("UTF-8"))
  }

  override def extraRecord: Map[String, Any] = Map("checked_queries" -> queries.map(_._2))
}
