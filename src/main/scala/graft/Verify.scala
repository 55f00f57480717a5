package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY (comma list of name substrings) narrows
    // the dump for local iteration — the driver never sets it, so the
    // driver's run always covers every query.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').toSeq.filter(_.nonEmpty))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // leak census: one line per query that left state behind (its
      // returned result's cache counts). Each query's result stays
      // cached and a few operators keep frames by design (the
      // surprisal and backoff tables, VocabJoin.joinCached), so most
      // lines are expected; the count is the baseline for a
      // registry-level scope.
      val cachedPlans = !spark.sharedState.cacheManager.isEmpty
      val rdds = spark.sparkContext.getPersistentRDDs.size
      if (cachedPlans || rdds > 0)
        System.err.println(s"[verify] leak: $name left CacheManager " +
          s"entries=$cachedPlans, persistent RDDs=$rdds")
      // isolate queries from each other's cached state, same as Bench:
      // without the clear, the 45 queries the census names at sf0.01
      // would carry block-store entries through the rest of the run.
      // Checkpointed pins are RDD-level persists that clearCache
      // cannot see — drop them at the RDD ledger too (Bench needs
      // neither: it runs each query in a fresh session)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        // a `private val` oracle declared AFTER the registration list
        // is null at object init (Scala initialization order) — fail
        // with the query name instead of an opaque NPE downstream
        require(v != null, s"oracle SQL for $k is null — declare the " +
          "oracle as a def (or before the registration list)")
        s"${q(k)}: ${q(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the FULL registered-query name list (unfiltered — the checker
    // applies its own ONLY narrowing): the completeness gate expects a
    // result dir for EVERY registered query, and the checker flags a
    // stale oracle key whose query was renamed out from under it.
    val namesJson = SparkEntry.queries.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/names.json"), namesJson)
    spark.stop()
  }
}
