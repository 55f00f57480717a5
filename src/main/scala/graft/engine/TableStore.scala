package graft.engine

import java.io.IOException
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed warehouse tables, replaced on disk through staged
  * commits ([[overwritePartitions]] writes in place instead, and
  * [[writeBucketed]] swaps its one table without a marker).
  *
  * The reference mutates one DuckDB file in place; over immutable
  * Parquet every merge rewrites the table (SURVEY §3.3). A commit
  * replaces one or more tables of a warehouse together:
  *  1. stage: each table is written to `.tmp_<name>`. Nothing a reader
  *     sees changes, and the write materializes its plan (which may
  *     read the table it replaces) before anything moves;
  *  2. commit point: a marker `.commit_<first table>` naming the staged
  *     tables is written atomically (temp file, then rename);
  *  3. apply: each table swaps in (`<name>` -> `.bak_<name>`,
  *     `.tmp_<name>` -> `<name>`, drop the backup); a partitioned table
  *     swaps each staged partition directory the same way. Then the
  *     marker is deleted.
  *
  * A crash before the commit point leaves every table as it was; the
  * next stage overwrites the leftovers. A crash after it leaves the
  * marker: until [[finishCommits]] runs, a reader can see some of the
  * commit's tables replaced and others not. Every apply step checks
  * what already happened, so [[finishCommits]] completes the commit
  * however far the crash got. A `<name>` missing beside its
  * `.bak_<name>` outside such a roll-forward is an interrupted swap
  * with no marker to finish it: a new write throws instead of
  * replacing the only copy. Directory rename is atomic on local
  * FS/HDFS; on object stores a transactional table format
  * (Delta/Iceberg) would replace this class wholesale. One committer
  * per table at a time.
  */
object TableStore {

  // all JDBC traffic flows through this object, so registering here
  // guarantees the dialect is in place before any DuckDB URL is used
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DuckDbDialect)

  def tablePath(warehouse: String, name: String): String = s"$warehouse/$name"

  def exists(spark: SparkSession, warehouse: String, name: String): Boolean = {
    val p = new Path(tablePath(warehouse, name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def read(spark: SparkSession, warehouse: String, name: String): DataFrame = {
    // partition columns (year=/month= dirs) must stay strings — the
    // default type inference would turn year="2021" into an int
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    spark.read.parquet(tablePath(warehouse, name))
  }

  /** Dynamic-partition overwrite into a partitioned table, in place
    * rather than through a commit. Dynamic overwrite replaces exactly
    * the partitions `df` has rows for and leaves every other one in
    * place, so re-loading after a crash replaces rows instead of
    * double-appending. The mode is a write option, so the caller's
    * session keeps its own `partitionOverwriteMode`. */
  def overwritePartitions(df: DataFrame, warehouse: String, name: String,
                          partitionBy: Seq[String]): Unit =
    df.write.partitionBy(partitionBy: _*).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(tablePath(warehouse, name))

  /** A staged table write awaiting its commit. With `partitionBy`, the
    * commit replaces only the partitions staged (the dynamic-overwrite
    * semantics of [[overwritePartitions]]: the partition set comes from
    * the rows, so rows of another period replace that period too);
    * without, it replaces the whole table. */
  final case class Staged(name: String, partitionBy: Seq[String])

  private def fileSystem(spark: SparkSession, warehouse: String): FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (`.tmp_<name>`, `.bak_<name>`, `<name>`), fully qualified: the
    * DataSource path option and the Hadoop renames must resolve a
    * relative warehouse the same way. */
  private def paths(fs: FileSystem, warehouse: String, name: String): (Path, Path, Path) = {
    def q(n: String) = fs.makeQualified(new Path(tablePath(warehouse, n)))
    (q(s".tmp_$name"), q(s".bak_$name"), q(name))
  }

  /** Clear `.tmp_<name>` and hand its path to `writeTo`. Throws,
    * before writing anything, when `<name>` is missing and
    * `.bak_<name>` holds its last copy. */
  private def stageWith(spark: SparkSession, warehouse: String, name: String)(
      writeTo: String => Unit): Unit = {
    val fs = fileSystem(spark, warehouse)
    val (tmp, bak, dst) = paths(fs, warehouse, name)
    if (fs.exists(bak) && !fs.exists(dst))
      throw new IOException(s"$dst is missing and $bak holds its last copy " +
        s"(an interrupted swap): move $bak back to $dst before writing $name")
    fs.delete(tmp, true)
    writeTo(tmp.toString)
  }

  /** Write `df` to `.tmp_<name>` for a later commit. */
  def stage(df: DataFrame, warehouse: String, name: String,
            partitionBy: Seq[String]): Staged = {
    stageWith(df.sparkSession, warehouse, name)(
      df.write.partitionBy(partitionBy: _*).mode("overwrite").parquet)
    Staged(name, partitionBy)
  }

  /** The rows staged for `name`, exactly what its commit publishes,
    * read with `schema`: a partitioned write of no rows stages no file,
    * and then the frame is empty. */
  def readStaged(spark: SparkSession, warehouse: String, name: String,
                 schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(tablePath(warehouse, s".tmp_$name"))

  /** The commit point: atomically write the marker naming `tables`,
    * all staged. Nothing is applied; [[finishCommits]] does that. A
    * marker left by an earlier commit of the same first table is
    * superseded: staging this one already replaced its staged dirs. */
  def writeMarker(spark: SparkSession, warehouse: String, tables: Seq[Staged]): Path = {
    val fs = fileSystem(spark, warehouse)
    val marker = fs.makeQualified(new Path(warehouse, s".commit_${tables.head.name}"))
    val pending = new Path(marker.getParent, s".pending_${tables.head.name}")
    val out = fs.create(pending, true)
    try out.write(tables.map(t => (t.name +: t.partitionBy).mkString(" "))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(marker, false)
    if (!fs.rename(pending, marker))
      throw new IOException(s"could not write the commit marker $marker")
    marker
  }

  /** Finish every commit whose marker is in `warehouse` (the
    * roll-forward after a crash). */
  def finishCommits(spark: SparkSession, warehouse: String): Unit = {
    val fs = fileSystem(spark, warehouse)
    Option(fs.globStatus(new Path(warehouse, ".commit_*"))).toSeq.flatten
      .foreach(m => apply(fs, warehouse, m.getPath))
  }

  private def commit(spark: SparkSession, warehouse: String, tables: Seq[Staged]): Unit =
    apply(fileSystem(spark, warehouse), warehouse, writeMarker(spark, warehouse, tables))

  /** Apply a marker's tables, then delete it. Safe to repeat. */
  private def apply(fs: FileSystem, warehouse: String, marker: Path): Unit = {
    val in = fs.open(marker)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.map(_.split(' ')).foreach { l =>
      val (tmp, bak, dst) = paths(fs, warehouse, l.head)
      val partitionBy = l.tail.toSeq
      if (partitionBy.isEmpty) swap(fs, tmp, dst, bak)
      else if (fs.exists(tmp)) {
        // each staged partition directory, relative to the table root
        val glob = partitionBy.map(c => s"$c=*").mkString("/")
        fs.globStatus(new Path(tmp, glob)).foreach { p =>
          val rel = Iterator.iterate(p.getPath)(_.getParent).take(partitionBy.size)
            .map(_.getName).toSeq.reverse.mkString("/")
          swap(fs, p.getPath, new Path(dst, rel), new Path(bak, rel))
        }
        fs.delete(bak, true)
        fs.delete(tmp, true)
      }
    }
    fs.delete(marker, false)
  }

  /** Replace `dst` by `tmp`: `dst` -> `bak`, `tmp` -> `dst`, drop
    * `bak`, each step checked, with restore on failure. A missing
    * `tmp` means the move already happened, so repeating the swap
    * after a crash at any step finishes it; `bak` is deleted only
    * while `dst` exists. A rename onto an existing directory would
    * nest instead of replace, hence the move aside first. */
  private def swap(fs: FileSystem, tmp: Path, dst: Path, bak: Path): Unit = {
    if (fs.exists(tmp)) {
      if (fs.exists(dst)) {
        fs.delete(bak, true) // an earlier, finished swap's backup
        fs.mkdirs(bak.getParent)
        if (!fs.rename(dst, bak))
          throw new IOException(s"could not move $dst aside to $bak")
      } else fs.mkdirs(dst.getParent)
      if (!fs.rename(tmp, dst)) {
        if (fs.exists(bak) && !fs.exists(dst)) fs.rename(bak, dst) // restore
        throw new IOException(s"could not swap $tmp into $dst")
      }
    }
    if (fs.exists(dst)) fs.delete(bak, true)
  }

  def readOrEmpty(spark: SparkSession, warehouse: String, name: String,
                  schema: StructType): DataFrame =
    if (exists(spark, warehouse, name)) read(spark, warehouse, name)
    else empty(spark, schema)

  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** S8: a JDBC warehouse target (reference: the pipeline's embedded
    * DuckDB file, `main.py:45-55`). Driver-agnostic — `url` names the
    * database (`jdbc:duckdb:/path/file.db`, `jdbc:derby:...`, a
    * server URL), `driver` force-loads a class when the jar doesn't
    * self-register, `options` passes through Spark JDBC source options
    * (partitionColumn/numPartitions for parallel reads, batchsize,
    * isolationLevel, ...).
    *
    * Scale notes: an embedded single-file database is a PUBLISH
    * endpoint, not a shuffle-capable store — writes funnel through
    * executor connections into one file, so use it for final serving
    * tables (the reference's use), keep facts in Parquet. For parallel
    * reads of big server-side tables, set partitionColumn/lowerBound/
    * upperBound/numPartitions so each task reads a key range. */
  final case class JdbcTarget(url: String, driver: Option[String] = None,
                              options: Map[String, String] = Map.empty)

  /** Publish `df` as JDBC table `name` (mode per Spark semantics;
    * "overwrite" drops and recreates — the reference's CREATE OR
    * REPLACE). */
  def writeJdbc(df: DataFrame, target: JdbcTarget, name: String,
                mode: String = "overwrite"): Unit = {
    val w = df.write.format("jdbc")
      .option("url", target.url).option("dbtable", name)
      .options(target.options)
    target.driver.foreach(d => w.option("driver", d))
    w.mode(mode).save()
  }

  def readJdbc(spark: SparkSession, target: JdbcTarget, name: String): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", target.url).option("dbtable", name)
      .options(target.options)
    target.driver.foreach(d => r.option("driver", d))
    r.load()
  }

  /** Catalog name for a warehouse table. The session catalog is global
    * while TableStore paths are per-warehouse, so the name embeds a
    * warehouse hash: the same `table` written to two warehouses gets two
    * catalog entries instead of silently repointing one.
    *
    * The warehouse string is qualified through the filesystem FIRST
    * (same normalization [[writeBucketed]] applies to the data paths)
    * so `wh`, `wh/`, and `./wh` name ONE entry, and the hash is a
    * 64-bit SHA-256 prefix — a 32-bit String.hashCode collision between
    * two warehouses would silently share/repoint one entry, exactly the
    * failure this name exists to prevent. */
  def bucketedName(spark: SparkSession, warehouse: String,
                   table: String): String = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(new Path(warehouse)).toString
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    s"${table}_wh_$hex"
  }

  /** A catalog table's bucket spec, for absorb paths that `insertInto`
    * a bucketed table: (numBuckets, bucket columns), None when the
    * table is unbucketed or unreadable. Lets a delta append
    * pre-shuffle to one file per touched bucket (see [[writeBucketed]]
    * — an un-repartitioned append writes tasks × buckets files, so
    * after N absorbs the probe pays N × tasks opens per bucket and
    * the file count scales with the WRITER's core count). */
  def bucketSpecOf(spark: SparkSession, name: String): Option[(Int, Seq[String])] =
    try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
      spark.sessionState.catalog.getTableMetadata(id).bucketSpec
        .map(b => (b.numBuckets, b.bucketColumnNames.toSeq))
    } catch { case _: Throwable => None }

  /** Repartition `rows` onto `table`'s bucket layout (identity when
    * the table is unbucketed) — the [[writeBucketed]] one-file-per-
    * bucket contract for `insertInto` appends. */
  def toBucketLayout(spark: SparkSession, table: String,
                     rows: DataFrame): DataFrame =
    bucketSpecOf(spark, table).fold(rows) { case (n, cols) =>
      rows.repartition(n,
        cols.map(org.apache.spark.sql.functions.col): _*)
    }

  /** Bucketed write: pre-shuffles rows into a fixed bucket layout on
    * `bucketCols` so every subsequent equi-join or aggregation keyed on
    * them reads co-located buckets and SKIPS the exchange — the
    * pay-the-shuffle-once story for warehouse tables that join
    * repeatedly (fact⨝fact on doc_id/vec_id at corpus scale).
    * `saveAsTable` is required (bucket metadata lives in the catalog,
    * not the parquet footers), but the FILES follow the TableStore
    * warehouse convention: data stages into `.tmp_<table>` via a
    * throwaway staging catalog entry, the real catalog entry is DROPPED,
    * dirs swap old->bak / tmp->dst, and the entry is recreated over the
    * final location.
    *
    * Crash contract: DATA is never lost (the swap is the same
    * checked-rename sequence a commit applies, without a marker), but
    * the catalog entry is
    * deliberately absent from the drop until the final CREATE — a crash
    * in that window leaves a table that fails loudly on read until the
    * write is re-run. Dropping BEFORE the swap is what buys that: were
    * the old entry kept through the swap, a crash after tmp->dst would
    * leave the OLD spec (old schema/bucket count) pointing at the NEW
    * files, and a later exchange-free bucketed join against the stale
    * spec would silently return wrong rows. Loud-until-rerun beats
    * silently-wrong.
    *
    * Bucket ids ride in the staged file NAMES (`..._00007.c000...`), so
    * re-declaring `CLUSTERED BY` over the moved files preserves the
    * layout. Returns the namespaced catalog name to query.
    * BucketedJoinSpec asserts the no-exchange plan.
    *
    * Round 18 (guide §6 small files; the q128 8-beats-32 diagnosis):
    * the input is repartitioned on the bucket key HERE, so every
    * bucketed write emits exactly ONE file per non-empty bucket —
    * bucketBy otherwise splits per input task (files = tasks ×
    * buckets touched), which coupled the on-disk file count to the
    * writer's core count: at local[32] the q128 lifecycle's
    * build+absorbs left 768 files where local[8] left 192, and the
    * compact's snapshot read paid one task per file (measured
    * stage-level: 768 scan tasks, 53 s of run-minus-cpu scheduling
    * overhead vs 2.1 s at 8 cores — the whole "faster at 8 cores"
    * inversion). repartition's HashPartitioning IS the bucket-id
    * function, so this is the q128-compactor contract applied at
    * EVERY bucketed write; callers that already repartition (the
    * compactor, the purge) collapse to one exchange
    * (CollapseRepartition). The exchange is index-sized and paid at
    * build time; production sizes nBuckets so one file per bucket is
    * the 128 MB–1 GB guide §6 target. */
  def writeBucketed(df0: DataFrame, warehouse: String, table: String,
                    nBuckets: Int, bucketCols: Seq[String],
                    sortCols: Seq[String] = Nil): String = {
    val df = df0.repartition(nBuckets,
      bucketCols.map(org.apache.spark.sql.functions.col): _*)
    val spark = df.sparkSession
    val name = bucketedName(spark, warehouse, table)
    val staging = s"${name}_staging"
    stageWith(spark, warehouse, table) { tmp =>
      spark.sql(s"DROP TABLE IF EXISTS `$staging`")
      val w = df.write.mode("overwrite").option("path", tmp)
        .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
        .format("parquet").saveAsTable(staging)
    }
    // drop the live entry BEFORE touching directories (see crash
    // contract above): no window ever has a catalog spec over files it
    // doesn't describe
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val fs = fileSystem(spark, warehouse)
    val (tmp, bak, dst) = paths(fs, warehouse, table)
    swap(fs, tmp, dst, bak)
    val quoted = (cs: Seq[String]) => cs.map(c => s"`$c`").mkString(", ")
    val sortedBy =
      if (sortCols.nonEmpty) s"SORTED BY (${quoted(sortCols)}) " else ""
    spark.sql(s"CREATE TABLE `$name` (${df.schema.toDDL}) USING parquet " +
      s"CLUSTERED BY (${quoted(bucketCols)}) ${sortedBy}" +
      s"INTO $nBuckets BUCKETS LOCATION '${dst.toString}'")
    spark.sql(s"DROP TABLE IF EXISTS `$staging`") // external: files already moved
    name
  }

  /** Overwrite `name` with `df`: stage it, then commit it alone. */
  def write(df: DataFrame, warehouse: String, name: String): Unit =
    commit(df.sparkSession, warehouse, Seq(stage(df, warehouse, name, Nil)))

  /** JSONL delivery sink — the format training and annotation
    * pipelines actually ingest. Rows serialize to one JSON object per
    * line; when `shardBy` names an integer column (e.g. the shard of
    * [[graft.ops.Sharding.epochShards]]), the table writes partitioned
    * as `shard=<k>/` with rows ordered WITHIN each shard file by
    * `orderBy` — the trainer-facing contract that a (shard, position)
    * read order is reproducible. A one-table commit like [[write]]:
    * readers never observe a half-written delivery. Uses
    * `toJSON` (one pass, no driver collect); at 100 TB the write is
    * embarrassingly parallel and each shard's local sort is bounded by
    * its own rows. */
  def writeJsonl(df: DataFrame, warehouse: String, name: String,
                 shardBy: Option[String] = None,
                 orderBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    stageWith(spark, warehouse, name) { tmp =>
      shardBy match {
        case Some(s) =>
          val sorted =
            if (orderBy.nonEmpty)
              df.repartition(org.apache.spark.sql.functions.col(s))
                .sortWithinPartitions(s, orderBy: _*)
            else df.repartition(org.apache.spark.sql.functions.col(s))
          // toJSON would inline the shard column into every line; keep it
          // as the partition dir only
          val jsonCol = org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(
              sorted.columns.filter(_ != s)
                .map(org.apache.spark.sql.functions.col).toSeq: _*))
          sorted.select(org.apache.spark.sql.functions.col(s),
              jsonCol.as("value"))
            .write.partitionBy(s).mode("overwrite").text(tmp)
        case None =>
          val sorted = if (orderBy.nonEmpty)
            df.sortWithinPartitions(orderBy.head, orderBy.tail: _*) else df
          sorted.toJSON.write.mode("overwrite").text(tmp)
      }
    }
    commit(spark, warehouse, Seq(Staged(name, Nil)))
  }
}
