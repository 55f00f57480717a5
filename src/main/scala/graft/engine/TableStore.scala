package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Parquet-backed warehouse tables with write-temp-then-swap updates.
  *
  * The reference mutates one DuckDB file in place; over immutable
  * Parquet every merge rewrites the table, so writes go to a temp dir
  * and swap in atomically-per-rename (SURVEY §3.3). Readers of the old
  * snapshot in the same job must materialize before the swap — the
  * pipeline merges then writes, so the read plan is consumed first.
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

  /** Dynamic-partition overwrite into a partitioned table — the
    * canonical-trips fact table grows per archive; partitioning by
    * (year, month) gives partition pruning on every per-period query.
    * Dynamic overwrite replaces exactly the partitions `df` has rows
    * for and leaves every other one in place, so re-loading an archive
    * after a crash replaces its rows instead of double-appending. The
    * partition set comes from the rows, not the archive's name: an
    * archive holding rows of another month replaces that month's
    * partition too. The mode is a write option, so the caller's
    * session keeps its own `partitionOverwriteMode`. */
  def overwritePartitions(df: DataFrame, warehouse: String, name: String,
                          partitionBy: Seq[String]): Unit =
    df.write.partitionBy(partitionBy: _*).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(tablePath(warehouse, name))

  /** The rows of the given partitions of a partitioned table. Each
    * partition is a row of partition-column values (field names are
    * column names); partition pruning skips every other directory. No
    * partitions: an empty frame with `schema`, without touching the
    * table (which may not exist). */
  def readPartitions(spark: SparkSession, warehouse: String, name: String,
                     partitions: Seq[Row], schema: StructType): DataFrame =
    if (partitions.isEmpty) empty(spark, schema)
    else read(spark, warehouse, name).where(partitions.map { p =>
      p.schema.fieldNames.map(c => col(c) === p.getAs[Any](c)).reduce(_ && _)
    }.reduce(_ || _))

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
    * checked-rename sequence as [[write]]), but the catalog entry is
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
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fully qualify: the DataSource path option and the Hadoop renames
    // must resolve a relative warehouse the same way
    val tmp = fs.makeQualified(new Path(s"$warehouse/.tmp_$table"))
    val bak = fs.makeQualified(new Path(s"$warehouse/.bak_$table"))
    val dst = fs.makeQualified(new Path(tablePath(warehouse, table)))
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val w = df.write.mode("overwrite").option("path", tmp.toString)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(staging)
    // drop the live entry BEFORE touching directories (see crash
    // contract above): no window ever has a catalog spec over files it
    // doesn't describe
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    if (fs.exists(bak)) fs.delete(bak, true)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, bak))
      throw new java.io.IOException(s"could not move $dst aside to $bak")
    if (!fs.rename(tmp, dst)) {
      if (hadOld) fs.rename(bak, dst) // restore
      throw new java.io.IOException(s"could not swap $tmp into $dst")
    }
    if (hadOld) fs.delete(bak, true)
    val quoted = (cs: Seq[String]) => cs.map(c => s"`$c`").mkString(", ")
    val sortedBy =
      if (sortCols.nonEmpty) s"SORTED BY (${quoted(sortCols)}) " else ""
    spark.sql(s"CREATE TABLE `$name` (${df.schema.toDDL}) USING parquet " +
      s"CLUSTERED BY (${quoted(bucketCols)}) ${sortedBy}" +
      s"INTO $nBuckets BUCKETS LOCATION '${dst.toString}'")
    spark.sql(s"DROP TABLE IF EXISTS `$staging`") // external: files already moved
    name
  }

  /** Overwrite `name` with `df` via temp-dir write + backup-rename swap.
    * The temp write materializes the plan (which may read the table
    * being replaced) before anything is touched; the swap then is
    * old->bak, tmp->dst, drop bak — each step checked, with restore on
    * failure, so the table is never left missing. Directory rename is
    * atomic on local FS/HDFS; on object stores a transactional table
    * format (Delta/Iceberg) would replace this class wholesale. A crash
    * exactly between old->bak and tmp->dst leaves a recoverable
    * `.bak_<name>` rather than silent data loss. */
  def write(df: DataFrame, warehouse: String, name: String,
            partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$warehouse/.tmp_$name")
    val bak = new Path(s"$warehouse/.bak_$name")
    val dst = new Path(tablePath(warehouse, name))
    val writer = if (partitionBy.nonEmpty)
      df.write.partitionBy(partitionBy: _*) else df.write
    writer.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, bak))
      throw new java.io.IOException(s"could not move $dst aside to $bak")
    if (!fs.rename(tmp, dst)) {
      if (hadOld) fs.rename(bak, dst) // restore
      throw new java.io.IOException(s"could not swap $tmp into $dst")
    }
    if (hadOld) fs.delete(bak, true)
  }

  /** JSONL delivery sink — the format training and annotation
    * pipelines actually ingest. Rows serialize to one JSON object per
    * line; when `shardBy` names an integer column (e.g. the shard of
    * [[graft.ops.Sharding.epochShards]]), the table writes partitioned
    * as `shard=<k>/` with rows ordered WITHIN each shard file by
    * `orderBy` — the trainer-facing contract that a (shard, position)
    * read order is reproducible. Atomic via the same temp-and-swap as
    * [[write]]: readers never observe a half-written delivery. Uses
    * `toJSON` (one pass, no driver collect); at 100 TB the write is
    * embarrassingly parallel and each shard's local sort is bounded by
    * its own rows. */
  def writeJsonl(df: DataFrame, warehouse: String, name: String,
                 shardBy: Option[String] = None,
                 orderBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$warehouse/.tmp_$name")
    val bak = new Path(s"$warehouse/.bak_$name")
    val dst = new Path(tablePath(warehouse, name))
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
          .write.partitionBy(s).mode("overwrite").text(tmp.toString)
      case None =>
        val sorted = if (orderBy.nonEmpty)
          df.sortWithinPartitions(orderBy.head, orderBy.tail: _*) else df
        sorted.toJSON.write.mode("overwrite").text(tmp.toString)
    }
    if (fs.exists(bak)) fs.delete(bak, true)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, bak))
      throw new java.io.IOException(s"could not move $dst aside to $bak")
    if (!fs.rename(tmp, dst)) {
      if (hadOld) fs.rename(bak, dst)
      throw new java.io.IOException(s"could not swap $tmp into $dst")
    }
    if (hadOld) fs.delete(bak, true)
  }
}
