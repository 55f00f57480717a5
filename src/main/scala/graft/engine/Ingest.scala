package graft.engine

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.ZipInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S5/S6 + F9 + O5: archive discovery, ZIP extraction, CSV ingestion.
  *
  * Reference: `zip_processing.py:28-84` (member enumeration, skip
  * `__MACOSX/` and `._*`, one-level nested-zip recursion) and
  * `parser.py:4-43` (filename regexes; note the module defines
  * `parse_file_date` twice — the second definition, returning
  * (None, None) on miss, wins and is the one modeled here).
  *
  * One ingest path: [[readArchiveDistributed]] reads each archive in a
  * single executor task that extracts the members, parses each with
  * its own header ([[parseMember]]: header generations differ across a
  * decade of files) and fails if the archive holds no CSV member.
  */
object Ingest {

  /** One archive = one logical load unit (year, optional month). */
  final case class Archive(path: String, year: String, month: Option[String]) {
    /** chronological key (`ingestion.py:34,105-109`; unknown → last) */
    def sortKey: Long =
      try { year.toLong * 100 + month.map(_.toLong).getOrElse(0L) }
      catch { case _: NumberFormatException => Long.MaxValue }
  }

  private val zipName = """^(\d{4})(\d{2})?-citibike-tripdata(\.csv)?\.zip$""".r

  /** F9: `parse_file_name` (`parser.py:30-36`). */
  def parseFileName(name: String): Option[(String, Option[String])] =
    name match {
      case zipName(y, m, _) => Some((y, Option(m)))
      case _ => None
    }

  /** S2/S5 (+S1 remote form): list archives in a directory, keep
    * matching names (drops `JC-*`, html, etc. by regex), chronological
    * order. Scheme-agnostic via the Hadoop `FileSystem` API — a bare
    * path or `file://` URI lists locally; `s3a://bucket/prefix` (the
    * reference's `s3://tripdata` listing, `ingestion.py:61-90`) resolves
    * through the s3a connector with the same code path. */
  def listArchives(dir: String,
                   conf: org.apache.hadoop.conf.Configuration =
                     new org.apache.hadoop.conf.Configuration()): Seq[Archive] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.exists(p)) fs.listStatus(p).toSeq.filter(_.isFile)
      else Seq.empty
    files.flatMap { st =>
      parseFileName(st.getPath.getName).map { case (y, m) =>
        Archive(st.getPath.toString, y, m)
      }
    }.sortBy(_.sortKey)
  }

  /** S6: extract CSV members (bytes) from a ZIP, skipping macOS junk,
    * recursing one level into nested zips (`zip_processing.py:28-84`). */
  def extractCsvMembers(zipBytes: Array[Byte], depth: Int = 0): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    val zin = new ZipInputStream(new ByteArrayInputStream(zipBytes))
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        val name = entry.getName
        val base = name.substring(name.lastIndexOf('/') + 1)
        val junk = name.startsWith("__MACOSX/") || base.startsWith("._") ||
          entry.isDirectory
        if (!junk && name.toLowerCase.endsWith(".csv")) {
          out += ((name, readAll(zin)))
        } else if (!junk && name.toLowerCase.endsWith(".zip") && depth == 0) {
          out ++= extractCsvMembers(readAll(zin), depth = 1)
        }
        entry = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  private def readAll(zin: ZipInputStream): Array[Byte] = {
    val buf = new Array[Byte](64 * 1024)
    val bos = new ByteArrayOutputStream()
    var n = zin.read(buf)
    while (n >= 0) { bos.write(buf, 0, n); n = zin.read(buf) }
    bos.toByteArray
  }

  /** P1-P3 per member: CSV parse (univocity — the parser Spark's own
    * CSV source uses, so quoted commas and embedded newlines are
    * handled), header normalized via the synonym map
    * ([[Normalize.cleanColumnName]]), records surfaced as
    * canonical-order string rows (null for absent columns).
    * Whitespace is preserved and quoted-empty fields stay "" (matching
    * the reference's Arrow reader: no trimming, empties as written). */
  private[engine] def parseMember(bytes: Array[Byte]): Iterator[org.apache.spark.sql.Row] = {
    val names = TripSchema.canonical.fieldNames
    val settings = new com.univocity.parsers.csv.CsvParserSettings
    settings.setMaxCharsPerColumn(-1)
    settings.setMaxColumns(512)
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    settings.setEmptyValue("")
    val parser = new com.univocity.parsers.csv.CsvParser(settings)
    val it = parser.iterate(
      new java.io.ByteArrayInputStream(bytes), "UTF-8").iterator()
    if (!it.hasNext) Iterator.empty
    else {
      val header = it.next().map(c =>
        Normalize.cleanColumnName(Option(c).getOrElse("")))
      val idx = names.map(n => header.indexOf(n))
      new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = it.hasNext
        def next(): org.apache.spark.sql.Row = {
          val rec = it.next()
          org.apache.spark.sql.Row(idx.map { i =>
            if (i < 0 || i >= rec.length) null else rec(i)
          }.toIndexedSeq: _*)
        }
      }
    }
  }

  private val canonicalStringSchema = org.apache.spark.sql.types.StructType(
    TripSchema.canonical.fieldNames.map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)))

  /** S7 + U1: the one path from an archive to normalized trip rows
    * (`zip_processing.py:10-84` + `clean_up.py:44-74`), run on the
    * executors so the archive bytes never touch the driver.
    * `binaryFiles` ships the ZIP to one task; there its members are
    * extracted ([[extractCsvMembers]]) and CSV-parsed with headers
    * renamed ([[parseMember]]), and [[Normalize.castCanonical]] types
    * the columns as ordinary expressions.
    *
    * An archive with no CSV member, nested zips included, fails that
    * task with "no CSV members in <path>" instead of loading zero rows.
    * The read is lazy, so the failure surfaces at the first action on
    * the result; in [[CitibikePipeline]] that is the staged fact write,
    * before the commit point.
    *
    * Scale notes: parallelism is one task per archive — the right unit
    * when loading years of monthly files at once; at true 100 TB scale
    * CSVs would be pre-extracted so each member splits further. */
  def readArchiveDistributed(spark: SparkSession, archive: Archive): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(archive.path)
      .flatMap { case (path, pds) =>
        val members = extractCsvMembers(pds.toArray())
        require(members.nonEmpty, s"no CSV members in $path")
        members.iterator.flatMap { case (_, bytes) => parseMember(bytes) }
      }
    Normalize.castCanonical(spark.createDataFrame(rows, canonicalStringSchema))
  }
}
