package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** P1-P4 + S7: normalize a raw Citibike CSV member (any historical
  * header generation) to the canonical 12-column schema.
  *
  * Reference behavior (`clean_up.py:44-74`): rename headers
  * (whitespace -> underscore, lowercase, synonym map), null-pad missing
  * canonical columns, project, cast. Timestamps parse via a
  * multi-format chain (`clean_up.py:47-52`). Renaming, null-padding and
  * projection happen per member in [[Ingest.parseMember]]; the cast
  * runs here, as codegen'd expressions that do not shuffle.
  */
object Normalize {

  /** `cleanup_columns` (`clean_up.py:71-74`). */
  def cleanColumnName(c: String): String = {
    val underscored = c.replaceAll("\\s", "_").toLowerCase
    TripSchema.renameMap.getOrElse(underscored, underscored)
  }

  /** Multi-format timestamp parse: first format that matches wins
    * (Arrow tries its parsers in order; ISO is its built-in default). */
  def parseTimestamp(c: Column): Column =
    coalesce(TripSchema.timestampFormats.map(f => try_to_timestamp(c, lit(f))): _*)

  private def castTo(c: Column, dt: DataType): Column = dt match {
    // raw CSV columns are strings; timestamps need the format chain
    case TimestampType => parseTimestamp(c)
    case other => c.cast(other)
  }

  /** P4: type the canonical string columns that [[Ingest.parseMember]]
    * produced (renamed, null-padded and in canonical order): timestamps
    * through the format chain, the rest by plain cast. */
  def castCanonical(raw: DataFrame): DataFrame =
    raw.select(TripSchema.canonical.fields.map(f =>
      castTo(col(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
}
