package graft.engine.builders

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The StatusDataTable manifest builder (`update_status_data.py:9-51`,
  * schema `table_list.py:64-68`: year INT, month INT, complete BOOL).
  *
  * Reference semantics — one row per year:
  *   - monthly archive: row becomes (year, month, false) — the month
  *     field holds the LAST loaded month, not a high-water mark;
  *   - yearly archive: row becomes (year, NULL, true).
  */
object StatusData {

  val schema: StructType = StructType(Seq(
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("complete", BooleanType)))

  /** Record one loaded archive; replaces the year's row. */
  def markLoaded(existing: DataFrame, year: Int, month: Option[Int]): DataFrame = {
    val spark = existing.sparkSession
    val delta = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        Integer.valueOf(year),
        month.map(Integer.valueOf).orNull,
        java.lang.Boolean.valueOf(month.isEmpty))),
      schema)
    existing.filter(col("year") =!= year).unionByName(delta)
  }

  /** Is this (year, month) archive already recorded?
    * (`new_file_check.py`: exact row equality — a monthly file is only
    * skipped when the manifest's month for that year equals it.) */
  def alreadyLoaded(manifest: DataFrame, year: Int, month: Option[Int]): Boolean = {
    val cond = month match {
      case Some(m) => col("year") === year && col("month") === m
      case None => col("year") === year && col("month").isNull
    }
    !manifest.filter(cond).limit(1).isEmpty
  }
}
