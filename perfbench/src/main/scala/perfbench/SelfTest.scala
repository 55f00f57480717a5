package perfbench

import java.io.File
import org.apache.spark.sql.functions._
import graft.engine.{CitibikePipeline, TableStore}

/** Checks the warehouse checker: a clean load passes, a warehouse with
  * one tampered table is rejected with a changed digest, and a top-30
  * cut the data leaves open accepts exactly the rows it could keep.
  *
  * Usage: perfbench.SelfTest <scratch dir>   (exit 0 when all hold)
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = new File(argv(0)).getAbsoluteFile
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val (a, b, c) = (("2023", Some("classic_bike"), "A", "B"),
      ("2023", Some("electric_bike"), "A", "B"), ("2023", None, "C", "D"))
    val open = Expected.empty.copy(tripTable = Map(c -> 9L), tripTies = Vector((Seq(a, b), 1, 5L)))
    if (Expected.tripTables(open).toSet != Set(Map(c -> 9L, a -> 5L), Map(c -> 9L, b -> 5L)))
      failures += s"undetermined top-30 cut: ${Expected.tripTables(open)}"
    val spark = Main.session(2, work)
    try {
      val sts = CitibikeGen.stations(3L, 40)
      val archive = CitibikeGen.yearly(new File(work, "in"), 3L, sts, 2022, 60, modern = false)
      val exp = Expected.empty.load(archive)
      val coords = sts.map(s => s.name -> (s.lat, s.lon)).toMap
      val wh = new File(work, "wh").getPath
      CitibikePipeline.run(spark, new File(work, "in").getPath, wh)
      val clean = WarehouseCheck.compare(spark, wh, exp, coords)
      if (clean.nonEmpty) failures += s"clean warehouse rejected: $clean"
      val d0 = WarehouseCheck.digest(spark, wh)

      // one HeatMap cell off by one
      val heat = TableStore.read(spark, wh, "HeatMapTable").cache()
      val first = heat.orderBy("year", "month", "hour").head()
      TableStore.write(heat.withColumn("total_count",
        when(col("year") === first.getString(0) && col("month") === first.getString(1) &&
          col("hour") === first.getInt(2), col("total_count") + 1)
          .otherwise(col("total_count"))), wh, "HeatMapTable")
      heat.unpersist()
      val tampered = WarehouseCheck.compare(spark, wh, exp, coords)
      if (!tampered.exists(_.startsWith("HeatMapTable")))
        failures += s"tampered HeatMapTable not reported: $tampered"
      if (WarehouseCheck.digest(spark, wh) == d0)
        failures += "digest unchanged after tampering"
    } finally spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"SELFTEST FAIL: $f"))
      sys.exit(1)
    }
    println("selftest ok")
  }
}
