package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit tool (not part of the driver contract): prints the
  * formatted physical plan of registered queries, or times one query.
  *
  * Usage:
  *   graft.tools.Probe explain [sfDir] [queryName ...]
  *   graft.tools.Probe time <queryName> [sfDir] [repeats]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = args.headOption.getOrElse("explain")
    mode match {
      case "time" =>
        require(args.length >= 2 &&
          graft.queries.Registry.queries.contains(args(1)),
          s"usage: Probe time <queryName> [sfDir] [repeats]; known: " +
            graft.queries.Registry.queries.keys.toSeq.sorted.mkString(", "))
        val name = args(1)
        val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        val reps = if (args.length > 3) args(3).toInt else 3
        for (i <- 1 to reps) {
          val t0 = System.nanoTime()
          graft.queries.Registry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case _ =>
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
        val names = if (args.length > 2) args.drop(2).toSeq
          else graft.queries.Registry.queries.keys.toSeq.sorted
        names.foreach { n =>
          println(s"##### $n")
          println(graft.queries.Registry.queries(n)(spark, dir)
            .queryExecution.explainString(FormattedMode).take(4000))
        }
    }
    spark.stop()
  }
}
