package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Stage-level breakdown for the 8-core-beats-32 inversion diagnosis
  * (round-18 verdict item 3/6): runs ONE registered query in a fresh
  * session at the given core count with a stage listener, and prints
  * per-stage (tasks, executor-run-time sum, task-time sum, wall) so
  * the inflating stage can be named instead of guessed. Fresh-session
  * + warm-up + timed-run methodology matches the bench.
  *
  * Usage: ProbeCoreScaling <query-substring> <cores> [sfDir] */
object ProbeCoreScaling {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProbeCoreScaling <query> <cores> [sfDir]")
    val cores = args(1).toInt
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val name = graft.SparkEntry.queries.keys.toSeq.sorted
      .find(_.contains(args(0))).getOrElse(sys.error(s"no query ${args(0)}"))
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def once(): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up (absorbs codegen/JIT/footers)

    case class St(name: String, tasks: Int, runMs: Long, cpuMs: Long,
                  gcMs: Long, wallMs: Long, submitted: Long)
    val stages = mutable.ArrayBuffer[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += St(i.name.takeWhile(_ != '\n').take(60), i.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.jvmGCTime,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          i.submissionTime.getOrElse(0L))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val wall = once()
    spark.sparkContext.removeSparkListener(listener)
    // let the async bus drain
    Thread.sleep(1000)

    println(f"=== $name @ local[$cores]: wall $wall%.2f s, " +
      s"${stages.size} stages, ${stages.map(_.tasks).sum} tasks")
    val t0 = stages.map(_.submitted).minOption.getOrElse(0L)
    stages.sortBy(_.submitted).foreach { s =>
      println(f"[stage] +${(s.submitted - t0) / 1000.0}%7.2fs wall=${s.wallMs}%6dms " +
        f"tasks=${s.tasks}%4d run=${s.runMs}%6dms cpu=${s.cpuMs}%6dms " +
        f"gc=${s.gcMs}%5dms  ${s.name}")
    }
    val sched = stages.map(s => s.runMs - s.cpuMs).sum
    println(f"[total] run=${stages.map(_.runMs).sum}ms cpu=${stages.map(_.cpuMs).sum}ms " +
      f"gc=${stages.map(_.gcMs).sum}ms runMinusCpu=${sched}ms")
    spark.stop()
  }
}
