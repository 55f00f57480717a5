package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so
  * spans line up with the millisecond timestamps Spark puts on task
  * and job events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Counters the benchmark reads from its own session: a SparkListener
  * for tasks and jobs, a QueryExecutionListener for planning phases and
  * a StreamingQueryListener for micro-batch progress. Aggregates are
  * always kept; per-event records only while `detail` is on (the
  * traced run). */
final class Recorder extends SparkListener {
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  @volatile var detail = false
  /** (launch ms, finish ms, executor cpu ns, executor run ms) */
  val taskRecs = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]
  val jobTimes = new ConcurrentLinkedQueue[Long]
  /** (earliest phase start ms, summed analysis/optimization/planning ms) */
  val planRecs = new ConcurrentLinkedQueue[(Long, Long)]
  /** (trigger start ms, durationMs entries) */
  val progressRecs = new ConcurrentLinkedQueue[(Long, Map[String, Long])]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (detail) taskRecs.add((e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.executorRunTime))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (detail) jobTimes.add(e.time)

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = if (detail) {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) planRecs.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (detail) {
      val p = e.progress
      progressRecs.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def clearDetail(): Unit = {
    taskRecs.clear(); jobTimes.clear(); planRecs.clear(); progressRecs.clear()
  }
}

/** Largest heap in use right after a collection, from the JVM's GC
  * notifications. */
object HeapWatch {
  @volatile private var peak = 0L

  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def reset(): Unit = peak = 0L

  /** Peak live heap in MB since the last reset. Collects once first,
    * so a region with no collection of its own still has a sample. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200) // notifications are delivered asynchronously
    peak / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** In-memory span recorder: name, start, end and parent, written out
  * when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, t0: Double, var t1: Double)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), Clock.ms, Double.NaN)
      spans += s
      open = s.id :: open
      try body
      finally {
        s.t1 = Clock.ms
        open = open.tail
      }
    }
}

/** Minimal JSON writer for the run's raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Seq[_]] =>
      p.productIterator.map(apply).mkString("[", ",", "]")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
