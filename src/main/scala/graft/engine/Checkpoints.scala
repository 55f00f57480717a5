package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Eager result pinning with a cluster-safe escape hatch, and the two
  * owners that free what is pinned or cached: an operator's
  * [[scoped]] block and a registered query's [[query]] scope.
  *
  * Several operators pin an intermediate result and truncate its
  * lineage (LSH dup edges, contamination reports, converged component
  * labels): the upstream plan is expensive, referenced more than once,
  * and — for the CC kernel — must not be re-planned per iteration.
  * Locally `localCheckpoint(eager = true)` is the right tool: blocks
  * stay in executor memory/disk, no filesystem round-trip.
  *
  * On a real cluster localCheckpoint is a liveness bet: the blocks die
  * with their executor and the TRUNCATED lineage cannot recompute them
  * — a lost executor mid-job fails the whole query. Setting
  * `graft.checkpoint.dir` (session conf) switches every pin to a
  * reliable checkpoint under that path (HDFS/object store), which
  * survives executor loss at the cost of one write+read. Leave it
  * unset on single-node runs; set it on any cluster where executor
  * churn is expected (spot instances, autoscaling, 1000-executor
  * 100 TB jobs).
  *
  * Checkpoint-file lifecycle: Spark deletes reliable checkpoint data
  * when the pinned RDD is garbage-collected ONLY if
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` was set in
  * the SparkConf at context creation (it is read once by
  * ContextCleaner). Set it on long-lived clusters that pin repeatedly;
  * without it, each context leaves one UUID subdirectory under
  * [[DirKey]] that needs an external lifecycle rule (object-store TTL
  * or a post-job sweep).
  */
object Checkpoints {

  /** Session conf key: when set, [[pin]] checkpoints reliably under
    * this directory instead of into executor-local blocks. */
  val DirKey = "graft.checkpoint.dir"

  // SparkContext.setCheckpointDir mints a fresh UUID subdirectory on
  // every call — only (re)set it when the configured value changes for
  // THIS context, or repeated pins would litter one subdir per call.
  // Keyed weakly by SparkContext: a restarted context arrives with no
  // checkpoint dir, and a dir remembered from the dead context must
  // not suppress the set (a process-global Option[String] did exactly
  // that, making the first pin after a restart throw).
  private val appliedDir =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]()

  /** Materialize `df` eagerly into the block cache WITHOUT truncating
    * lineage: cache + count. The count executes through any
    * still-cached upstream frames (the plan cache), so an operator can
    * materialize its small result and then let its [[scoped]] block
    * release its internal caches at the cost of one cached-path
    * execution. Prefer this over [[pin]] for "materialize before
    * unpersist": cost-neutral at query time (measured q23 2.2 -> 1.8 s,
    * q22/q64 unchanged), and lineage SURVIVES, so an evicted or
    * executor-lost block recomputes where a pin's truncated lineage
    * fails the query. Reserve [[pin]] for where truncation is the point.
    *
    * Like [[cache]] and [[pin]], the frame belongs to the [[query]]
    * scope being built, if any, which frees it after the serving
    * action, so a second run recomputes instead of reading this call's
    * blocks (the block cache dedupes by logical plan). */
  def materialize(df: DataFrame): DataFrame = owner.materialize(df)

  /** `df.cache()`, owned like [[materialize]]. */
  def cache(df: DataFrame): DataFrame = owner.cache(df)

  /** Materialize `df` eagerly and truncate its lineage: local blocks
    * by default, a reliable checkpoint when [[DirKey]] is set. Owned
    * like [[materialize]]; `Dataset.unpersist` does NOT free it (see
    * [[release]]). */
  def pin(df: DataFrame): DataFrame = owner.pin(df)

  /** Release a frame returned by [[pin]] (or `localCheckpoint`), as a
    * [[Scope]] does for every pin it took. `Dataset.unpersist` silently
    * does nothing here: it only evicts CacheManager entries, and a
    * checkpointed frame's persistence lives on the RDD that
    * `localCheckpoint` registered directly with the block manager.
    *
    * Unpersists every persisted `LogicalRDD` leaf of the analyzed plan,
    * so call it ONLY with the pinned frame itself: a plan that shares
    * an upstream pin with live consumers would release their blocks
    * too, and truncated lineage cannot recompute them. Reliable
    * checkpoints (DirKey set) keep their files: their RDDs are not
    * block-manager-persisted (file lifecycle as documented above). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getStorageLevel != StorageLevel.NONE =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The intermediates one operator or one query takes. Each is
    * recorded with the call that frees it — `unpersist` for a cache or
    * an RDD persist, [[release]] for a pin — and closing the scope
    * frees whatever is still recorded, newest first. */
  final class Scope private[Checkpoints] {
    private val taken =
      scala.collection.mutable.ArrayBuffer.empty[(AnyRef, () => Unit)]

    private[Checkpoints] def record[A <: AnyRef](a: A)(free: A => Unit): A =
      synchronized {
        taken += (a -> (() => free(a)))
        a
      }

    /** `df.cache()`, unpersisted when the scope closes. */
    def cache(df: DataFrame): DataFrame =
      record(df.cache())(_.unpersist(blocking = false))

    /** [[Checkpoints.materialize]] into this scope only: cached and
      * counted now, unpersisted when the scope closes. */
    def materialize(df: DataFrame): DataFrame = {
      val out = cache(df)
      out.count()
      out
    }

    /** [[Checkpoints.pin]] into this scope only, released when the
      * scope closes. */
    def pin(df: DataFrame): DataFrame = record {
      val spark = df.sparkSession
      spark.conf.getOption(DirKey) match {
        case Some(dir) =>
          val sc = spark.sparkContext
          appliedDir.synchronized {
            if (appliedDir.get(sc) != dir || sc.getCheckpointDir.isEmpty) {
              sc.setCheckpointDir(dir)
              appliedDir.put(sc, dir)
            }
          }
          df.checkpoint(eager = true)
        case None => df.localCheckpoint(eager = true)
      }
    }(Checkpoints.release)

    /** `rdd.persist(MEMORY_AND_DISK)`, unpersisted when the scope
      * closes. */
    def persist[R](rdd: RDD[R]): RDD[R] =
      record(rdd.persist(StorageLevel.MEMORY_AND_DISK))(
        _.unpersist(blocking = false))

    /** Free one recorded intermediate now — a loop-internal one that a
      * newer one supersedes, so memory stays bounded by one iteration.
      * A frame the scope did not take is left alone. */
    def release(a: AnyRef): Unit = synchronized {
      taken.indexWhere(_._1 eq a) match {
        case -1 => ()
        case i => taken.remove(i)._2()
      }
    }

    private[Checkpoints] def close(): Unit = synchronized {
      taken.reverseIterator.foreach(_._2())
      taken.clear()
    }
  }

  /** Run one operator's `body` with a [[Scope]] that owns its
    * intermediates: every cache and pin taken through the scope is
    * freed, newest first, when `body` returns or throws. The frame
    * `body` returns is not the scope's — a result that reads an
    * intermediate must [[materialize]] (or [[pin]]) before it
    * returns, as the intermediate is gone after; the query scope owns
    * that result. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.close()
  }

  // The query scope being built on this thread — a DynamicVariable is
  // inherited, so a streaming drain's foreachBatch thread started by
  // the build records into it too — and, per session, the last built
  // query's scope, freed at the latest by the session's next build.
  private val building = new scala.util.DynamicVariable[Scope](null)
  private val unserved = new java.util.WeakHashMap[SparkSession, Scope]()
  private val markers = new java.util.concurrent.atomic.AtomicLong()

  /** The scope a top-level [[materialize]]/[[cache]]/[[pin]] records
    * into: the query being built, else a throwaway one (no owner). */
  private def owner: Scope = Option(building.value).getOrElse(new Scope)

  /** Build one query in a query scope that owns every [[materialize]],
    * [[cache]] and [[pin]] taken (not through a [[Scope]]'s own
    * methods) while `build` runs. The scope is freed after the first
    * completed action over the returned frame, which carries a unique
    * `SubqueryAlias` marker: an action issued during the build cannot
    * contain it, so neither it nor its late listener event releases
    * early. A build that throws frees its scope at once; a frame that
    * never runs has its scope freed by the session's next build. So a
    * returned frame serves one action — build again for another (a
    * pin's truncated lineage cannot be recomputed once freed). */
  def query(spark: SparkSession)(build: => DataFrame): DataFrame = {
    unserved.synchronized(Option(unserved.remove(spark))).foreach(_.close())
    val scope = new Scope
    val out =
      try building.withValue(scope)(build)
      catch { case e: Throwable => scope.close(); throw e }
    val marker = s"graft_query_${markers.incrementAndGet()}"
    val lm = spark.listenerManager
    val served = new QueryExecutionListener {
      private def fire(qe: QueryExecution): Unit =
        if (qe.analyzed.exists {
              case a: SubqueryAlias => a.alias == marker
              case _ => false
            }) scope.close()
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = fire(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = fire(qe)
    }
    lm.register(scope.record(served)(lm.unregister))
    unserved.synchronized(unserved.put(spark, scope))
    out.as(marker)
  }

  /** How long [[awaitClean]] waits for a query scope's release, which
    * runs on the listener bus once the serving action's event lands. */
  val ReleaseWaitMs = 5000L

  /** Whether `spark` holds no cached plan and no persistent RDD,
    * polling for up to [[ReleaseWaitMs]]; returns at once when the
    * session is already clean. */
  def awaitClean(spark: SparkSession): Boolean = {
    def clean = spark.sharedState.cacheManager.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty
    val deadline = System.nanoTime() + ReleaseWaitMs * 1000000L
    while (!clean && System.nanoTime() < deadline) Thread.sleep(10)
    clean
  }
}
