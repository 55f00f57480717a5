package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.NONE

/** The pin contract: identical results either way; local blocks by
  * default, files under graft.checkpoint.dir when set (the cluster
  * posture — localCheckpoint blocks die with their executor and the
  * truncated lineage cannot recompute them). Then who frees what:
  * an operator's [[Checkpoints.scoped]] block and a query's
  * [[Checkpoints.query]] scope. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("pin defaults to localCheckpoint (no checkpoint files) and " +
    "switches to reliable files under graft.checkpoint.dir") {
    val df = (1L to 100L).toDF("id").withColumn("sq", col("id") * col("id"))

    // default: no conf -> local blocks, nothing written anywhere
    val local = Checkpoints.pin(df)
    assert(local.count() == 100)
    assert(local.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    val bpeDocs = Seq((1L, "low lower lowest"), (2L, "newer newest low"))
      .toDF("doc_id", "text")
    val bpeLocal = graft.ops.Bpe.trainMerges(bpeDocs, 4).collect().toSeq

    val dir = new java.io.File(tmpDir("reliable-ckpt")).getAbsolutePath
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val reliable = Checkpoints.pin(df)
      assert(reliable.count() == 100)
      assert(reliable.as[(Long, Long)].collect().toSet ==
        local.as[(Long, Long)].collect().toSet)
      // the pinned result is backed by files under the configured dir
      def filesUnder(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(filesUnder) else Seq(f)
      assert(filesUnder(new java.io.File(dir)).nonEmpty,
        s"no checkpoint files under $dir")
      // operators built on pin keep working with the conf set: the CC
      // kernel pins its edge list and its converged labels
      val labels = graft.ops.Dedup.componentLabels(
        Seq(1L, 2L, 3L, 4L).toDF("id"),
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
      val roots = labels.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(roots == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
      // BPE training pins every round through the same switch
      val filesBefore = filesUnder(new java.io.File(dir)).size
      assert(graft.ops.Bpe.trainMerges(bpeDocs, 4).collect().toSeq == bpeLocal)
      assert(filesUnder(new java.io.File(dir)).size > filesBefore,
        s"Bpe.trainMerges wrote no checkpoint files under $dir")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("release frees a pin's block-store entry (Dataset.unpersist " +
    "cannot — it only talks to the CacheManager)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = Checkpoints.pin(
      (1L to 50L).toDF("id").withColumn("sq", col("id") * col("id")))
    val afterPin = sc.getPersistentRDDs.keySet
    assert((afterPin -- before).nonEmpty,
      "pin should register a persistent RDD")
    // the wrong tool first, as a canary: if a future Spark version
    // makes Dataset.unpersist reach checkpointed RDDs, release becomes
    // redundant and this assertion will say so
    pinned.unpersist(blocking = true)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "Dataset.unpersist now frees localCheckpoint blocks — " +
        "Checkpoints.release may be simplifiable")
    Checkpoints.release(pinned)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "release must drop the pinned RDD from the block-store ledger")
  }

  test("scoped releases every cache and pin its body took, also when " +
    "the body throws, and keeps the materialized result it returns") {
    val sc = spark.sparkContext
    def frame(n: Long) =
      (1L to n).toDF("id").withColumn("sq", col("id") * col("id"))

    // a body that throws after taking a cache and a pin
    val before = sc.getPersistentRDDs.keySet
    var cached: DataFrame = null
    intercept[IllegalStateException] {
      Checkpoints.scoped { scope =>
        cached = scope.cache(frame(30))
        assert(cached.count() == 30)
        scope.pin(frame(40))
        assert((sc.getPersistentRDDs.keySet -- before).size == 2)
        throw new IllegalStateException("operator failed")
      }
    }
    assert(cached.storageLevel == NONE,
      "the cache outlived the failed body")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the failed body left persistent RDDs behind")

    // a body that returns a materialized result read from both
    val before2 = sc.getPersistentRDDs.keySet
    var inter: DataFrame = null
    val out = Checkpoints.scoped { scope =>
      inter = scope.cache(frame(50))
      val pinned = scope.pin(frame(60).withColumnRenamed("sq", "sq2"))
      inter.join(pinned, "id").transform(Checkpoints.materialize)
    }
    assert(inter.storageLevel == NONE,
      "the intermediate cache outlived the body")
    assert(out.storageLevel != NONE, "the result lost its cache")
    assert((sc.getPersistentRDDs.keySet -- before2).size == 1,
      "only the result block may survive the body")
    assert(out.count() == 50)
    out.unpersist(blocking = true)
  }

  test("a query scope frees what its build took after the first action " +
    "over the returned frame — not on a late build-time event — at " +
    "once when the build throws, and at the next build if never served") {
    import org.apache.spark.sql.execution.QueryExecution
    import java.util.concurrent.TimeUnit.SECONDS
    val sc = spark.sparkContext
    val lm = spark.listenerManager
    def frame(n: Long) =
      (1L to n).toDF("id").withColumn("sq", col("id") * col("id"))
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // listListeners is private[spark] in Scala, public in bytecode
    def registered = lm.getClass.getMethod("listListeners").invoke(lm)
      .asInstanceOf[Array[_]].length

    // a build that throws frees its scope at once and registers no
    // listener; like any build, it also frees the scope of a frame an
    // earlier test built and never ran, so the count below is a
    // session's with no query waiting for its serving action
    intercept[IllegalStateException] {
      Checkpoints.query(spark) {
        Checkpoints.pin(frame(20))
        throw new IllegalStateException("build failed")
      }
    }
    assert(sc.getPersistentRDDs.isEmpty, "the failed build kept its pin")
    val listeners = registered

    // a late build-time event: `stall` holds the shared listener queue,
    // which feeds query execution listeners, until the build has
    // returned, so materialize's own count on the result reaches the
    // scope's listener while it waits for its serving action
    val gate = new java.util.concurrent.CountDownLatch(1)
    val stall = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        gate.await(30, SECONDS)
    }
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val actions = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = seen.put(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    sc.addSparkListener(stall)
    lm.register(actions)
    try {
      val served = Checkpoints.query(spark)(
        Checkpoints.materialize(frame(30)))
      gate.countDown()
      frame(5).collect() // a later action: once its event is seen, the
      // scope's listener has handled the build's count
      var seenLast = ""
      while (seenLast != null && seenLast != "collect")
        seenLast = seen.poll(30, SECONDS)
      assert(seenLast == "collect")
      assert(!spark.sharedState.cacheManager.isEmpty,
        "a build-time action released the query scope")
      assert(served.collect().length == 30)
      assert(Checkpoints.awaitClean(spark),
        "the serving action did not release the query scope")
    } finally {
      gate.countDown()
      sc.removeSparkListener(stall)
      lm.unregister(actions)
    }
    assert(registered == listeners)

    // a frame that never runs: the next build frees its scope and
    // removes its listener
    Checkpoints.query(spark)(Checkpoints.pin(frame(40)))
    assert(sc.getPersistentRDDs.nonEmpty)
    assert(registered == listeners + 1)
    val next = Checkpoints.query(spark)(Checkpoints.materialize(frame(10)))
    assert(sc.getPersistentRDDs.size == 1,
      "the unserved frame's pin outlived the next build")
    assert(registered == listeners + 1,
      "the unserved frame's listener outlived the next build")
    next.write.format("noop").mode("overwrite").save()
    assert(Checkpoints.awaitClean(spark))
    assert(registered == listeners)

    // a registered query with a pin inside its result (q35's component
    // labels) leaves the session clean after its serving action, and
    // a second build recomputes the same rows
    val q35 = graft.queries.Registry.queries("q35_dedup_clusters")
    val sf = "/root/testdata/sf0.001"
    val rows = q35(spark, sf).collect().toSeq
    assert(rows.nonEmpty)
    assert(Checkpoints.awaitClean(spark), "q35 left state behind")
    assert(q35(spark, sf).collect().toSeq == rows)
  }

}

/** The restart leg of the pin contract lives in its OWN suite that
  * never touches the shared `SparkSpec.spark` lazy val: the test must
  * stop and rebuild the process-global SparkContext, and a suite-level
  * session reference evaluated before the stop would dangle for every
  * test after it (it only "worked" while this was the last test of
  * CheckpointsSpec). This suite builds its sessions explicitly, so no
  * stale reference can exist. */
class CheckpointsRestartSpec extends graft.SparkSpec {

  test("pin with graft.checkpoint.dir survives a SparkContext restart") {
    val dir = new java.io.File(tmpDir("restart-ckpt")).getAbsolutePath
    def freshSession(): org.apache.spark.sql.SparkSession = {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      val s = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.conf.set(Checkpoints.DirKey, dir)
      s
    }
    def pinnedCount(s: org.apache.spark.sql.SparkSession): Long = {
      import s.implicits._
      Checkpoints.pin((1L to 10L).toDF("id")).count()
    }
    val s1 = freshSession()
    assert(pinnedCount(s1) == 10)
    s1.stop()
    // pre-fix: the dir remembered from the dead context suppressed
    // setCheckpointDir on the new one and this pin threw
    // "Checkpoint directory has not been set"
    val s2 = freshSession()
    try assert(pinnedCount(s2) == 10)
    finally {
      s2.stop()
      // leave a context matching the shared SparkSpec config for any
      // suite that runs after us in this JVM
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
  }
}
