package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.NONE

/** The pin contract: identical results either way; local blocks by
  * default, files under graft.checkpoint.dir when set (the cluster
  * posture — localCheckpoint blocks die with their executor and the
  * truncated lineage cannot recompute them). */
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
