package graft.ops

import graft.SparkSpec
import graft.engine.Checkpoints

/** The vocabulary-join forms the lexical kernels ship: q91's
  * reference overlap serves its vocabulary from
  * [[VocabJoin.joinCached]] (PLANS.md round 17: 1.22 → 0.85 s at
  * sf0.1), a cache its query scope releases after the serving
  * action, while q131/q136 stay on [[VocabJoin.joinBounded]], whose
  * only extra action is the HLL bound. Their rows are pinned by RetrievalSpec,
  * PipelineOpsSpec and VocabJoinSpec. */
class VocabJoinCachedSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the cat sat on the mat", "src0"),
    (1L, "the dog ate the cat food", "src1"),
    (2L, "a mat and a cat and a dog", "src0"),
    (3L, "the cat sat on the mat", "src1"),
    (4L, "entirely novel words here today", "src1"))
    .toDF("doc_id", "text", "source")

  test("the shipped q91 form serves the vocabulary from the cache " +
    "(InMemoryRelation in the executed plan)") {
    spark.sharedState.cacheManager.clearCache()
    val out = TextAnalysis.referenceOverlapScore(corpus, "src0", 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("InMemoryRelation"),
      s"expected the cached ref vocabulary in the serving plan:\n$plan")
    spark.sharedState.cacheManager.clearCache()
  }

  test("round 18 lifecycle: the q91 vocab cache is RELEASED after the " +
    "serving action completes in a held-open session") {
    // a held-open session must not keep one vocab-sized CacheManager
    // entry per call: the query scope unpersists it once the serving
    // action completes
    spark.sharedState.cacheManager.clearCache()
    val out = Checkpoints.query(spark)(
      TextAnalysis.referenceOverlapScore(corpus, "src0", 1))
    assert(!spark.sharedState.cacheManager.isEmpty,
      "fixture: the dispatch count must have populated the cache")
    out.write.format("noop").mode("overwrite").save() // the serving action
    assert(Checkpoints.awaitClean(spark),
      "the vocab cache must not linger after the serving action")
  }

  test("round 18 lifecycle: the over-budget joinCached branch never " +
    "parks the vocabulary in the block store") {
    // caching the frame BEFORE the size dispatch materializes into
    // executor memory exactly the vocabulary the shuffle_hash branch
    // exists to keep out of it — so the build itself must drop it,
    // before any serving action lets the query scope free anything
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("graft.vocab.broadcastMaxRows", "0")
    try {
      val out = Checkpoints.query(spark)(
        TextAnalysis.referenceOverlapScore(corpus, "src0", 1))
      assert(spark.sharedState.cacheManager.isEmpty,
        "the dispatch-count cache must be dropped on the shuffled branch")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"over-budget branch must shuffle-hash join:\n$plan")
      assert(!plan.contains("InMemoryTableScan"),
        s"over-budget branch must not serve from a cache:\n$plan")
      out.collect()
      assert(Checkpoints.awaitClean(spark))
    } finally spark.conf.unset("graft.vocab.broadcastMaxRows")
  }

  test("round 18 bound dispatch: tfidf/clusterKeywords evaluate in " +
    "exactly TWO executions, and the dispatch action is the HLL bound " +
    "— it touches neither the tf aggregate nor the cluster join") {
    // r17 verdict item 4: VocabJoin.plan()'s exact count evaluated the
    // whole corpus-sized df lineage once beyond the serving action
    // (for q136: cluster join + (cluster, token) tf + df — measured
    // ~2 s of its 4.4 s settled). joinBounded's only extra action is
    // the one-pass HLL sketch over the token stream.
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { seen.add(qe.analyzed.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def settledCount(expect: Int): Int = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline &&
             (seen.size < expect || seen.size != last)) {
        last = seen.size; Thread.sleep(200)
      }
      seen.size
    }
    val clusters = Dedup.dupClusters(corpus, 0.8, bucketCap = Some(16))
      .collect() // pre-materialize the fixture OUTSIDE the counted window
    val clustersDf = clusters.toSeq.map(r =>
      (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("cluster_root"))))
      .toDF("doc_id", "cluster_root")
    spark.listenerManager.register(listener)
    try {
      assert(Retrieval.clusterKeywords(corpus, clustersDf, 2)
        .collect().nonEmpty)
      assert(settledCount(2) === 2,
        s"expected 2 executions (HLL bound + collect), got ${seen.size}")
      val bound = seen.get(0)
      assert(bound.contains("approx_count_distinct"),
        s"dispatch action must be the HLL sketch:\n$bound")
      assert(!bound.contains(" tf#") && !bound.toLowerCase.contains("join"),
        s"dispatch action must not evaluate the tf aggregate or the " +
          s"cluster join:\n$bound")
      seen.clear()
      assert(Retrieval.tfidfKeywords(corpus, 2).collect().nonEmpty)
      assert(settledCount(2) === 2,
        s"expected 2 executions (HLL bound + collect), got ${seen.size}")
      assert(seen.get(0).contains("approx_count_distinct"))
      assert(!seen.get(0).contains(" tf#"))
    } finally spark.listenerManager.unregister(listener)
  }
}
