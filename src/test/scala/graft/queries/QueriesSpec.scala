package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.Similarity
import graft.engine.Tables

/** Smoke + semantics over the registered capability queries (sf0.001)
  * and ANN recall vs the exact baseline. */
class QueriesSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query returns a non-empty deterministic result") {
    Registry.all.foreach { q =>
      val df = q.fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("every query is run-to-run deterministic (incl. rows-only ones)") {
    // the driver hash-compares results; any nondeterminism (unordered
    // output, unstable ties, random seeds) fails there — catch it here
    Registry.all.foreach { q =>
      val a = q.fn(spark, sf).collect().map(_.toString).toSeq
      val b = q.fn(spark, sf).collect().map(_.toString).toSeq
      assert(a == b, s"${q.name} differs across runs")
    }
  }

  test("q103 leaves the CacheManager empty: the planted corpus is " +
    "scanned per wave, never cached") {
    spark.catalog.clearCache()
    SparkEntry.queries("q103_streaming_dedup_drain")(spark, sf).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q103 left a cached plan behind")
  }

  test("queries and oracleSql keys line up") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
    // round 15: zero rows-only queries — q26/q33 (the last two) got
    // real oracles (annTopKOracle / ivfTopKOracle); every registered
    // query is under the full rows+schema+hash gate
    val rowsOnly = qk -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only: $rowsOnly")
    // every Registry entry is registered exactly once under its own name
    assert(qk.size == Registry.all.size,
      "duplicate query names collapse entries in the driver-facing map")
    // pinned count: catches an accidentally dropped/unregistered query,
    // which the relative check above cannot (both sides shrink together)
    assert(qk.size == 147, s"registry size changed: ${qk.size} — " +
      "update this pin if a query was deliberately added/removed")
  }

  test("no registered query plans a cartesian product; nested-loop " +
    "joins only where a tiny broadcast side is the design") {
    // the brute-force top-k family broadcasts the ~20-row query set and
    // scans the corpus once with a non-equi (vec_id != query_id)
    // condition — a BNLJ whose build side is bounded by nQueries, which
    // is the intended one-pass shape, not an n^2 join; q70 broadcasts
    // its ONE-row percentile-bounds frame onto the doc stream (a scalar
    // join, the cheapest possible BNLJ), and q73 composes that same
    // length-gate stage, inheriting the one-row bounds broadcast;
    // q69/q72/q74 cross-join their plant rows with the ONE-row derived
    // clone-id offset (max(id)+1), and q75 its per-group counts with
    // the ONE-row global min — the same scalar-broadcast shape
    // q76 derives its plants like q69 (1-row clone-id offset); q77
    // composes the length gate's one-row bounds broadcast like q73
    val bnljAllowed = Set("q25_similarity_topk", "q45_ann_recall",
      "q56_quantized_topk", "q58_ivf_recall", "q70_length_gate",
      "q73_curation_pipeline", "q69_lsh_neardup_pairs",
      "q72_phash_dup_pairs", "q74_ivf_neardup_pairs",
      "q75_temperature_mix", "q76_lsh_auto_pairs",
      "q77_pretraining_pipeline",
      // q78/q79 force the broadcast-chunk assignment join (the BNLJ
      // whose build side is the bounded centroid-chunk frame) plus the
      // q74 plant-offset scalar broadcast
      "q78_ivf_join_pairs", "q79_ivf_incremental_pairs",
      "q80_ivf_absorb_pairs", "q81_ivf_auto_pairs",
      // q82 runs the same broadcast-chunk assignment join as q78
      "q82_ivf_lloyd_stats",
      // the PQ ADC family broadcasts the ~20-row (query_id, lut) side
      // with the vec_id != query_id non-equi condition — the q25
      // one-pass shape; q87/q88 inherit it through the ADC shortlist
      "q85_pq_adc_topk", "q86_pq_adc_recall",
      "q87_pq_rerank_topk", "q88_pq_rerank_recall",
      // IVF-PQ runs the broadcast-chunk assignment join (q78's BNLJ)
      // for placement/probes plus the broadcast rerank fetch; q94
      // keeps the probe-side assignment join over the persisted index
      "q89_ivfpq_topk", "q90_ivfpq_recall", "q94_ivfpq_indexed",
      // q99 runs the q86 ADC shape TWICE (raw + rotated corpus);
      // q101 is q90's IVF-PQ shape with the derived cell size;
      // q102 chains three q82 broadcast-chunk assignment joins
      "q99_pq_rotated_recall", "q101_ivfpq_auto_recall",
      "q102_lloyd_train",
      // q104 runs q101's auto-sized IVF-PQ shape twice (raw corpus +
      // rotated corpus) — same broadcast-chunk BNLJ family
      "q104_ivfpq_rotated_serve",
      // q106 serves the streaming-grown index through q94's exact
      // query-time shape (broadcast-chunk probe assignment + the
      // broadcast rerank fetch)
      "q106_streaming_index_grow",
      // q110/q111/q115 cross-join their ONE-row corpus-stats frame
      // (N + avgdl / total-bigram count / total token count) onto
      // vocabulary-sized aggregates — the q75 scalar-broadcast shape;
      // q122/q124 serve the same scoring tail from the postings index
      "q110_bm25_topk", "q111_collocation_lift",
      // q146 is q110's scalar-broadcast shape at passage granularity
      "q146_passage_retrieval",
      "q115_unigram_surprisal", "q122_bm25_indexed",
      "q124_postings_absorb", "q128_postings_compact",
      "q132_bm25_batch",
      // q125 cross-joins the BROADCAST eval-set-sized bench side onto
      // the corpus stream - the q25 bounded-build one-pass shape
      "q125_embedding_contamination", "q131_tfidf_keywords",
      // q136 composes q131's tf·idf over cluster roots — the same
      // scalar-broadcast (N, avgdl-style one-row frame) shape
      "q136_cluster_keywords",
      // q126 cross-joins its ONE-row tau frame onto the k sampled rows
      "q126_priority_sample", "q129_scrub_then_sample",
      // q118 cross-joins the slice LM's ONE-row token total onto both
      // scoring streams; q119 the ONE-row binding-budget min onto the
      // |sources|-row stats frame — the same scalar-broadcast shape
      "q118_stupid_backoff", "q119_mixture_budget",
      // q135 serves q94's shape twice (tombstoned live view + purged
      // rewrite) — the broadcast-chunk probe assignment + broadcast
      // rerank fetch both times
      "q135_index_delete",
      // q137's pre-filter branch is the q25 bounded-build one-pass
      // shape (broadcast ~20 queries, non-equi self-exclusion); its
      // post-filter branch runs assignViaJoin's broadcast-chunk
      // cross join — both bounded build sides by design; q144 runs
      // both of q137's branches as its recall twin
      "q137_filtered_ann", "q144_filtered_ann_recall",
      // q138 composes q110's scalar-broadcast BM25 stats AND the
      // q25-shape one-row query-vector broadcast onto the corpus scan
      "q138_hybrid_rrf",
      // q140 replicates the held-out token stream across the
      // ≤|classes|-row broadcast class-constants frame (plus the
      // one-row V / N scalars onto vocabulary-sized aggregates);
      // q141 cross-joins its ONE-row LM-totals frame onto the B-row
      // bucket counts — the scalar-broadcast shape
      "q140_nb_classifier", "q141_ce_select",
      // q26/q33 cross-join their ONE-row nonzero_norms_ok precondition
      // frame onto the served top-k rows (round 16) — the q75
      // scalar-broadcast shape
      "q26_ann_lsh_topk", "q33_ann_ivf_topk",
      // q147 composes q125's broadcast bench cross join, q140's
      // broadcast class-constants frame, q141's one-row LM totals,
      // q70's one-row length bounds, and q75's one-row mix min — all
      // bounded build sides by design (the capstone's gates add no
      // corpus-sized nested-loop anywhere)
      "q147_curation_capstone")
    Registry.all.foreach { q =>
      val plan = q.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product")
      if (!bnljAllowed(q.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an unexpected nested-loop join")
    }
  }

  test("q91 never shuffles the corpus for a join: the vocabulary joins " +
    "broadcast, and the null-sentinel trick leaves no sort-merge " +
    "join-back of the doc list") {
    val plan = Registry.queries("q91_reference_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"q91 plans a corpus-sized sort-merge join:\n$plan")
    assert(!plan.contains("ShuffledHashJoin"),
      s"q91 plans a shuffled join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "q91's vocabulary join is not broadcast")
  }

  test("q110/q111 join only by broadcast (df / unigram counts / " +
    "1-row stats) and select top-k via TakeOrdered, never a global sort " +
    "of the scored set") {
    Seq("q110_bm25_topk", "q111_collocation_lift",
        "q122_bm25_indexed").foreach { name =>
      val plan = Registry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"$name shuffle-joins where every join side is bounded:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name's top-k is not distributed TakeOrdered:\n$plan")
    }
  }

  test("ANN recall vs brute force at k=5: LSH >= 0.5, IVF >= 0.5") {
    val emb = Tables(spark, sf, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, 20, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val lsh = recallOf(Similarity.annTopK(emb, 20, 5))
    val ivf = recallOf(graft.ops.IvfIndex.annTopK(emb, 20, 5))
    assert(lsh >= 0.5, s"LSH recall $lsh too low")
    assert(ivf >= 0.5, s"IVF recall $ivf too low")
  }

  test("approx_count_distinct within 3x rsd of exact; q34's hash-checked " +
    "claim column is uniformly true") {
    // the raw estimate (not in the registered output — engine-specific)
    import org.apache.spark.sql.functions._
    val rows = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.05).as("a"),
        countDistinct(col("user_id")).as("e"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    rows.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.15,
        s"approx $approx vs exact $exact")
    }
    // and the registered boolean restates exactly that bound
    assert(Registry.queries("q34_approx_distinct")(spark, sf)
      .collect().forall(r => r.getBoolean(2)), "q34 claim column not all-true")
  }

  test("q57 bucketed fact-join executes with no hash exchange " +
    "(pay-the-shuffle-once reaches the driver path)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Registry.queries("q57_bucketed_join")(spark, sf)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val hashEx = plan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashEx.isEmpty,
        s"bucketed join still hash-shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q78 executes the broadcast-chunk IVF assignment: the BNLJ chunk " +
    "join and the fused chunk kernel are in the executed plan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the registered query materializes (cache+count), so the join
    // lives inside an InMemoryRelation's cached plan; AQE wraps
    // subtrees too — walk through both
    def deepString(p: SparkPlan): String = {
      val nested = p.collect {
        case a: AdaptiveSparkPlanExec => deepString(a.executedPlan)
        case s: InMemoryTableScanExec => deepString(s.relation.cachedPlan)
      }
      (p.toString +: nested).mkString("\n")
    }
    spark.catalog.clearCache()
    val df = Registry.queries("q78_ivf_join_pairs")(spark, sf)
    assert(df.count() > 0)
    val plan = deepString(df.queryExecution.executedPlan)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q78 did not execute the broadcast-chunk join:\n$plan")
    assert(plan.toLowerCase.contains("nearestcellschunk"),
      s"q78 did not run the fused chunk kernel:\n$plan")
  }

  test("dot_product is SQL-callable after registration") {
    graft.GraftExtensions.register(spark)
    val got = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(got == 11.0)
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions) // smoke
  }
}
