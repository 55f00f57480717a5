package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge semantics of the round-3 pipeline operators: sequence packing
  * offsets/chunk math, per-group cap determinism, contamination
  * self-exclusion. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("containmentPairs: a quote embedded in a long doc scores " +
    "containment ~1000 where its Jaccard is far below threshold; " +
    "unrelated docs pair with nothing; the df cap drops boilerplate") {
    // long doc: 30 distinct words -> 28 shingles; quote: its first 6
    // words -> 4 shingles, ALL present in the long doc.
    val longWords = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (1 to 6).map(i => s"w$i").mkString(" ")
    val other = (100 to 120).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, longWords), (2L, quote), (3L, other))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, minCx1000 = 800)
      .collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1))) === Seq((1L, 2L)))
    val r = got.head
    assert(r.getAs[Long]("common") === 4L)
    assert(r.getAs[Long]("n_a") === 28L)
    assert(r.getAs[Long]("n_b") === 4L)
    // containment of the quote side = 4/4 -> 1000; long side 4/28
    assert(r.getAs[Long]("cont_ba_x1000") === 1000L)
    assert(r.getAs[Long]("cont_ab_x1000") === 1000L * 4 / 28)
    // the SAME pair is invisible to Jaccard at this threshold:
    // 4 / (28 + 4 - 4) = 0.143
    assert(Dedup.ngramJaccardPairs(docs, 0.8).count() === 0L)
    // df cap: a shingle shared by every doc leaves the universe - a
    // corpus of 3 docs all wrapped in the same boilerplate trigram
    // context pairs on content only
    val boiler = Seq((1L, s"common header block $longWords"),
      (2L, s"common header block $quote"),
      (3L, s"common header block $other")).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(boiler, minCx1000 = 800, maxDf = 2)
      .collect().toSeq
    // the "common header block ..." bridge shingles have df=3 > 2 and
    // drop; only the true quote relation survives
    assert(capped.map(r => (r.getLong(0), r.getLong(1))) === Seq((1L, 2L)))
  }

  test("minhashDupPairs releases its operator-internal caches: only the " +
    "pinned pair set survives the call") {
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.01", "documents")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.minhashDupPairs(docs, 0.8)
    assert(out.count() > 0)
    val survivors = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the materialized pair set is the ONE storage entry allowed to
    // outlive the call; the shingle-index and signature caches must be
    // gone (leaking them grows the block store on every library call)
    assert(survivors.size <= 1,
      s"operator-internal caches leaked: $survivors")
    out.unpersist(blocking = true)
  }

  test("simhashDupPairs releases its signature cache: only the " +
    "materialized pair-set block survives the call") {
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001", "documents")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.simhashDupPairs(docs, 3)
    out.count()
    val survivors = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(survivors.size <= 1,
      s"operator-internal caches leaked: $survivors")
    out.unpersist(blocking = true)
  }

  test("scoped operators release their operator-internal caches: only " +
    "the materialized result block survives the call") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables(spark, sf, "documents")
    val emb = graft.engine.Tables(spark, sf, "embeddings")
    val cents = IvfIndex.sampleCentroidsK(emb, 8)
    // minhashDupPairs and simhashDupPairs have their own tests above;
    // the capped MinHash path adds the capped band stream to the
    // signature, candidate and endpoint-index caches
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs, 0.8)),
      "minhashDupPairsCapped" ->
        (() => Dedup.minhashDupPairsCapped(docs, 0.8, 16)),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, 800L)),
      "IvfIndex.nearDupPairs" ->
        (() => IvfIndex.nearDupPairs(emb, 0.9, cents)),
      "TextAnalysis.collocations" -> (() => TextAnalysis.collocations(docs)))
    for ((name, op) <- ops) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = op()
      out.count()
      val survivors = spark.sparkContext.getPersistentRDDs.keySet -- before
      // the result, materialized through the cache by
      // Checkpoints.materialize, is the ONE storage entry allowed to
      // outlive the call; the shingle-index, signature and vocabulary
      // caches must be gone (leaking them grows the block store on
      // every library call)
      assert(survivors.size <= 1,
        s"$name leaked operator-internal caches: $survivors")
      out.unpersist(blocking = true)
    }
  }

  test("minhashDupPairsCapped: a boilerplate mega-cluster is pruned to " +
    "O(bucket) while organic near-dup pairs survive the cap") {
    // 30 identical docs (every band bucket has 30 members) plus one
    // organic near-dup pair whose buckets have size 2
    val boiler = (0L until 30L).map(i =>
      (i, "the same license header repeated across every file in the corpus verbatim"))
    val organic = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val docs = (boiler ++ organic).toDF("doc_id", "text")
    val uncapped = Dedup.minhashDupPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashDupPairsCapped(docs, 0.5, maxBucket = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // uncapped expands the cluster to all C(30,2) pairs + the organic one
    assert(uncapped.size == 30 * 29 / 2 + 1, s"got ${uncapped.size}")
    // capped drops ONLY the oversized-bucket pairs; the organic pair's
    // band buckets are size 2 and survive untouched
    assert(capped == Set((100L, 101L)), s"got $capped")
  }

  test("dupClusters with bucketCap: the boilerplate mega-cluster stays " +
    "singletons, the organic pair still merges") {
    val boiler = (0L until 30L).map(i =>
      (i, "the same license header repeated across every file in the corpus verbatim"))
    val organic = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val docs = (boiler ++ organic).toDF("doc_id", "text")
    val cl = Dedup.dupClusters(docs, 0.5, bucketCap = Some(8))
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // every band bucket of the 30 identical docs exceeds the cap, so
    // they emit no pairs: each is its own cluster root and keeper
    assert(cl.filter(_._1 < 100L).forall(r => r._2 == r._1 && r._3),
      s"boilerplate docs not singletons: ${cl.filter(_._1 < 100L)}")
    // the organic pair's buckets are size 2: they merge, min id roots
    assert(cl.filter(_._1 >= 100L) ==
      Seq((100L, 100L, true), (101L, 100L, false)), s"got $cl")
  }

  test("repeatedSpans: maximal cross-doc spans with exact boundaries; " +
    "intra-doc repetition alone does not qualify") {
    // docs 0 and 1 share the 6-token run "q w e r t y" (two 5-windows,
    // positions 1..2 in doc 0, 0..1 in doc 1); doc 2 shares nothing
    // cross-doc but repeats its own 5-gram twice; doc 3 is < 5 tokens
    val docs = Seq(
      (0L, "x q w e r t y z1 z2"),
      (1L, "q w e r t y k1 k2"),
      (2L, "a b c d e f a b c d e f"),
      (3L, "p q r"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpans(docs, spanTokens = 5, minDf = 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 2's self-repeat: window df counts DISTINCT docs, so df=1 -> out
    assert(out == Seq(
      (0L, 1L, 6L, 2L, 2L),   // spans tokens 1..6 of doc 0
      (1L, 0L, 6L, 2L, 2L)),  // spans tokens 0..5 of doc 1
      s"got $out")
    out // islands merged: 2 windows -> ONE span of 6 tokens, not two rows
  }

  test("repeatedSpans: non-adjacent repeated windows stay separate spans " +
    "and max_df reflects the widest window") {
    val docs = Seq(
      (0L, "s1 s2 s3 s4 s5 u1 u2 t1 t2 t3 t4 t5"), // two shared 5-grams, gap between
      (1L, "s1 s2 s3 s4 s5 v1 v2 t1 t2 t3 t4 t5"),
      (2L, "t1 t2 t3 t4 t5"))                      // third doc shares only t-run
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpans(docs, spanTokens = 5, minDf = 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 5L, 1L, 2L), (0L, 7L, 5L, 1L, 3L),
      (1L, 0L, 5L, 1L, 2L), (1L, 7L, 5L, 1L, 3L),
      (2L, 0L, 5L, 1L, 3L)), s"got $out")
  }

  test("corpusSentenceDedup: first (doc_id, pos) occurrence wins " +
    "corpus-wide; reassembly keeps original order") {
    val docs = Seq(
      (0L, "shared one. unique a. shared two"),
      (1L, "unique b. shared one. unique c"),      // loses "shared one"
      (2L, "shared two. shared one"))              // loses both -> empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.corpusSentenceDedup(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 3L, 3L, "shared one. unique a. shared two"),
      (1L, 3L, 2L, "unique b. unique c"),
      (2L, 2L, 0L, "")), s"got $out")
  }

  test("piiScrub: counts and redactions for each pattern; clean text " +
    "passes through byte-identical") {
    val docs = Seq(
      (0L, "mail me at jo.doe+x@example.co.uk or call 555-123-4567"),
      (1L, "server at 10.0.255.7 and backup 192.168.1.1"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 1L, 1L, 0L, "mail me at <EMAIL> or call <PHONE>"),
      (1L, 0L, 0L, 2L, "server at <IP> and backup <IP>"),
      (2L, 0L, 0L, 0L, "no pii here at all")), s"got $out")
  }

  test("repeatedSpanRemoval: later copies of a shared span are excised, " +
    "first occurrence and unique text survive; intra-doc repeats do not " +
    "qualify") {
    // L=3: docs 0/1 share "a b c d e" (first occurrence = doc 0);
    // doc 2 is entirely a copy of a doc-0 window; doc 3 repeats ITSELF
    // only (window df counts distinct docs -> untouched)
    val docs = Seq(
      (0L, "a b c d e x1"),
      (1L, "z a b c d e"),
      (2L, "a b c"),
      (3L, "p q r p q r p q r"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpanRemoval(docs, spanTokens = 3, minDf = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 6L, 0L, "a b c d e x1"),
      (1L, 6L, 5L, "z"),
      (2L, 3L, 3L, ""),
      (3L, 9L, 0L, "p q r p q r p q r")), s"got $out")
  }

  test("repeatedSpanRemoval: a planted 60-bit window-key collision does " +
    "not excise innocent text — the second md5 half guards excision") {
    // Two docs sharing NO text. Plant a collision by forcing one key
    // half to a constant: every window in the corpus now collides on
    // that half (engineering a real md5 60-bit collision would need
    // ~2^30 digests, so the seam injects it instead). A single-60-bit
    // design would excise nearly everything; the 120-bit pair must
    // leave both docs byte-identical.
    val docs = Seq(
      (0L, "one two three four five six"),
      (1L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val intact = Seq(
      (0L, 6L, 0L, "one two three four five six"),
      (1L, 6L, 0L, "seven eight nine ten eleven twelve"))
    val firstHalfCollides = TextAnalysis.repeatedSpanRemovalKeyed(
      docs, 3, 2, _ => lit(0L), Hashing.h60b)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(firstHalfCollides == intact, s"got $firstHalfCollides")
    val secondHalfCollides = TextAnalysis.repeatedSpanRemovalKeyed(
      docs, 3, 2, Hashing.h60, _ => lit(0L))
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(secondHalfCollides == intact, s"got $secondHalfCollides")
    // sanity that the plant is live: with BOTH halves collided the
    // operator does excise (first window of doc 0 survives, rest cut)
    val bothCollide = TextAnalysis.repeatedSpanRemovalKeyed(
      docs, 3, 2, _ => lit(0L), _ => lit(0L))
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(bothCollide.exists(_._3 > 0), s"collision plant inert: $bothCollide")
  }

  test("repeatedSpanRemoval maxTokens clamp: a pathological mega-doc " +
    "degrades to truncated output with the flag set; counts stay full") {
    // 50k distinct tokens in one doc (the largest-document task-memory
    // hazard), clamp at 100; a small doc rides along untouched
    val mega = (0 until 50000).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, mega), (1L, "tiny doc here")).toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpanRemoval(
        docs, spanTokens = 3, minDf = 2, maxTokens = Some(100))
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Boolean)].collect().toSeq
    val (megaRow, tinyRow) = (out(0), out(1))
    assert(megaRow._2 == 50000L && megaRow._3 == 0L && megaRow._5,
      s"got $megaRow")
    assert(megaRow._4 == (0 until 100).map(i => s"t$i").mkString(" "))
    assert(tinyRow == ((1L, 3L, 0L, "tiny doc here", false)), s"got $tinyRow")
    // default (no clamp): schema unchanged — exactly 4 columns
    assert(TextAnalysis.repeatedSpanRemoval(docs, 3, 2).columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_removed", "clean_text"))
  }

  test("corpusSentenceDedup maxSentences clamp: buffer capped by original " +
    "position, flag set only for docs that lost text to the clamp") {
    val docs = Seq(
      (0L, (0 until 500).map(i => s"sentence $i").mkString(". ")),
      (1L, "alpha. beta"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.corpusSentenceDedup(docs, Some(10))
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Boolean)].collect().toSeq
    assert(out(0)._2 == 500L && out(0)._3 == 500L && out(0)._5, s"got ${out(0)}")
    assert(out(0)._4 == (0 until 10).map(i => s"sentence $i").mkString(". "))
    assert(out(1) == ((1L, 2L, 2L, "alpha. beta", false)), s"got ${out(1)}")
    assert(TextAnalysis.corpusSentenceDedup(docs).columns.toSeq ==
      Seq("doc_id", "n_sentences", "n_kept", "dedup_text"))
  }

  test("h60b is the second md5 half: independent of h60, portable, and " +
    "disjoint hex ranges") {
    // chars 1..15 vs 16..30 of the same digest; verify on a literal
    // against java's MessageDigest so the oracle fragment h60bSql is
    // provably replaying the same bytes
    val s = "collision probe"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectedA = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val expectedB = java.lang.Long.parseLong(hex.substring(15, 30), 16)
    val row = Seq(s).toDF("x")
      .select(Hashing.h60(col("x")).as("a"), Hashing.h60b(col("x")).as("b"))
      .as[(Long, Long)].head()
    assert(row == ((expectedA, expectedB)), s"got $row, hex=$hex")
  }

  test("lengthGate: histogram percentile equals Spark's percentile() " +
    "on randomized corpora; gate keeps exactly the in-band docs") {
    val rnd = new scala.util.Random(7)
    // lengths with duplicates and gaps — the histogram path's edge food
    val docs = (0L until 400L).map { i =>
      val n = rnd.nextInt(50) + 1
      (i, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = TextAnalysis.lengthGate(docs, 0.05, 0.95)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean, Long, Long)].collect().toSeq
    val counts = docs.select(coalesce(size(split(trim(lower(col("text"))),
      "\\s+")).cast("long"), lit(0L)).as("n"))
    val expected = counts.agg(
      floor(expr("percentile(n, 0.05)") * 100).cast("long"),
      floor(expr("percentile(n, 0.95)") * 100).cast("long"))
      .as[(Long, Long)].head()
    assert(out.map(r => (r._4, r._5)).distinct == Seq(expected),
      s"bounds ${out.head} vs percentile() $expected")
    // gate semantics: keep iff n_tokens within the UNscaled double
    // bounds, recomputed independently via percentile()
    val loD = counts.agg(expr("percentile(n, 0.05)")).as[Double].head()
    val hiD = counts.agg(expr("percentile(n, 0.95)")).as[Double].head()
    out.foreach(r => assert(r._3 == (r._2 >= loD && r._2 <= hiD),
      s"row $r vs band [$loD, $hiD]"))
    val kept = out.count(_._3)
    assert(kept > 0 && kept < out.size, s"degenerate gate: $kept/${out.size}")
  }

  test("referenceOverlapScore: hand-computed overlaps, minDf vocabulary " +
    "floor, bucket boundaries at 334/667, trigram-less docs score 0") {
    val docs = Seq(
      // reference slice: vocabulary with minDf=2 is {"a b c", "b c d"}
      // ("b c x" and "c d y" appear in one ref doc each — floored out)
      (1L, "a b c d", "ref"),
      (2L, "a b c x", "ref"),
      (3L, "b c d y", "ref"),
      // corpus: 2/2 hits → 1000 head; 2/3 → 666 middle (just under
      // the head threshold); 1/3 → 333 tail (just under middle);
      // < 3 tokens → no trigrams → 0 tail
      (10L, "a b c d", "other"),
      (11L, "a b c d q", "other"),
      (12L, "a b c z w", "other"),
      (13L, "q w", "other")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.referenceOverlapScore(docs, "ref", minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 1000L, "head"),
      (2L, 2L, 1L, 500L, "middle"),
      (3L, 2L, 1L, 500L, "middle"),
      (10L, 2L, 2L, 1000L, "head"),
      (11L, 3L, 2L, 666L, "middle"),
      (12L, 3L, 1L, 333L, "tail"),
      (13L, 0L, 0L, 0L, "tail")))
  }

  test("slidingWindows: overlap, short trailing windows, token-less " +
    "docs emit nothing, stride guard") {
    val docs = Seq((1L, "a b c d e"), (2L, "x"), (3L, ""), (4L, "  "))
      .toDF("doc_id", "text")
    val got = Packing.slidingWindows(docs, width = 3, stride = 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 3L, "a b c"),
      (1L, 1L, 3L, "c d e"),
      (1L, 2L, 1L, "e"),
      (2L, 0L, 1L, "x")))
    intercept[IllegalArgumentException](
      Packing.slidingWindows(docs, width = 3, stride = 4))
  }

  test("bucketSample: acceptance equals the h60 driver model exactly; " +
    "rate 1e6 keeps all, rate 0 / unmapped buckets drop all") {
    val docs = (0L until 200L).map(i =>
      (i, if (i % 3 == 0) "keep" else if (i % 3 == 1) "half" else "gone"))
      .toDF("doc_id", "bucket")
    val rates = Map("keep" -> 1000000L, "half" -> 500000L)
    val got = Sampling.bucketSample(docs, "bucket", rates)
      .select("doc_id").as[Long].collect().toSet
    val expect = (0L until 200L).filter { i =>
      val b = if (i % 3 == 0) "keep" else if (i % 3 == 1) "half" else "gone"
      val r = rates.getOrElse(b, 0L)
      Hashing.h60Scala(s"bucketmix:$i") % 1000000L < r
    }.toSet
    assert(got == expect)
    assert((0L until 200L).filter(_ % 3 == 0).forall(got.contains),
      "rate 1e6 must keep every row")
    assert(got.forall(_ % 3 != 2), "unmapped bucket must drop every row")
    intercept[IllegalArgumentException](
      Sampling.bucketSample(docs, "bucket", Map("keep" -> 2000000L)))
  }

  test("topShingles: df counts distinct docs, rank breaks ties by " +
    "shingle string, k truncates") {
    val docs = Seq(
      (0L, "a b c d"),          // shingles: "a b c", "b c d"
      (1L, "a b c x"),          // "a b c", "b c x"
      (2L, "a b c a b c"))      // distinct within doc: "a b c", plus others
      .toDF("doc_id", "text")
    val out = TextAnalysis.topShingles(docs, 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(out.head == (("a b c", 3L, 1L)), s"got $out")
    // ranks are 1..k and df non-increasing with shingle tie-break
    assert(out.map(_._3) == Seq(1L, 2L, 3L), s"got $out")
    assert(out.sliding(2).forall { case Seq(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) }, s"got $out")
  }

  test("lengthGate invariant: the global window's input is the length " +
    "HISTOGRAM (rows = distinct token counts), never the corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // 300 docs, only 7 distinct lengths — the separation the invariant
    // is about
    val docs = (0L until 300L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextAnalysis.lengthHistogram(docs).count() == 7)
    // plan-level pin: every Window in the gate's plan sits ABOVE an
    // Aggregate — its input is the bounded histogram, so the
    // unpartitioned single-partition stage is safe at ANY corpus size.
    // A refactor that windows over raw token counts would have a
    // window with no aggregate below it and fail here.
    val plan = TextAnalysis.lengthGate(docs).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the percentile cum-sum window")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window input must be the aggregated histogram, got:\n${w.child}")
    }
    // and the retained variant keeps every input column + the gate
    val ret = TextAnalysis.lengthGateRetained(docs)
    assert(ret.columns.toSeq ==
      Seq("doc_id", "text", "n_tokens", "keep", "lo_x100", "hi_x100"))
    assert(ret.select("doc_id", "n_tokens", "keep", "lo_x100", "hi_x100")
      .orderBy("doc_id").collect().toSeq ==
      TextAnalysis.lengthGate(docs).orderBy("doc_id").collect().toSeq)
  }

  test("qualityKeep predicate equals qualityGates.keep row-for-row on " +
    "the real corpus") {
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.01", "documents")
    val viaGates = TextAnalysis.qualityGates(docs).select("doc_id", "keep")
    val viaPred = docs.select(col("doc_id"),
      TextAnalysis.qualityKeep(col("text")).as("keep_pred"))
    val mismatches = viaGates.join(viaPred, "doc_id")
      .filter(col("keep") =!= col("keep_pred")).count()
    assert(mismatches == 0, s"$mismatches rows disagree")
    // and both keep something and drop something (non-degenerate)
    val kept = viaPred.filter(col("keep_pred")).count()
    assert(kept > 0 && kept < docs.count(), s"degenerate: $kept")
  }

  test("lengthGate edges: single-doc corpus keeps itself; all-equal " +
    "lengths keep everything (degenerate band)") {
    val one = TextAnalysis.lengthGate(Seq((0L, "a b c")).toDF("doc_id", "text"))
      .as[(Long, Long, Boolean, Long, Long)].collect().toSeq
    // N=1: r = p*(N-1) = 0 for both percentiles -> band [3, 3]
    assert(one == Seq((0L, 3L, true, 300L, 300L)), s"got $one")
    val equal = TextAnalysis.lengthGate(
        (0L until 50L).map(i => (i, "w x y z")).toDF("doc_id", "text"))
      .as[(Long, Long, Boolean, Long, Long)].collect().toSeq
    assert(equal.forall(r => r._3 && r._4 == 400L && r._5 == 400L),
      s"got ${equal.take(3)}")
  }

  test("hashSplit: deterministic, stable under corpus growth, buckets " +
    "match the salted h60, proportions roughly honored") {
    val small = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val big = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = Sampling.hashSplit(small).as[(Long, Long, String)]
      .collect().map { case (id, b, s) => id -> ((b, s)) }.toMap
    val s2 = Sampling.hashSplit(big).as[(Long, Long, String)]
      .collect().map { case (id, b, s) => id -> ((b, s)) }.toMap
    // growth stability: every doc of the smaller corpus keeps its
    // exact bucket and split in the larger one
    s1.foreach { case (id, bs) => assert(s2(id) == bs, s"doc $id moved") }
    // split thresholds: bucket < 980 train, < 990 val, else test
    s2.foreach { case (id, (b, s)) =>
      val expect = if (b < 980) "train" else if (b < 990) "val" else "test"
      assert(s == expect, s"doc $id bucket $b split $s")
    }
    // rough proportions at n=400 (binomial: train ~392 +- 3 sigma ~9)
    val train = s2.values.count(_._2 == "train")
    assert(train > 360 && train <= 400, s"train count $train")
  }

  test("temperatureMix: the rarest group is kept whole, rates follow " +
    "(n_min/n)^exponent exactly, and exponent 1 equalizes in expectation") {
    // groups of 100 / 400 / 25 docs: n_min = 25
    val docs = ((0L until 100L).map((_, "en")) ++
      (100L until 500L).map((_, "zh")) ++
      (500L until 525L).map((_, "fr")))
      .toDF("doc_id", "lang")
    val out = Sampling.temperatureMix(docs, exponent = 0.5)
      .as[(Long, String, Long)].collect()
    val rates = out.map(r => r._2 -> r._3).toMap
    // thresholds are the exact IEEE sqrt — no tolerance
    assert(rates("fr") == 1000000L) // sqrt(25/25) = 1: kept whole
    assert(rates("en") == math.floor(math.sqrt(25.0 / 100.0) * 1e6).toLong)
    assert(rates("zh") == math.floor(math.sqrt(25.0 / 400.0) * 1e6).toLong)
    // fr is kept in FULL, not just at full rate
    assert(out.count(_._2 == "fr") == 25)
    // acceptance replays the salted hash row-for-row
    val kept = out.map(_._1).toSet
    (0L until 525L).foreach { id =>
      val lang = if (id < 100) "en" else if (id < 500) "zh" else "fr"
      val h = graft.ops.Hashing.h60Scala(s"mix:$id") % 1000000L
      assert(kept.contains(id) == (h < rates(lang)), s"doc $id")
    }
    // exponent 1.0: expected post-mix counts equalize at ~n_min per
    // group (hash-binomial noise; 3 sigma of Bin(400, 1/16) ~ 15)
    val eq = Sampling.temperatureMix(docs, exponent = 1.0)
      .as[(Long, String, Long)].collect()
    val byLang = eq.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("fr") == 25)
    assert(math.abs(byLang("zh") - 25) <= 15, s"zh ${byLang("zh")}")
    assert(math.abs(byLang("en") - 25) <= 15, s"en ${byLang("en")}")
  }

  test("vocabQuality: integer-exact scores from hand-computed dfs") {
    // dfs: "a" in docs 0,1,2 -> 3; "b" in 0,1 -> 2; "c" only 0 -> 1;
    // "d" only 2 -> 1 (twice in-doc, still df=1)
    val docs = Seq(
      (0L, "a b c"), (1L, "a b"), (2L, "a d d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabQuality(docs, dfCap = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cap=2: doc0 sum=2+2+1=5 of 3*2=6 -> 833; doc1 sum=4 of 4 -> 1000;
    // doc2 sum=2+1+1=4 of 6 -> 666; hapax: c=1, none, d twice
    assert(out == Seq(
      (0L, 3L, 1L, 833L), (1L, 2L, 0L, 1000L), (2L, 3L, 2L, 666L)),
      s"got $out")
  }

  test("packChunks: offsets are the exclusive prefix sum in doc_id order, " +
    "across bucket boundaries") {
    // bucketSize=2 forces docs to straddle prefix-sum buckets
    val docs = Seq(
      (0L, "a b c"),          // 3 tokens, start 0
      (1L, "d e"),            // 2 tokens, start 3
      (2L, "f g h i"),        // 4 tokens, start 5
      (3L, ""),               // "" -> split yields [""], 1 token, start 9
      (4L, "j k l m n"))      // 5 tokens, start 10
      .toDF("doc_id", "text")
    val out = Packing.packChunks(docs, contextLen = 4L, bucketSize = 2L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "chunk_id",
        "spans_boundary", "chunks_crossed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 3L, 0L, 0L, false, 0L),  // tokens 0-2, chunk 0
      (1L, 2L, 3L, 0L, true, 1L),   // tokens 3-4 straddle chunks 0/1
      (2L, 4L, 5L, 1L, true, 1L),   // tokens 5-8 straddle chunks 1/2
      (3L, 1L, 9L, 2L, false, 0L),
      (4L, 5L, 10L, 2L, true, 1L))) // tokens 10-14 straddle chunks 2/3
  }

  test("packChunks: null text counts as 0 tokens and does not poison " +
    "downstream offsets (ANSI size(null) is NULL, not -1/0)") {
    val docs = Seq(
      (0L, "a b c"),               // 3 tokens, start 0
      (1L, null.asInstanceOf[String]), // null text -> 0 tokens, start 3
      (2L, "d e"))                 // 2 tokens, start 3 (not NULL!)
      .toDF("doc_id", "text")
    val out = Packing.withOffsets(docs, bucketSize = 2L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 3L, 0L), (1L, 0L, 3L), (2L, 2L, 3L)))
  }

  test("packChunks: a doc longer than the context crosses several " +
    "boundaries; zero-token rows never 'span'") {
    val docs = Seq(
      (10L, Seq.fill(10)("w").mkString(" ")), // 10 tokens over ctx 3
      (11L, "x"))
      .toDF("doc_id", "text")
    val out = Packing.packChunks(docs, contextLen = 3L)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(5) == 3L) // tokens 0-9: chunks 0..3
    assert(out(0).getBoolean(4))
    // start_offset 10 -> chunk 3, single token, no boundary crossed
    assert(out(1).getLong(3) == 3L && !out(1).getBoolean(4))
  }

  test("packChunks offsets are contiguous over many docs and buckets " +
    "(property: end(i) == start(i+1) in doc_id order)") {
    val rnd = new scala.util.Random(7)
    val docs = (0L until 300L)
      .map(i => (i * 3 + 7, Seq.fill(rnd.nextInt(9))("w").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Packing.withOffsets(docs, bucketSize = 64L)
      .orderBy("doc_id")
      .select("n_tokens", "start_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.head._2 == 0L)
    rows.sliding(2).foreach { case Array((n, s), (_, s2)) =>
      assert(s + n == s2, s"gap: $s+$n != $s2")
    }
  }

  test("packChunks keepCols: carried columns equal a join-back against " +
    "the base output, with identical pack math") {
    val docs = Seq(
      (0L, "a b c", "en", 10L),
      (1L, "d e", "fr", 20L),
      (2L, "f g h i", "en", 30L))
      .toDF("doc_id", "text", "lang", "extra")
    val kept = Packing.packChunks(docs, contextLen = 4L, bucketSize = 2L,
        keepCols = Seq("lang", "extra"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getString(6), r.getLong(7)))
    val joined = Packing.packChunks(docs, contextLen = 4L, bucketSize = 2L)
      .join(docs.select("doc_id", "lang", "extra"), Seq("doc_id"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getString(6), r.getLong(7)))
    assert(kept.toSeq == joined.toSeq)
  }

  test("packChunks rejects keepCols that collide with generated columns, " +
    "naming the offender") {
    val docs = Seq((0L, "a b", 7L)).toDF("doc_id", "text", "n_tokens")
    val e = intercept[IllegalArgumentException] {
      Packing.packChunks(docs, keepCols = Seq("n_tokens"))
    }
    assert(e.getMessage.contains("n_tokens"))
    val e2 = intercept[IllegalArgumentException] {
      Packing.withOffsets(docs.withColumnRenamed("n_tokens", "bucket"),
        keepCols = Seq("bucket"))
    }
    assert(e2.getMessage.contains("bucket"))
  }

  test("withMix rejects an input already carrying rate_ppm") {
    val docs = Seq((0L, "t", "en", 5L))
      .toDF("doc_id", "text", "lang", "rate_ppm")
    val e = intercept[IllegalArgumentException](Sampling.withMix(docs))
    assert(e.getMessage.contains("rate_ppm"))
  }

  test("withMix retains every input column plus rate_ppm, and projects " +
    "to exactly temperatureMix's row set") {
    val docs = ((1L to 60L).map(i => (i, s"t$i", "en")) ++
      (61L to 75L).map(i => (i, s"t$i", "fr")))
      .toDF("doc_id", "text", "lang")
    val full = Sampling.withMix(docs)
    assert(full.columns.sorted.toSeq ==
      Seq("doc_id", "lang", "rate_ppm", "text"))
    val viaFull = full.select("doc_id", "lang", "rate_ppm")
      .collect().map(_.toString).sorted.toSeq
    val direct = Sampling.temperatureMix(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(viaFull == direct)
    // the rarest group is kept whole (rate 1e6), the common one thinned
    val rates = full.select("lang", "rate_ppm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("fr") == 1000000L)
    assert(rates("en") < 1000000L && rates("en") > 0L)
  }

  test("groupCap keeps at most N per language and is deterministic") {
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "the cat and the dog of it"
                    else "el gato la casa los perros", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = Sampling.groupCap(docs, 7)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ <= 7), s"cap violated: $counts")
    assert(counts.keySet == Set("en", "es"))
    val again = Sampling.groupCap(docs, 7).orderBy("doc_id").collect().toSeq
    assert(out.orderBy("doc_id").collect().toSeq == again)
    // rn really ranks within the language, 1..cap
    val rns = out.filter(col("lang") === "en")
      .select("rn").collect().map(_.getLong(0)).sorted
    assert(rns.toSeq == (1L to 7L))
  }

  test("int8 quantization: values bounded, round-trip error < 1/127, " +
    "and quantized top-k mostly agrees with exact") {
    val emb = graft.engine.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val q = Similarity.quantizeInt8(emb)
    val bad = q.select(explode(col("q_emb")).as("i"))
      .filter(col("i") < -127 || col("i") > 127).count()
    assert(bad == 0)
    // per-element |x - dq| <= scale/254 + eps (half a quantization step)
    val err = Similarity.dequantizeInt8(q).as("d")
      .join(emb.as("e"), "vec_id")
      .select(explode(arrays_zip(col("d.embedding"),
        col("e.embedding").cast("array<double>"))).as("z"))
      .select(abs(col("z.embedding") - col("z.1")).as("ae"))
    // embeddings are O(1)-scaled; half-step of a unit-scale vector
    assert(err.agg(max(col("ae"))).head.getDouble(0) < 1.0 / 127)
    val exact = Similarity.bruteForceTopK(emb, 20, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity
      .bruteForceTopK(Similarity.dequantizeInt8(q), 20, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & quant).size.toDouble / exact.size
    assert(overlap >= 0.8, s"quantized top-k overlap too low: $overlap")
  }

  test("intraDocDedup drops repeats, keeps first-occurrence order, " +
    "and preserves trailing-empty split semantics") {
    val docs = Seq(
      (1L, "buy now. great offer. buy now. call today. great offer"),
      (2L, "single sentence"),
      (3L, "ends with sep. "))  // trailing ". " -> trailing empty kept
      .toDF("doc_id", "text")
    val out = TextAnalysis.intraDocDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(out(0) == ((1L, 5L, 3L,
      "buy now. great offer. call today")))
    assert(out(1) == ((2L, 1L, 1L, "single sentence")))
    // "ends with sep. " splits into ["ends with sep", ""] — both unique
    assert(out(2) == ((3L, 2L, 2L, "ends with sep. ")))
  }

  test("contamination: a benchmark doc's own shingles don't count; " +
    "shared shingles do; <3-word docs report zero shingles") {
    val docs = Seq(
      // bench doc (id 7): 4 distinct shingles, two shared with doc 1
      (7L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta unrelated tail here"),
      // bench doc 17: unique text -> 0 contaminated
      (17L, "only in this document nothing shared anywhere"),
      // bench doc 27: under 3 words -> no shingles at all
      (27L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contamination(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 7 shingles: {a b g, b g d, g d e, d e z}; docs 1 shares
    // "alpha beta gamma" and "beta gamma delta"
    assert(out.toSeq == Seq((7L, 4L, 2L), (17L, 5L, 0L), (27L, 0L, 0L)))
  }

  test("unigramSurprisal: hand-computed integer bits; common tokens " +
    "score below rare ones; a single-token corpus carries zero bits") {
    // W = 8; c(a)=4 → ⌊log₂2⌋=1 bit, c(b)=c(c)=2 → ⌊log₂4⌋=2 bits
    val docs = Seq(0L -> "a a a b", 1L -> "a b c c").toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((0L, 4L, 5L, 1250L), (1L, 4L, 7L, 1750L)))
    val solo = TextAnalysis.unigramSurprisal(
      Seq(9L -> "z").toDF("doc_id", "text")).collect()
    assert(solo.map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((9L, 0L, 0L)))
  }

  test("lengthBatches: the two-level bucketed rank equals a plain " +
    "global window across bucket boundaries, and ranks are dense") {
    // lengths 1..23 scrambled over doc_ids; lenBucket=4 puts several
    // boundary-straddling buckets in play
    val docs = (0 until 23).map { i =>
      val len = (i * 7) % 23 + 1
      (i.toLong, Seq.fill(len)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Packing.lengthBatches(docs, batchSize = 4, lenBucket = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.map(_._3).sorted.toSeq == (0L until 23L).toSeq,
      "ranks must be a dense 0..n-1 permutation")
    // reference: single window over the same total order
    val ref = out.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, n, _, _), rk) =>
        (id, n, rk.toLong, rk.toLong / 4) }.toSeq
    assert(out.sortBy(_._3).toSeq == ref)
  }

  test("lengthBatchStats: length batching never pads more than arrival " +
    "batching, and the hand case pins the arithmetic") {
    val docs = Seq(5, 1, 4, 2, 3, 6).zipWithIndex.map { case (len, i) =>
      (i.toLong, Seq.fill(len)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Packing.lengthBatchStats(docs, batchSize = 2, lenBucket = 2L)
      .orderBy("strategy", "batch_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(5)))
    // arrival (5,1)(4,2)(3,6): pads 4,2,3; sorted (1,2)(3,4)(5,6): 1,1,1
    assert(out.toSeq == Seq(
      ("arrival", 0L, 4L), ("arrival", 1L, 2L), ("arrival", 2L, 3L),
      ("length", 0L, 1L), ("length", 1L, 1L), ("length", 2L, 1L)))
    val padOf = out.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    assert(padOf("length") <= padOf("arrival"))
  }

  test("lengthBatchStats edges: empty docs batch at zero pad share; " +
    "the short last batch accounts its own cap") {
    val docs = Seq(0L -> "", 1L -> "", 2L -> "a b c").toDF("doc_id", "text")
    // tokens('') is [''], one token — so lengths are 1,1,3
    val out = Packing.lengthBatchStats(docs, batchSize = 2, lenBucket = 1L)
      .filter(col("strategy") === "length").orderBy("batch_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5),
        r.getLong(6)))
    assert(out.toSeq == Seq((0L, 2L, 1L, 0L, 0L), (1L, 1L, 3L, 0L, 0L)))
  }

  test("neardupPageRank: hand-worked path-graph sweeps; a 2-regular " +
    "component is an exact fixed point; components don't leak") {
    // path a(10)-b(11)-c(12) PLUS a separate triangle {20,21,22}
    val pairs = Seq((10L, 11L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val out = Dedup.neardupPageRank(pairs, iters = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // path, by hand (pr0 = 1,000,000 each):
    //  pr1(a) = 150000 + (17·(1000000 div 2)) div 20 = 575000 = pr1(c)
    //  pr1(b) = 150000 + (17·(1000000 + 1000000)) div 20 = 1850000
    //  pr2(a) = 150000 + (17·(1850000 div 2)) div 20 = 936250 = pr2(c)
    //  pr2(b) = 150000 + (17·(575000 + 575000)) div 20 = 1127500
    // triangle: deg 2 everywhere, contribs 500000+500000 = 1000000 →
    // 150000 + 850000 = 1000000 — exact fixed point, both sweeps
    assert(out.toSeq == Seq(
      (10L, 1L, 575000L, 936250L), (11L, 2L, 1850000L, 1127500L),
      (12L, 1L, 575000L, 936250L),
      (20L, 2L, 1000000L, 1000000L), (21L, 2L, 1000000L, 1000000L),
      (22L, 2L, 1000000L, 1000000L)))
  }

  test("embeddingContamination: hand-worked max/count/keep; negative " +
    "cosines kept out of n_over; zero-norm rows dropped") {
    def vecs(rows: (Long, Seq[Double])*) =
      rows.toSeq.toDF("vec_id", "embedding")
    val corpus = vecs(
      0L -> Seq(2.0, 0.0),   // cos(b1)=1.0, cos(b2)=0.0 → flagged
      1L -> Seq(1.0, 1.0),   // cos=0.70710678 both → kept
      2L -> Seq(-3.0, 0.0),  // cos(b1)=-1, cos(b2)=0 → max 0, kept
      3L -> Seq(0.0, 0.0))   // zero norm → no row
    val bench = vecs(100L -> Seq(1.0, 0.0), 101L -> Seq(0.0, 1.0))
    val out = Similarity.embeddingContamination(corpus, bench,
        tauX1e6 = 900000L)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (0L, 1000000L, 1L, false),
      (1L, 707106L, 0L, true),
      (2L, 0L, 0L, true)))
    intercept[IllegalArgumentException](
      Similarity.embeddingContamination(corpus, bench, tauX1e6 = 0L))
  }

  test("prioritySample: matches the h60Scala-twin arithmetic exactly; " +
    "every item heavier than tau is sampled; exhaustive corpus is " +
    "exact (tau = 0, w_hat = w)") {
    val texts = Seq(
      0L -> "a b c d e f g h",        // w=8
      1L -> "one two three",          // w=3
      2L -> "x",                      // w=1
      3L -> "p q r s t u v w x y z",  // w=11
      4L -> "m n")                    // w=2
    val docs = texts.toDF("doc_id", "text")
    // driver-side twin of the operator's integer arithmetic
    val model = texts.map { case (id, t) =>
      val w = t.split("\\s+").length.toLong
      val h30 = graft.ops.Hashing.h60Scala(s"prio:$id") >> 30
      (id, w, w * 1073741824L / (h30 + 1L))
    }.sortBy { case (id, _, p) => (-p, id) }
    val k = 3
    val tau = model(k)._3
    val expect = model.take(k).zipWithIndex.map { case ((id, w, p), i) =>
      (i + 1L, id, w, p, tau, math.max(w, tau))
    }
    val got = Sampling.prioritySample(docs, k).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expect)
    // the paper's inclusion property: priority >= w (u <= 1), so any
    // item with w > tau has priority > tau and MUST be in the sample
    model.filter(_._2 > tau).foreach { case (id, _, _) =>
      assert(got.exists(_._2 == id), s"doc $id heavier than tau missing")
    }
    // exhaustive: k >= corpus -> tau 0, estimator exact
    val all = Sampling.prioritySample(docs, k = 10).orderBy("rank")
      .collect().map(r => (r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(all.length == 5)
    assert(all.forall { case (w, t, wh) => t == 0L && wh == w })
    intercept[IllegalArgumentException](Sampling.prioritySample(docs, 0))
  }

  test("leakageSafeSplit: clusters are split-atomic; singletons keep " +
    "their plain hashSplit assignment; clustered docs take the ROOT's") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("doc_id", "cluster_root")
    val out = Sampling.leakageSafeSplit(clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq
    // atomicity: one split value per cluster_root
    out.groupBy(_._2).foreach { case (root, rows) =>
      assert(rows.map(_._3).distinct.size == 1,
        s"cluster $root straddles splits: $rows")
    }
    // every doc's assignment IS the plain hashSplit of its root (and
    // therefore singletons are unchanged vs doc-keyed splitting)
    val plain = Sampling.hashSplit(
        Seq(1L, 3L, 10L).toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    out.foreach { case (_, root, split) =>
      assert(split == plain(root), s"root $root: $split != ${plain(root)}")
    }
    intercept[IllegalArgumentException](
      Sampling.leakageSafeSplit(clusters, trainPerMille = 0))
  }

  test("neardupPageRank guards the sweep count (past ~20, pin lineage)") {
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](
      Dedup.neardupPageRank(pairs, iters = 0))
    intercept[IllegalArgumentException](
      Dedup.neardupPageRank(pairs, iters = 21))
  }
}
