package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Checkpoints
import Hashing._

/** Deduplication operators for large-scale text corpora.
  *
  * Four families, in increasing fuzziness:
  *   - exact (content-hash groupBy),
  *   - n-gram Jaccard via an inverted shingle index (exact pairwise
  *     similarity, no n^2 cross join),
  *   - MinHash + LSH banding (the 100 TB path: candidate generation via
  *     band-bucket equi-join, then exact verification on candidates),
  *   - SimHash with block-pigeonhole candidate generation (hamming <= 3
  *     over 31 bits across 4 blocks guarantees one identical block, so
  *     the block equi-join is lossless).
  *
  * Every similarity number that reaches a checked result is either an
  * integer count or a floor-scaled integer of an IEEE-deterministic
  * double, so the DuckDB oracle matches bit-for-bit.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the min doc_id. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("string")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))

  /** Exact dedup, keep-first semantics: surviving doc ids. */
  def keepFirst(docs: DataFrame): DataFrame =
    docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Canonical text key for normalization-invariant exact dedup:
    * lowercase → non-alphanumerics to spaces → whitespace collapsed →
    * trimmed. This is the "fuzzy-exact" key production pipelines hash
    * before exact dedup (casing, punctuation, and whitespace variants
    * of the same document collapse to one group; reference
    * Citibike-Deep-Dive normalizes CSV header variants the same way —
    * `ingestion.py` column canonicalization — here applied to
    * content). The character class is the ASCII [^a-z0-9\s] on
    * purpose: it means the identical thing under Java regex (Spark)
    * and RE2 (DuckDB), so the key replays verbatim in the oracle.
    * Null text stays null (the group-of-nulls contract matches
    * [[exactGroups]]'s md5(null) group). Pure per-row map work —
    * zero shuffles.
    *
    * Evaluated by the [[graft.functions.NormalizeTextExpr]] codegen
    * kernel (one byte pass; the three-pass regex chain measured
    * 22.9 s of the op's 24.1 s at the x100 ladder point — PLANS.md
    * round 13).
    * [[canonicalKeyRegex]] is the chain the kernel replaced and the
    * oracle replays; their exact equivalence (everything but the two
    * Java-case-folding exotics the kernel scaladoc names) is
    * spec-pinned. */
  def canonicalKey(text: Column): Column =
    graft.functions.TextFunctions.normalizeText(text)

  /** The regex formulation of [[canonicalKey]] — the oracle's form,
    * kept as the kernel's spec twin. */
  private[graft] def canonicalKeyRegex(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Normalization-invariant exact dedup: [[exactGroups]] over
    * [[canonicalKey]], keeping the min doc_id per canonical group and
    * counting how many RAW variants (distinct md5(text)) the group
    * collapsed — n_variants > 1 is exactly the duplication that plain
    * exact dedup misses. Same scale shape as [[exactGroups]]: one
    * hash-partitioned aggregate over (key-hash) rows; the distinct
    * variant count is a standard two-phase partial-distinct agg, still
    * keyed by the same canonical hash — one exchange total. */
  def normalizedGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        md5(canonicalKey(col("text"))).as("canon_hash"))
      .groupBy(col("canon_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(md5(col("text"))).as("n_variants"),
        min(col("doc_id")).as("keep_id"))

  /** Per-doc distinct 3-gram shingles, exploded (doc_id, shingle).
    * This is the inverted index: at scale it shuffles once on shingle.
    *
    * Plan-shape note: the generator must be the shingle EXPRESSION over
    * the words attribute, not an exploded alias of a prior projection —
    * with an alias, InferFiltersFromGenerate pushes a `size(sh) > 0`
    * filter below both projections, re-inlining tokenization into the
    * lambda (O(words^2) per row; measured 40x slower). */
  def shingleIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shinglesFromWords(col("w"))).as("s"))

  /** Exact n-gram Jaccard >= minJ over all pairs — PPJoin-style
    * prefix-filtered, results identical to the naive
    * every-shared-shingle formulation (same oracle, hash-equal).
    * Output: (doc_a, doc_b, common, n_a, n_b, jacc_x1000).
    *
    * The prefix-filter theorem (Chaudhuri et al. SSJoin / Xiao et al.
    * PPJoin): under any global total order on shingles, two sets with
    * Jaccard >= t must share their SMALLEST common shingle within each
    * set's first |x| - ceil(t*|x|) + 1 elements. Ordering rare-first
    * (ascending document frequency, shingle string as tie-break) makes
    * the indexed prefix shingles precisely the LOW-df ones, so the
    * pairing cost collapses from sum over ALL shingles of df² (the
    * formulation every prior round documented as the scale-killer:
    * boilerplate shingles contribute quadratic buckets) to sum over
    * prefix postings of df_prefix² — near-linear on real corpora, with
    * NO approximation. Verification of the surviving candidates is the
    * shared streaming intersection (exact, slim rows, map-side
    * partial).
    *
    * minJ = 0 is rejected: the prefix shrinks to nothing meaningful at
    * t = 0 (every pair of docs is a result — that query is a cross
    * join, not a similarity join). */
  def ngramJaccardPairs(docs: DataFrame, minJ: Double): DataFrame =
      Checkpoints.scoped { scope =>
    require(minJ > 0.0 && minJ <= 1.0, s"minJ must be in (0, 1], got $minJ")
    // the inverted index feeds df stats, the prefix ranking, and the
    // verification — cache it or tokenize/shingle runs four times
    val sh = scope.cache(shingleIndex(docs))
    val dfs = sh.groupBy("s").agg(count(lit(1)).as("df"))
    // required-overlap a = ceil(t*n) with a 1e-9 guard: binary-double
    // error on t*n must never round a up (a smaller a only ENLARGES
    // the prefix — still exact; a larger a could miss pairs). The
    // per-doc size comes from a count window over the SAME doc_id
    // partitioning as the rank window — one exchange serves both,
    // instead of a separate groupBy + join shuffle.
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "s")
    val ranked = sh.join(dfs, Seq("s"))
      .withColumn("n", count(lit(1)).over(wd))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <=
        col("n") - ceil(col("n") * lit(minJ) - lit(1e-9)) + 1)
      .select("doc_id", "s", "n")
    // each endpoint's full size n rides on its prefix rows into the pair
    val cand = ranked.as("a").join(ranked.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
    verifyPairsExact(sh, cand, minJ)
      .transform(Checkpoints.materialize)
  }

  /** Exact-Jaccard verification of candidate pairs against the
    * inverted index via the streaming intersection (see the shape
    * discussion at [[minhashVerifiedPairs]]): replicate each pair by
    * doc_a's shingles, equi-join (doc_b, shingle), count. The index
    * branches are re-projected with FRESH column names — `cand`
    * typically derives from `sh`, making this a triple self-join where
    * qualified refs can collapse into tautologies (see scaladoc in
    * the MinHash path). `cand` is (doc_a, doc_b, n_a, n_b), each n the
    * endpoint's full distinct-shingle count; `sh` must hold every
    * shingle of every endpoint (other docs' rows are never read).
    * Returns the standard 6-column shape; callers own cache/pin
    * lifecycle. */
  private def verifyPairsExact(sh: DataFrame, cand: DataFrame,
                               minJ: Double): DataFrame = {
    val shA = sh.select(col("doc_id").as("va_doc"), col("s").as("va_s"))
    val shB = sh.select(col("doc_id").as("vb_doc"), col("s").as("vb_s"))
    // pairs with an empty intersection drop out of the inner join —
    // correct for minJ > 0 (their Jaccard is 0 < minJ)
    cand
      .join(shA, col("doc_a") === col("va_doc"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("va_s"))
      .join(shB, col("doc_b") === col("vb_doc") && col("va_s") === col("vb_s"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b").agg(count(lit(1)).as("common"))
      .withColumn("jacc", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
      .filter(col("jacc") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"),
        floor(col("jacc") * 1000).cast("long").as("jacc_x1000"))
  }

  /** [[ngramJaccardPairs]] with the stop-shingle guard that makes the
    * inverted index survive corpus scale: shingles whose document
    * frequency exceeds maxDf (boilerplate headers, license blocks,
    * templated phrases) are dropped from the universe BEFORE pairing,
    * and Jaccard is computed exactly within the capped universe. The
    * pairing cost sum-over-shingles of df^2 is then bounded by
    * maxDf^2 x |shingles| instead of being dominated by a few
    * quadratic-bucket stop shingles. The stop list itself is small by
    * construction (only shingles with df > maxDf), so the subtraction
    * is a broadcast anti-join. */
  def ngramJaccardPairsCapped(docs: DataFrame, minJ: Double,
                              maxDf: Long): DataFrame =
      Checkpoints.scoped { scope =>
    val sh = scope.cache(shingleIndex(docs))
    val stop = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")
    val kept = scope.cache(sh.join(broadcast(stop), Seq("s"), "left_anti"))
    val cnt = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    // materialize the (tiny) surviving pair set through the caches
    // before the scope releases both: repeated library calls keep at
    // most the small result block, lineage intact
    pairs
      .join(cnt.as("x"), col("doc_a") === col("x.doc_id"))
      .join(cnt.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("x.n").as("n_a"), col("y.n").as("n_b"),
        (col("common").cast("double") /
          (col("x.n") + col("y.n") - col("common"))).as("jacc"))
      .filter(col("jacc") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"),
        floor(col("jacc") * 1000).cast("long").as("jacc_x1000"))
      .transform(Checkpoints.materialize)
  }

  /** Asymmetric shingle-CONTAINMENT pairs over the df-capped shingle
    * universe — the quote/subset detector Jaccard structurally
    * misses: a short document fully embedded in a long one has
    * containment(short→long) = |S∩| / |S_short| ≈ 1 while its Jaccard
    * |S∩| / |S∪| can be arbitrarily small (the union is long-sized).
    * Production use: quote removal, doc-inside-doc boilerplate,
    * version-supersession (RefinedWeb-style sub-document pruning
    * one level up, at whole-doc granularity).
    *
    * All arithmetic integer (house oracle discipline): the threshold
    * is per-mille (`minCx1000`), the keep predicate is the
    * cross-multiplied `1000·common >= minCx1000·min(n_a, n_b)`
    * (common ≤ min(n_a, n_b), so the smaller side always carries the
    * larger containment — testing the min side tests "either
    * direction"), and both direction scores ride the output as
    * `(1000·common) div n`.
    *
    * Scale shape = [[ngramJaccardPairsCapped]]'s: the df cap bounds
    * the pairing cost at maxDf²·|shingles| (containment has no
    * useful symmetric prefix filter — the large side must keep its
    * full postings, so the stop-shingle guard is the honest
    * mechanism), candidates stream through one equi-join on the
    * capped universe, and the result materializes through the cache
    * with lineage intact. Output: (doc_a, doc_b, common, n_a, n_b,
    * cont_ab_x1000, cont_ba_x1000), doc_a < doc_b. */
  def containmentPairs(docs: DataFrame, minCx1000: Long,
                       maxDf: Long = 64L): DataFrame =
      Checkpoints.scoped { scope =>
    require(minCx1000 > 0 && minCx1000 <= 1000,
      s"minCx1000 is a per-mille threshold in (0, 1000], got $minCx1000")
    val sh = scope.cache(shingleIndex(docs))
    val stop = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")
    val kept = scope.cache(sh.join(broadcast(stop), Seq("s"), "left_anti"))
    val cnt = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(cnt.as("x"), col("doc_a") === col("x.doc_id"))
      .join(cnt.as("y"), col("doc_b") === col("y.doc_id"))
      .filter(lit(1000L) * col("common") >=
        lit(minCx1000) * least(col("x.n"), col("y.n")))
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("x.n").as("n_a"), col("y.n").as("n_b"),
        Hashing.idiv(lit(1000L) * col("common"), col("x.n"))
          .as("cont_ab_x1000"),
        Hashing.idiv(lit(1000L) * col("common"), col("y.n"))
          .as("cont_ba_x1000"))
      .transform(Checkpoints.materialize)
  }

  /** MinHash signatures: 16 universal hashes over shingle h31 values.
    * One row per doc with columns doc_id, n, mh_0..mh_15, where n is
    * the doc's distinct-shingle count; single shuffle. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = shingleIndex(docs).withColumn("h", h31(col("s")))
    val aggs = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min(universalHash(col("h"), a, b)).as(s"mh_$i")
    }
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** LSH banding: b=8 bands of r=2 rows. Returns exploded
    * (doc_id, n, band_idx, band_val), n carried from `sigs`; docs
    * sharing any band are candidates.
    * P(miss | J=0.8) = (1 - 0.8^2)^8 ~ 2e-4 per pair; candidates are
    * exactly verified afterwards so precision is 1.0. */
  def lshBands(sigs: DataFrame): DataFrame = {
    val bands = (0 until 8).map { j =>
      struct(lit(j).as("band_idx"),
        (col(s"mh_${2 * j}") * lit(P31) + col(s"mh_${2 * j + 1}")).as("band_val"))
    }
    sigs.select(col("doc_id"), col("n"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("n"), col("b.band_idx").as("band_idx"),
        col("b.band_val").as("band_val"))
  }

  /** MinHash-LSH near-dup pairs, exactly verified: candidates from band
    * buckets, then exact Jaccard on the candidates' shingle sets via a
    * streaming intersection over the shingle index of the candidates'
    * endpoints only. Same output shape as [[ngramJaccardPairs]]. */
  def minhashDupPairs(docs: DataFrame, minJ: Double): DataFrame =
    minhashVerifiedPairs(docs, minJ, bucketCap = None)

  /** [[minhashDupPairs]] with a band-bucket size cap — the
    * boilerplate-robust production variant. Band buckets larger than
    * `maxBucket` docs are dropped BEFORE pair expansion, so a shared
    * header/footer/license block that lands thousands of documents in
    * one bucket costs O(bucket) instead of O(bucket²) pairs (the same
    * Σdf² failure mode the stop-shingle cap bounds for exact Jaccard —
    * measured during scale-law validation: one shared token pattern
    * inflated candidates ~2000×, see PLANS.md).
    *
    * Recall contract: a pair is missed iff EVERY band the two docs
    * agree on is oversized. For genuinely near-duplicate pairs inside
    * a boilerplate cluster that is precisely the intended behavior
    * (the cluster needs cluster-level handling, not C(n,2) pairs); for
    * pairs agreeing on any organic band the result is identical to
    * [[minhashDupPairs]]. Deterministic given (minJ, maxBucket), so
    * the full pipeline — signatures, banding, cap, exact verify — is
    * replayable in oracle SQL. */
  def minhashDupPairsCapped(docs: DataFrame, minJ: Double,
                            maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    minhashVerifiedPairs(docs, minJ, bucketCap = Some(maxBucket))
  }

  /** The sketch decides which exact data is read: the corpus is
    * tokenized once for the signatures, and exact verification reads
    * the shingle index of the candidate pairs' endpoints only — every
    * endpoint's full shingle set, so the result is the one a
    * whole-corpus index gives. Each endpoint's n rides on its band
    * rows into the pair. */
  private def minhashVerifiedPairs(docs: DataFrame, minJ: Double,
                                   bucketCap: Option[Int]): DataFrame =
      Checkpoints.scoped { scope =>
    // minJ = 0 would mean "every band-colliding pair, even with zero
    // shingle overlap" — the streaming-intersection verify drops
    // zero-overlap pairs in its inner join, so that boundary is
    // excluded explicitly rather than silently returning fewer rows
    // than the old array_intersect formulation did
    require(minJ > 0.0 && minJ <= 1.0, s"minJ must be in (0, 1], got $minJ")
    // signatures (one small row per doc) cached: the band stream scans
    // them twice
    val sigs = scope.cache(minhashSignatures(docs))
    // candidates cached: they pick the endpoints and drive the verify
    val cand = scope.cache(bandCandidates(scope, sigs, bucketCap))
    // a semi-join needs no distinct endpoint set
    val ends = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    // the endpoints' index, cached: both sides of the intersection read it
    val sh = scope.cache(shingleIndex(docs.join(ends, Seq("doc_id"), "left_semi")))
    // exact verification WITHOUT materializing per-doc shingle arrays:
    // the earlier collect_list/array_intersect formulation rebuilt a
    // shingle array for every doc in the corpus and replicated both
    // full arrays onto every candidate pair row. On a boilerplate-
    // skewed corpus the candidate set inflates (docs sharing common
    // tokens collide in bands at r=2; measured 601 candidates/doc on a
    // 50k-doc corpus with one shared token interleaved — ~6 GiB of
    // array copies, superlinear GC). The streaming intersection in
    // verifyPairsExact keeps every operator pipelined — cost is sum
    // over pairs of |sh(doc_a)|, linear in the candidate set.
    //
    // Materialize the verified pair set (tiny next to the shingle
    // index) through the caches before the scope releases them, so
    // repeated library calls do not leak block-store entries.
    verifyPairsExact(sh, cand, minJ).transform(Checkpoints.materialize)
  }

  /** Distinct band-collision pairs (doc_a, doc_b, n_a, n_b),
    * doc_a < doc_b, over `sigs`, buckets of more than `bucketCap` docs
    * dropped first, each n carried from `sigs`. Lazy; when capped, the
    * filtered band stream is cached in the caller's scope, so the
    * caller's action reads it. The cap is an AGGREGATE +
    * anti-join against the OVERSIZED buckets, not a count-over-window:
    * the cap exists precisely for corpora with mega-buckets, and a
    * window would put every row of such a bucket into ONE unsplittable
    * partition; the aggregate gets map-side partial combine. The
    * oversized set is TYPICALLY tiny (empty on organic corpora) but
    * O(#buckets) in the worst case, so the hint is left to AQE: it
    * broadcasts the anti-join when the set is small (the q47
    * stop-shingle pattern) and falls back to a shuffle join when it is
    * not. The filtered band stream is cached because the candidate
    * self-join scans it twice (uncached, the cap pipeline ran once per
    * join branch: measured 10.5 s vs 3.7 s uncapped at the x10 corpus). */
  private def bandCandidates(scope: Checkpoints.Scope, sigs: DataFrame,
                             bucketCap: Option[Int]): DataFrame = {
    val allBands = lshBands(sigs)
    val bands = bucketCap.fold(allBands) { cap =>
      val oversized = allBands.groupBy("band_idx", "band_val")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > cap)
        .select("band_idx", "band_val")
      scope.cache(
        allBands.join(oversized, Seq("band_idx", "band_val"), "left_anti"))
    }
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
  }

  /** Band-collision CANDIDATE pairs only — [[minhashDupPairsCapped]]
    * stopped before verification, exposed so a different verifier
    * (edit distance in [[editVerifiedPairs]], a cross-encoder at a
    * model boundary) can consume the same bucket-capped MinHash
    * recall machinery. Same cap semantics and determinism as the
    * verified form; output (doc_a, doc_b), doc_a < doc_b, distinct. */
  def minhashCandidatesCapped(docs: DataFrame, maxBucket: Int): DataFrame =
      Checkpoints.scoped { scope =>
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // signatures cached: the band stream scans them twice
    val sigs = scope.cache(minhashSignatures(docs))
    bandCandidates(scope, sigs, Some(maxBucket)).select("doc_a", "doc_b")
      .transform(Checkpoints.materialize)
  }

  /** EDIT-DISTANCE verification of near-dup candidates — the verifier
    * for corpora where shingle Jaccard is too coarse (short texts,
    * heavy token reordering false-positives) or where the dedup
    * policy is stated in character edits ("drop if within d edits",
    * the ExactSubstr/fuzzy-dedup family). `candidates` is any
    * (doc_a, doc_b) frame ([[minhashCandidatesCapped]],
    * [[simhashDupPairs]]'s pairs, a planted set); each pair gets the
    * exact Levenshtein distance of its texts, BANDED at `maxDist` —
    * Spark's thresholded `levenshtein` runs the Ukkonen-style
    * O(maxDist·len) band, not the full O(len²) matrix, and returns
    * -1 past the band, so pairs farther than `maxDist` cost only the
    * band and are dropped (the oracle's unbanded
    * `levenshtein() <= maxDist` keeps exactly the same set).
    *
    * Distances are code-point edits; both engines count ASCII
    * identically (the corpus precondition the scrub family already
    * pins — see [[graft.functions.MultiMatchScrubExpr]]).
    *
    * Scale shape: the candidate frame is bounded by the upstream cap,
    * so its BARE ID side broadcasts (the q113 posture) and the corpus
    * text column streams through broadcast-hash probes — no corpus
    * shuffle. The SECOND probe's build side carries text_a and is the
    * fast path: one broadcast, zero exchanges — but the cap bounds
    * pair COUNT, not text bytes, so its size is Σ octet_length(text_a)
    * over the pairs (|candidates|·avg_len UTF-8 bytes, not chars — a
    * CJK corpus is 3-4 bytes/char; book-length docs under a generous
    * cap can blow the broadcast limit even though the candidate frame
    * itself is small). That sum is therefore MEASURED (one
    * candidate-bounded aggregate job — the scan it pays is the same
    * probe the broadcast build pays) and the pairing DISPATCHES on
    * it, the VocabJoin pattern applied to text payloads: broadcast at
    * or under `graft.edit.broadcastMaxTextBytes` (default 128 MB),
    * and past it withA meets a per-DOC (doc_b, text_b) frame in a
    * doc-keyed shuffle-hash join instead (per-doc, so duplicate
    * candidate pairs replicate linearly exactly as the broadcast
    * branch does; never sort-merge — sorting text payloads is pure
    * waste at candidate size). Callers that know their pair text fits
    * skip the probe job with `graft.edit.assumeBroadcastFits=true`
    * (a wrong hint fails as a broadcast OOM, never a wrong answer).
    * All paths are spec-pinned row-for-row incl. duplicate-pair
    * input (EditDedupSpec). The quadratic-looking
    * work is the banded kernel on |candidates| text pairs, the honest
    * verification cost. Output: (doc_a, doc_b, n_a, n_b, dist,
    * edit_sim_x1000 = 1000 − (1000·dist) div max(n_a, n_b, 1)),
    * doc_a < doc_b. */
  def editVerifiedPairs(docs: DataFrame, candidates: DataFrame,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val txt = docs.select(col("doc_id"), col("text"))
    val ids = candidates.select(col("doc_a"), col("doc_b"))
    val withA = txt
      .join(broadcast(ids), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("text").as("text_a"))
    val budget = docs.sparkSession.conf
      .getOption("graft.edit.broadcastMaxTextBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    // the byte probe is an EAGER aggregate job at DataFrame-build time
    // — the honest price of a byte-true dispatch, but callers that
    // KNOW their pair text fits (a capped dedup over short docs, the
    // common case) can skip it: `graft.edit.assumeBroadcastFits=true`
    // pins the broadcast branch without the probe scan (round-15
    // ADVICE). Wrong hints surface as a broadcast OOM, not a wrong
    // answer — both branches return identical rows (EditDedupSpec).
    val assumeFits = docs.sparkSession.conf
      .getOption("graft.edit.assumeBroadcastFits").exists(_.toBoolean)
    val fits = assumeFits || {
      val aRow = withA.agg(sum(octet_length(col("text_a")))).head()
      aRow.isNullAt(0) || aRow.getLong(0) <= budget
    }
    val paired =
      if (fits)
        txt.join(broadcast(withA), col("doc_id") === col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("text_a"),
            col("text").as("text_b"))
      else {
        // per-DOC b-side (one row per doc_b — a per-PAIR frame here
        // would multiply duplicate candidate pairs n×m where the
        // broadcast branch emits them linearly, breaking the
        // branches-identical contract for non-distinct input)
        val bSide = txt
          .join(broadcast(ids.select(col("doc_b")).distinct()),
            col("doc_id") === col("doc_b"))
          .select(col("doc_b"), col("text").as("text_b"))
        withA.join(bSide.hint("shuffle_hash"), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"))
      }
    paired
      .select(col("doc_a"), col("doc_b"),
        length(col("text_a")).cast("long").as("n_a"),
        length(col("text_b")).cast("long").as("n_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist)
          .cast("long").as("dist"))
      .filter(col("dist") >= 0L && col("dist") <= maxDist.toLong)
      .withColumn("edit_sim_x1000",
        lit(1000L) - idiv(lit(1000L) * col("dist"),
          greatest(col("n_a"), col("n_b"), lit(1L))))
  }

  /** Connected components over an undirected pair list via iterative
    * min-label propagation, with the iteration kernel at the RDD layer.
    *
    * Why RDD here and DataFrame everywhere else: an iterative fixpoint
    * loop is the one shape Catalyst actively fights. A DataFrame loop
    * must checkpoint every round (the labels frame is referenced twice
    * per round, so an un-truncated plan doubles per round — O(2^iters)
    * tree nodes; stringifying that tree for the cache name is what hung
    * the round-2 bench), and even checkpointed, every round re-pays
    * query planning, AQE stage materialization, and Janino codegen —
    * measured ~0.45 s/round on a 920-edge graph regardless of partition
    * count, 17 rounds = the whole operator budget. The RDD loop pays
    * none of that per round, and — the actual 100 TB argument — reuses
    * one `HashPartitioner` across all rounds: edges shuffle ONCE into
    * place, every round's edge⨝label join is then narrow (zero edge
    * movement), and the only per-round shuffle is the label messages
    * (≤ edge count). This is precisely GraphX's Pregel execution
    * pattern, which is RDD-based for the same reason.
    *
    * The loop also iterates ONLY over nodes that appear in an edge: at
    * corpus scale the dup graph is a sliver of the node set (most
    * documents have no near-dup), so rounds never touch the full
    * corpus. Edge-free nodes are singleton clusters by definition and
    * join back in once, after convergence.
    *
    * Convergence: min-label propagation only ever lowers a node's root,
    * so the exact BigInt sum of roots is strictly decreasing until the
    * fixpoint — an O(labels) action per round, no compare-join.
    *
    * @param nodes single-column frame of node ids (column `id`, long)
    * @param pairs two-column frame of undirected edges (`a`, `b`);
    *        endpoints outside `nodes` participate in propagation
    *        (bridging components) but emit no output row — and if such
    *        an endpoint IS the component's min id, it claims the root
    *        and no surviving row has keep=true for that cluster, so
    *        keep `pairs` ⊆ `nodes`×`nodes` when a representative is
    *        required
    * @return (id, cluster_root, keep) for exactly the ids in `nodes` —
    *         singletons root themselves; keep marks the cluster
    *         representative. */
  def componentLabels(nodes: DataFrame, pairs: DataFrame,
                      maxIters: Int = 50): DataFrame =
      Checkpoints.scoped { scope =>
    val session = nodes.sparkSession
    import org.apache.spark.HashPartitioner

    // materialize the pair pipeline as a DATAFRAME first: crossing the
    // .rdd boundary on the raw plan would execute the whole upstream
    // (LSH candidates, rerank...) through the row-based deserialization
    // path, outside whole-stage codegen — checkpointing keeps the
    // expensive part columnar/codegen'd and the RDD kernel only ever
    // reads the tiny materialized edge list
    val pairRows = scope.pin(pairs
      .select(col("a").cast("long"), col("b").cast("long")))
    val eCount = pairRows.count() * 2
    // parallelism tracks the dup graph, not the corpus: one partition
    // per ~2M directed edges (tiny graphs collapse to a single task per
    // round instead of a corpus-sized grid of empty ones)
    val part = new HashPartitioner(
      math.max(1L, eCount / 2000000L).toInt)
    val edges = scope.persist(pairRows.rdd
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1)); Iterator((a, b), (b, a))
      }
      .partitionBy(part))
    edges.count()
    // edges is materialized; the pinned edge list served its purpose
    scope.release(pairRows)

    // labels co-partitioned with edges: reduceByKey(part, ...) keeps the
    // partitioner, so every round's join below is narrow
    var labels = scope.persist(edges.keys.map(k => (k, k))
      .reduceByKey(part, (a, _) => a))
    def rootSum(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      rdd.aggregate(BigInt(0))((s, kv) => s + kv._2, _ + _)
    var prevSum = rootSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val messages = edges.join(labels) // narrow: both sides on `part`
        .map { case (_, (dst, root)) => (dst, root) }
      // cogroup, NOT union+reduceByKey: a union with the unpartitioned
      // messages RDD forgets the partitioner and reduceByKey would
      // re-shuffle the labels side every round — cogroup keeps labels
      // narrow on `part`, so only the messages actually move
      val next = scope.persist(labels.cogroup(messages, part)
        .mapValues { case (ls, ms) =>
          val l = ls.head // labels is total on edge nodes
          if (ms.isEmpty) l else math.min(l, ms.min)
        })
      val curSum = rootSum(next) // also materializes next
      scope.release(labels)
      labels = next
      converged = curSum == prevSum
      prevSum = curSum
      i += 1
    }
    scope.release(edges)
    require(converged,
      s"label propagation did not converge in $maxIters iterations " +
        "(a dup-cluster chain longer than maxIters?) — results would be wrong")

    import session.implicits._
    // pin the converged labels into a checkpointed DataFrame (the
    // result reads it, and the query scope frees it after the serving
    // action) so the operator scope can free the RDD blocks
    val labeledAll = Checkpoints.pin(labels.toDF("id", "root"))
    // the output universe is exactly `nodes`: edge endpoints outside
    // nodes participated in propagation (their labels kept the graph
    // connected) but emit no row — the docstring promises one row per
    // node, nothing else
    val labeled = labeledAll
      .join(nodes.select(col("id")), Seq("id"), "left_semi")
    val singletons = nodes.select(col("id"))
      .join(labeledAll.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"))
    labeled.union(singletons)
      .select(col("id"), col("root").as("cluster_root"),
        (col("id") === col("root")).as("keep"))
  }

  /** Near-dup clusters: connected components over the MinHash-LSH dup
    * pairs — the "keep one document per duplicate cluster" operator.
    * Output: (doc_id, cluster_root, keep) for every document.
    *
    * `bucketCap` routes pair detection through
    * [[minhashDupPairsCapped]]: the production setting for
    * boilerplate-heavy corpora, where the uncapped band join inflates
    * candidates ~2000x (PLANS.md measurement) and the end-to-end
    * materialization would otherwise pay O(cluster²) exactly where
    * clusters are biggest. None = uncapped (exact LSH recall). */
  def dupClusters(docs: DataFrame, minJ: Double, maxIters: Int = 50,
                  bucketCap: Option[Int] = None): DataFrame = {
    bucketCap.foreach(c =>
      require(c >= 2, s"bucketCap must be >= 2, got $c"))
    componentLabels(
      docs.select(col("doc_id").as("id")),
      minhashVerifiedPairs(docs, minJ, bucketCap)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
      maxIters)
      .select(col("id").as("doc_id"), col("cluster_root"), col("keep"))
  }

  /** PageRank (Page, Brin, Motwani & Winograd 1999, "The PageRank
    * Citation Ranking") over the near-dup graph — centrality within
    * duplicate neighborhoods (pick the canonical representative of a
    * boilerplate cluster; weight hub documents for removal). Takes
    * any (doc_a,
    * doc_b) pair frame (q22 exact, q23 LSH, q74 IVF — they drop in
    * unchanged, the q113 composition contract) as an UNDIRECTED graph
    * restricted to pair-participating docs, and runs `iters` power
    * iterations in integer fixed point, damping d = 0.85 pinned as
    * 17/20:
    *
    *   pr_0(v)     = 1,000,000
    *   contrib(u)  = pr_k(u) div deg(u)
    *   pr_{k+1}(v) = 150,000 + (17 · Σ_{u∈N(v)} contrib(u)) div 20
    *
    * Everything is a positive int64 (`div` = floor on both engines;
    * the largest intermediate 17·Σcontrib is bounded by 17·10^6·|V|),
    * and the neighbor sum is order-independent, so the WHOLE
    * trajectory (pr1..prN columns) sits under the oracle hash gate as
    * chained static CTEs — the Lloyd-loop pattern for graphs. Every
    * node has deg ≥ 1 and receives ≥ 1 contribution per sweep
    * (undirected), so there is no dangling-mass term.
    *
    * Scale: the graph is PAIR-SET-sized — the post-dedup small side,
    * orders of magnitude under the corpus — so each sweep is one
    * edge-sized join + agg; the corpus-sized work lives entirely in
    * the upstream pair derivation. At production iteration counts the
    * loop would pin per-sweep lineage ([[graft.engine.Checkpoints]])
    * like the BPE/Lloyd trainers; at the gated 3 sweeps the composed
    * plan stays small without it. Output: one row per node —
    * (doc_id, deg, pr1_x1M … prN_x1M). Invariant (spec'd): any
    * 2-regular component is an exact fixed point at 1,000,000. */
  def neardupPageRank(pairs: DataFrame, iters: Int = 3): DataFrame =
      Checkpoints.scoped { scope =>
    require(iters >= 1 && iters <= 20,
      s"iters=$iters out of range (past ~20 sweeps pin lineage first)")
    // The iterative-loop discipline (the BPE/Lloyd lesson, re-measured
    // here): LAZY sharing — cache() on edges/deg/r_k — left the sweep
    // chain's logical plans compounding and cost ~2.3 s of
    // planning/AQE overhead PER SWEEP at a 477-node graph. Eager pins
    // truncate lineage instead: the pair derivation (the one
    // corpus-sized term) materializes exactly once, and every sweep
    // plans against constant-size LogicalRDD leaves (measured 0.2 s
    // per sweep after the pin rewrite). Pins the returned frame reads
    // (deg + each r_k) are the query scope's; build-internal pins
    // (edges, outShare) are the operator scope's.
    val edges = scope.pin(pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v"))))
    val deg = Checkpoints.pin(
      edges.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    // (u, v, deg): the contrib source
    val outShare = scope.pin(edges.join(deg, "u"))
    scope.release(edges)
    var r = deg.select(col("u").as("doc_id"), lit(1000000L).as("pr"))
    var out = deg.select(col("u").as("doc_id"), col("deg"))
    for (k <- 1 to iters) {
      val contrib = outShare
        .join(r.withColumnRenamed("doc_id", "u"), "u")
        .select(col("v"), idiv(col("pr"), col("deg")).as("c"))
      r = Checkpoints.pin(contrib.groupBy(col("v"))
        .agg((lit(150000L) +
          idiv(lit(17L) * sum(col("c")), lit(20L))).as("pr"))
        .select(col("v").as("doc_id"), col("pr")))
      out = out.join(r.withColumnRenamed("pr", s"pr${k}_x1M"), "doc_id")
    }
    out
  }

  /** Signature width: 60 bits (all of [[Hashing.h60]]'s entropy). */
  val SimhashBits = 60
  /** Block width for the pigeonhole join: 4 blocks of 15 bits. 2^15
    * values per block keeps bucket sizes sub-quadratic at corpus scale —
    * at 10^9 docs a uniform block bucket holds ~30k docs (vs ~4M with
    * the 8-bit blocks a 31-bit signature forces), and real buckets are
    * smaller because near-identical docs are exactly what the dedup
    * removes. */
  val SimhashBlockBits = 15

  /** 60-bit SimHash over the distinct shingle set (unweighted): bit i is
    * set iff sum over shingles of sign(bit i of h60(shingle)) is >= 0.
    * Shingles (not single words) keep the signature discriminative when
    * documents share vocabulary but not phrasing. */
  def simhash(docs: DataFrame): DataFrame =
    sigFromBitSums(shingleBitSums(docs))

  /** The shared SimHash accumulator: per (doc, bit position i), the
    * ±1 sum over the doc's shingle h60 hashes. The sign of this frame
    * is the classic binary signature ([[sigFromBitSums]]); the RAW
    * sums are a 60-dim dense random projection of the shingle-set
    * indicator vector ([[hashedDocVectors]]) — one accumulator, two
    * products.
    *
    * Plan shape: explode the 60 bit positions into rows and aggregate,
    * rather than 60 parallel sum() expressions — the expression form
    * generates a codegen class so large that Janino compilation alone
    * costs ~10 s (measured at width 31); this shape compiles in
    * milliseconds and shuffles only (docs × 60) narrow rows. */
  private def shingleBitSums(docs: DataFrame): DataFrame = {
    val wh = shingleIndex(docs).withColumnRenamed("s", "w")
      .withColumn("h", h60(col("w")))
    val exploded = wh.select(col("doc_id"), col("h"),
      explode(sequence(lit(0), lit(SimhashBits - 1))).as("i"))
    val signs = exploded.select(col("doc_id"), col("i"),
      when(expr("shiftright(h, i) & 1") === 1, lit(1L)).otherwise(lit(-1L))
        .as("sgn"))
    signs.groupBy("doc_id", "i").agg(sum(col("sgn")).as("bs"))
  }

  private def sigFromBitSums(bitSums: DataFrame): DataFrame =
    bitSums.groupBy("doc_id")
      .agg(sum(when(col("bs") >= 0,
        expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(0L)).as("simhash"))

  /** Dense hashed document vectors from RAW TEXT — SimHash's pre-sign
    * bit sums kept as a 60-dim vector instead of collapsed to sign
    * bits: exactly a random projection of the doc's shingle-set
    * indicator onto 60 ±1 directions (the h60 bit planes), i.e. a
    * deterministic, integer-valued doc embedding that needs no
    * external model. The featurizer for corpora that arrive WITHOUT a
    * precomputed embedding column: cosine over these vectors
    * approximates shingle-set cosine, so the whole embedding-side
    * dedup/similarity machinery gets a text-only on-ramp.
    * Output: (doc_id, v: array<double> of 60 integer-valued sums);
    * docs with no shingles (< 3 tokens) have no row. */
  def hashedDocVectors(docs: DataFrame): DataFrame =
    vectorsFromBitSums(shingleBitSums(docs))

  private def vectorsFromBitSums(bitSums: DataFrame): DataFrame =
    bitSums.groupBy("doc_id")
      .agg(transform(
        sort_array(collect_list(struct(col("i"), col("bs")))),
        x => x.getField("bs").cast("double")).as("v"))

  /** Text-only near-dup pairs through the hashed-vector space: the
    * SimHash sign blocks are the candidate index (pigeonhole, the q24
    * kernel), and the verifier is EXACT COSINE over the dense
    * [[hashedDocVectors]] — a strictly finer score than hamming
    * (hamming quantizes each dimension to its sign; the cosine sees
    * magnitudes), from the SAME one-pass accumulator. The pattern is
    * the embedding near-dup pipeline (candidates → exact verify) run
    * end-to-end from raw text with no model in the loop.
    *
    * Every sum is an integer (exactly representable as a double, so
    * the dot/norm folds are order-free and replay in the oracle);
    * zero-norm vectors are excluded per the embedding-family
    * convention. Scale shape: one (docs × 60) accumulator exchange
    * feeds BOTH the signature and the vectors (cached, released after
    * materialize); candidates are the pigeonhole block join; the
    * rerank broadcasts the bounded candidate frame and streams the
    * vector frame through two probes — no corpus shuffle past the
    * accumulator. Output: (doc_a, doc_b, hamming, sim_x1e6) with
    * sim ≥ `minSimX1e6`. */
  def textNearDupPairsHashed(docs: DataFrame, maxHamming: Int,
                             minSimX1e6: Long): DataFrame =
      Checkpoints.scoped { scope =>
    require(minSimX1e6 >= -1000000L && minSimX1e6 <= 1000000L,
      s"minSimX1e6 is a scaled cosine in [-1e6, 1e6], got $minSimX1e6")
    val dot = graft.functions.VectorFunctions.dotProduct _
    val bs = scope.cache(shingleBitSums(docs))
    val cand = hammingBlockPairs(sigFromBitSums(bs), "simhash", maxHamming)
    val vecs = vectorsFromBitSums(bs)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0d)
    val withA = vecs.join(broadcast(cand), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("v").as("va"), col("nrm").as("na"))
    vecs.join(broadcast(withA), col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        floor(dot(col("va"), col("v")) / (col("na") * col("nrm")) * 1e6)
          .cast("long").as("sim_x1e6"))
      .filter(col("sim_x1e6") >= minSimX1e6)
      .transform(Checkpoints.materialize)
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming (<= 3):
    * the 60-bit signature splits into 4 blocks of 15 bits; by pigeonhole
    * any pair within distance 3 shares a block, so the block equi-join
    * loses nothing while avoiding the n^2 cross join. */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    hammingBlockPairs(simhash(docs), "simhash", maxHamming)

  /** Pigeonhole hamming-neighbor join over ANY 60-bit signature column
    * — the kernel shared by [[simhashDupPairs]] (text) and
    * [[Multimodal.phashDupPairs]] (decoded payloads). `sigs0` is one
    * (doc_id, signature) row per doc; output (doc_a, doc_b, hamming)
    * with doc_a < doc_b and hamming <= maxHamming. The signature
    * splits into 4 blocks of 15 bits; by pigeonhole any pair within
    * distance 3 agrees on some block, so the block equi-join is
    * lossless while never forming the n² cross join. */
  private[graft] def hammingBlockPairs(sigs0: DataFrame, sigCol: String,
                                       maxHamming: Int): DataFrame =
      Checkpoints.scoped { scope =>
    require(maxHamming <= 3, "block scheme is only lossless for hamming <= 3")
    // one long per doc; cached because the block self-join scans twice
    // (no ReusedExchange without it — the two sides' exchanges are not
    // deduplicated, so uncached the signature pipeline runs twice)
    val sigs = scope.cache(sigs0.select(col("doc_id"), col(sigCol).as("sig")))
    val blockMask = (1L << SimhashBlockBits) - 1
    val blocks = (0 until 4).map { k =>
      struct(lit(k).as("blk_idx"),
        shiftright(col("sig"), SimhashBlockBits * k)
          .bitwiseAND(lit(blockMask)).as("blk_val"))
    }
    val exploded = sigs.select(col("doc_id"), col("sig"),
        explode(array(blocks: _*)).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.blk_idx").as("blk_idx"), col("b.blk_val").as("blk_val"))
    // materialize the (tiny) pair set through the cached signatures
    // before the scope releases them: repeated library calls keep at
    // most the small result block, lineage intact
    exploded.as("a").join(exploded.as("b"),
        col("a.blk_idx") === col("b.blk_idx") &&
          col("a.blk_val") === col("b.blk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sig ^ b.sig)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .transform(Checkpoints.materialize)
  }
}
