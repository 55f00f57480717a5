package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Checkpoints
import graft.ops.{Dedup, Packing, Sampling, Similarity, TextAnalysis}

/** The curation capstone v2 (q147) as stage builders, chained by
  * [[Capstone.run]].
  *
  * Ten chained stages, the DCLM/FineWeb-shaped end-to-end:
  *   1–3. heuristic quality gates → corpus length gate → PII scrub
  *        (the q73 core);
  *   4.   embedding decontamination (q125's kernel): bench = the
  *        vec_id%10=3 eval slice of the embeddings table (external to
  *        curation — an eval set does not shrink when the corpus
  *        does), corpus side = the curated docs' vectors (doc_id =
  *        vec_id, the testdata's 1:1 convention); bench docs leave
  *        the corpus, contaminated docs (max cosine ≥ τ against any
  *        bench vector) drop, zero-norm vectors have no defined
  *        cosine and pass (the q27/q125 shared convention);
  *   5.   NB quality gate (q140's kernel): trains on the POST-decontam
  *        doc_id%10=7 slice (scrubbed text, lang labels); held-out
  *        docs must classify correctly (the fastText-style
  *        consistency gate), the trusted train slice passes;
  *   6.   cross-entropy selection (q141's kernel): Moore–Lewis over
  *        DSIR hashed features, both LMs from the POST-NB corpus,
  *        target = source='src0'; the keep threshold is the corpus
  *        MEAN ce_diff (sum div count, truncating — DuckDB `//` ≡
  *        Spark IntegralDivide ≡ Scala Long division toward zero):
  *        a pinned θ=0 kept ZERO docs at sf0.01 (a small target slice
  *        inflates bits_t corpus-wide) and any pinned value is a
  *        per-dataset pin the pin-free contract forbids;
  *   7–10. q77's tail over the survivors: capped dedup → hash split →
  *        temperature mix (rates from the post-dedup train corpus) →
  *        512-token packing.
  *
  * Every stage's statistics derive from the PREVIOUS stage's
  * survivors — nothing pinned to a dataset, so the oracle replays the
  * whole cascade exactly at any sf.
  *
  * Plan discipline: the cascade waypoints are lineage-PINNED
  * ([[Checkpoints.pin]]), not merely cached — each is referenced
  * several times and every reference duplicates the whole upstream
  * LOGICAL tree (union branches, the CE self-reference, dupClusters'
  * internal scans, the join-back); a cache-only variant of this query
  * hung the ANALYZER at sf0.01 (plan trees, not data). Every cache
  * and pin a stage takes belongs to q147's query scope, which frees
  * them after the serving action reads the packed output. Stages 4–6
  * add ONE broadcast probe
  * (bench side), one classifier exchange (q140's shape), and one
  * 256-row LM broadcast on top of q77's plan; the corpus is never
  * shuffled by a gate. */
object Capstone {

  /** Stage 4's decontamination cosine threshold, τ = 0.9 in millionths. */
  private val DecontamTauX1e6: Long = 900000L

  /** Stages 1–3; the CACHED clean frame
    * (doc_id, scrubbed text, lang, source). */
  def cleanDocs(docs: DataFrame): DataFrame =
    TextAnalysis.lengthGateRetained(
        docs.filter(TextAnalysis.qualityKeep(col("text"))))
      .filter(col("keep"))
      .select(col("doc_id"),
        TextAnalysis.scrubText(col("text")).as("text"),
        col("lang"), col("source"))
      .transform(Checkpoints.cache)

  /** Stage 4; the PINNED post-decontamination frame. Round 16: the
    * contamination check runs through the CELL-PRUNED candidate
    * generator ([[Similarity.embeddingContaminationCells]] — bench
    * clustered into √(nProbe·|bench|) cells, corpus probes nProbe
    * nearest, exact cosine verify on candidates only) instead of the
    * |corpus|×|bench| exact cross join, which was the capstone
    * ladder's one superlinear term (36.8 s of the 84.6 s x100 wall).
    * The keep law is unchanged and q147's oracle still replays the
    * EXACT all-pairs law — candidate recall at τ is pinned by
    * CellContamSpec (drop-set equality vs the exact kernel, incl. a
    * planted-contamination corpus) and re-proven by the gate at
    * every sf. Round 17: routes through the τ-DISPATCHED
    * [[Similarity.contaminationKeep]] — at the gated τ=0.9 that is
    * the cell path, a caller at low τ gets the exact kernel instead
    * of silent recall loss, and `graft.decontam.exact` /
    * `graft.decontam.nProbe` are live remediation levers. */
  def decontam(clean: DataFrame, emb: DataFrame): DataFrame = {
    val contam = Similarity.contaminationKeep(
      emb.join(clean.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi").filter(col("vec_id") % 10 =!= 3),
      emb.filter(col("vec_id") % 10 === 3), DecontamTauX1e6)
    Checkpoints.pin(clean.filter(col("doc_id") % 10 =!= 3)
      .join(contam.select(col("vec_id").as("doc_id"),
        col("keep").as("dc_keep")), Seq("doc_id"), "left")
      .filter(coalesce(col("dc_keep"), lit(true)))
      .drop("dc_keep"))
  }

  /** Stage 5; the PINNED post-NB-gate frame.
    *
    * Round 17 probed the one-tokenize-pass alternative here (stages
    * 5–6 sharing a pinned (doc_id, t, cnt) frame, every Σ_tokens
    * term count-weighted — the q115 single-pass discipline applied
    * ACROSS stages) and measured it INDISTINGUISHABLE at x100
    * (interleaved same-JVM A/B with the block cache cleared per
    * rep, kept sets asserted identical:
    * ~19 s both forms): what the shared pass saves (two
    * whole-stage-codegen tokenize scans over the already-pinned
    * stage-4 text) it pays back in the corpus-sized (doc, token)
    * exchange plus the waypoint pin. Stages 5–6 are
    * exchange-floor-bound, not tokenize-bound, so the shared frame
    * buys nothing — the gated composition keeps the simpler
    * re-tokenize-per-stage plan (no extra exchange, no extra
    * corpus-sized pin to hold). PLANS "Round 17" has the rows AND
    * the measurement-bias postmortem (the first A/B read "2×
    * slower" because the classic variant's later reps were served
    * from the cache). */
  def nbGate(dec: DataFrame): DataFrame = {
    val nbKeep = TextAnalysis.nbLangClassifier(dec)
      .filter(col("correct")).select("doc_id")
    Checkpoints.pin(dec.filter(pmod(col("doc_id"), lit(10L)) === 7)
      .unionByName(dec.join(nbKeep, Seq("doc_id"), "left_semi")))
  }

  /** Stage 6; the PINNED post-CE-selection frame. The score frame is
    * pinned too (read twice: the mean aggregate and the keep filter —
    * un-pinned, each read re-runs the explode + 256-bucket LM chain)
    * and released before returning. */
  def ceSelect(sel1: DataFrame): DataFrame = {
    val ceScores = Checkpoints.pin(
      TextAnalysis.crossEntropySelect(sel1,
          col("source") === "src0", buckets = 256, thetaX1000 = 0L)
        .select(col("doc_id"), col("ce_diff_x1000")))
    val mRow = ceScores
      .agg(sum(col("ce_diff_x1000")), count(lit(1))).head()
    val thr = if (mRow.isNullAt(0) || mRow.getLong(1) == 0L) 0L
              else mRow.getLong(0) / mRow.getLong(1)
    val out = Checkpoints.pin(sel1.join(
      ceScores.filter(col("ce_diff_x1000") <= thr).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    Checkpoints.release(ceScores)
    out
  }

  /** Stage 7; the PINNED kept-root id frame (post capped dedup). */
  def dedupKeep(sel2: DataFrame): DataFrame =
    Checkpoints.pin(Dedup.dupClusters(sel2, 0.8, bucketCap = Some(16))
      .filter(col("keep")).select("doc_id"))

  /** Stage 8; the CACHED train split (read four times downstream by
    * the mix and pack aggregates — the q77 discipline). */
  def trainSplit(keepIds: DataFrame, sel2: DataFrame): DataFrame =
    Sampling.withSplit(keepIds.join(sel2, Seq("doc_id")))
      .filter(col("split") === "train")
      .select("doc_id", "text", "lang")
      .transform(Checkpoints.cache)

  /** Stages 9–10; the packed output. */
  def pack(train: DataFrame): DataFrame =
    Packing.packChunks(Sampling.withMix(train), 512L,
        keepCols = Seq("lang", "rate_ppm"))
      .orderBy("doc_id")

  /** The full gated composition (q147): all six builders chained. */
  def run(docs: DataFrame, emb: DataFrame): DataFrame = {
    val clean = cleanDocs(docs)
    val sel2 = ceSelect(nbGate(decontam(clean, emb)))
    pack(trainSplit(dedupKeep(sel2), sel2))
  }
}
