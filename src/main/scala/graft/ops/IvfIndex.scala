package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Checkpoints
import graft.functions.VectorFunctions.dotProduct

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions the corpus into cells; queries probe only the
  * nProbe nearest cells and rerank exactly within them.
  *
  * The scale story vs LSH banding ([[Similarity.annTopK]]): IVF adapts
  * to the data distribution (cells follow density), and at 100 TB the
  * cell id becomes the storage partition key — a query touches nProbe
  * partitions instead of the whole corpus. Training is Lloyd's
  * algorithm as Spark aggregations: assignment is a broadcast of k
  * centroids (k small), update is one groupBy — no driver-side loops
  * over vectors, only k centroids ever leave the executors.
  *
  * Deterministic: centroids init from the k lowest vec_ids; ties in
  * assignment break on cell id.
  */
object IvfIndex {

  /** Assign each vector the id of its nearest centroid (max dot is wrong
    * for unnormalized data — use squared L2 via dot identities). */
  private def assign(vectors: DataFrame, centroids: Array[(Int, Seq[Double])]): DataFrame = {
    // dist²(v, c) = |v|² - 2<v,c> + |c|² ; |v|² constant per row → rank by |c|² - 2<v,c>
    val scored = centroids.map { case (cid, c) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dotProduct(col("v"), typedlit(c))).as("d"),
        lit(cid).as("cid"))
    }
    vectors.withColumn("cell",
      array_min(array(scored.toIndexedSeq: _*)).getField("cid"))
  }

  /** Train k centroids with `iters` Lloyd iterations. Returns
    * (cellId, centroid) pairs — k is small, so collecting centroids to
    * the driver between iterations is the intended pattern. */
  def train(embeddings: DataFrame, k: Int, iters: Int,
            dim: Int = 64): Array[(Int, Seq[Double])] =
      Checkpoints.scoped { scope =>
    // cache for the duration of training: every Lloyd iteration (and the
    // init collect) re-reads this projection — without the cache that is
    // iters+1 full corpus scans
    val e = scope.cache(
      embeddings.select(col("vec_id"), col("embedding").as("v")))
    var centroids: Array[(Int, Seq[Double])] =
      e.filter(col("vec_id") < k).orderBy("vec_id").collect()
        .zipWithIndex.map { case (r, i) =>
          (i, r.getSeq[Float](1).map(_.toDouble))
        }
    for (_ <- 0 until iters) {
      val assigned = assign(e, centroids)
      val sums = (0 until dim).map(i =>
        sum(element_at(col("v"), i + 1).cast("double")).as(s"s_$i"))
      val upd = assigned.groupBy("cell")
        .agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
        .collect() // k rows — only centroids ever reach the driver
        .map { r =>
          val n = r.getAs[Long]("n").toDouble
          (r.getAs[Int]("cell"), (0 until dim).map(i => r.getAs[Double](s"s_$i") / n))
        }
      // empty cells keep their previous centroid
      val updMap = upd.toMap
      centroids = centroids.map { case (cid, c) => (cid, updMap.getOrElse(cid, c)) }
    }
    centroids
  }

  /** Sample-based training — the production path. At corpus scale you
    * never Lloyd the full dataset: faiss trains IVF quantizers on a
    * bounded sample (~tens of vectors per centroid suffice for a coarse
    * quantizer). The sample is deterministic and scalable — hash-ordered
    * top-`sampleSize` is a map-side partial top-k
    * (TakeOrderedAndProject), never a global sort — and Lloyd then runs
    * on the driver over primitive arrays in microseconds. The cluster
    * sees ONE pass to collect the sample and ONE assignment pass when
    * the index is built; per-iteration distributed fixed costs
    * (planning + codegen + shuffle floor, ~0.45 s/round on local[32]
    * regardless of data size) leave the job entirely. Same
    * assignment/update/empty-cell semantics as [[train]]. */
  def trainOnSample(embeddings: DataFrame, k: Int, iters: Int,
                    sampleSize: Int = 4096,
                    dim: Int = 64): Array[(Int, Seq[Double])] = {
    val sample = embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    require(sample.nonEmpty, "cannot train on an empty corpus")
    // init from the k lowest vec_ids in the sample (same rule as train)
    var centroids: Array[Array[Double]] =
      sample.sortBy(_._1).take(k).map(_._2.clone())
    val kEff = centroids.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      sample.foreach { case (_, v) =>
        // nearest by squared L2 via |c|^2 - 2<v,c> (|v|^2 constant per
        // row); ties break on the lower cell id, like assign()
        var best = 0
        var bestD = Double.MaxValue
        var cid = 0
        while (cid < kEff) {
          val c = centroids(cid)
          var d = 0.0
          var i = 0
          while (i < dim) { d += c(i) * (c(i) - 2.0 * v(i)); i += 1 }
          if (d < bestD) { bestD = d; best = cid }
          cid += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(kEff) { cid =>
        if (counts(cid) == 0) centroids(cid) // empty cell keeps previous
        else {
          val n = counts(cid).toDouble
          Array.tabulate(dim)(i => sums(cid)(i) / n)
        }
      }
    }
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
  }

  /** SemDeDup-style clustered near-dup pair detection — the
    * corpus-scale path for MODERATE similarity thresholds, the regime
    * where neither existing branch of [[Similarity.nearDupPairs]]
    * scales: hyperplane banding cannot prune there (at sim 0.45 a
    * 16-bit band matches with p^16 ~ 1e-4, so holding recall needs
    * thousands of planes — the sizing law on
    * [[Similarity.nearDupPairsLsh]]), and the exact blocked kernel is
    * Θ(n²d) compute. Here a coarse quantizer partitions the corpus
    * into cells, every vector is assigned to its `nProbe` nearest
    * cells (multi-assignment — the standard boundary-recall
    * mitigation), candidate pairs are vectors co-resident in at least
    * one cell, and the exact cosine rerank keeps pairs >= minSim.
    * Output contract matches [[Similarity.nearDupPairs]]
    * (vec_a < vec_b, sim_x1e6; zero-norm vectors join no pair).
    *
    * Scale: work is Σ_cell n_c² ~ n · cellSize · nProbe² when k grows
    * with the corpus (k ~ n / targetCellSize — train via
    * [[trainOnSample]], whose cost is corpus-independent), against the
    * exact kernel's n². At 100 TB the cell id is the shuffle key: each
    * task reranks one cell's tile, and the same cell id is the natural
    * storage partition for incremental re-dedup. APPROXIMATE by
    * construction: a true pair assigned to disjoint cell sets is
    * missed — precision is exact (candidates are reranked), recall is
    * measured against the exact kernel (IvfNearDupSpec), not
    * guaranteed.
    *
    * HONEST REGIME (measured, PLANS.md round 9, on the ~uniform
    * synthetic corpus, threshold 0.45, 20k vectors): the exact kernel wins
    * outright at this n (3.0 s vs 6–14 s; 1.3e10 flops is nothing),
    * and holding 97% recall with scaled k needed nProbe=8 because
    * moderate-sim pairs on UNclustered data straddle cell boundaries
    * — (k, nProbe) is a recall/cost dial whose value depends on the
    * corpus actually having cluster structure, which real embedding
    * corpora have and this synthetic one does not. The operator's
    * necessity is asymptotic: at 1e9 vectors exact is 1e20 flops —
    * infeasible — while k ~ n/cellSize keeps rerank work at
    * n·cellSize·nProbe², and the cell id gives the shuffle/storage
    * partitioning no Θ(n²) plan has. At corpus scale the choice is
    * banding (near-exact sims only), clustering (moderate sims, data-
    * dependent recall), or not running the query — this is the middle
    * option, priced openly. Determinism: argmin assignment ties break
    * on the lower cell id ([[assign]]'s array_min struct semantics
    * extended to the nProbe-nearest list via array_sort on (d, cid)). */
  /** A corpus-sized sample quantizer for [[nearDupPairs]]: the
    * ceil(n / targetCellSize) lowest-vec_id nonzero-norm vectors AS
    * the centroids (k-means init without Lloyd — cells are the
    * Voronoi regions of a corpus sample, so expected cell size is
    * targetCellSize on any data distribution, and k GROWS with the
    * corpus, which is the IVF scale knob: any fixed quantizer
    * saturates quadratically once cells outgrow targetCellSize, the
    * same law as LSH band width). Deterministic and — unlike
    * Lloyd-trained centroids — cheaply replayable in SQL (a LIMIT
    * subquery + a distance join), which is what lets the registered
    * query stay oracle-exact while adapting k to the data. Production
    * note: [[trainOnSample]] gives better cells for the same k;
    * beyond driver-collectable k (~1e6), assignment switches to the
    * broadcast-join path — [[sampleCentroidsDf]] + [[assignViaJoin]],
    * dispatched on k by [[nearDupPairsClustered]]. */
  def sampleCentroids(embeddings: DataFrame,
                      targetCellSize: Int): Array[(Int, Seq[Double])] = {
    require(targetCellSize >= 1, "targetCellSize must be positive")
    val nz = nonZeroBase(embeddings)
    val n = nz.count()
    val k = math.max(1, math.ceil(n.toDouble / targetCellSize).toInt)
    collectLowestK(nz, k)
  }

  /** [[sampleCentroids]] at a FIXED k instead of a per-cell target:
    * the k lowest-vec_id nonzero-norm vectors as a dense-cid
    * quantizer — a bounded, corpus-size-free training cut (faiss
    * trains coarse quantizers on bounded samples for the same
    * reason). Data-derived yet SQL-replayable as a LIMIT-k subquery,
    * which is what lets q33 put [[annTopKWithCentroids]]'s served
    * rows under the hash gate with no pinned literals (the cid
    * relabeling to 0..k-1 is output-invariant: vec_id order extends
    * the dense rank order, so (d, cid) tie-breaks agree). */
  def sampleCentroidsK(embeddings: DataFrame, k: Int): Array[(Int, Seq[Double])] = {
    require(k >= 1, "k must be positive")
    collectLowestK(nonZeroBase(embeddings), k)
  }

  private def collectLowestK(nz: DataFrame, k: Int): Array[(Int, Seq[Double])] =
    nz.orderBy("vec_id").limit(k).select("vec_id", "v").collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble)) }

  /** The [[sampleCentroids]] quantizer AS a DataFrame, with the k it
    * derived: the ceil(n / targetCellSize) lowest-vec_id nonzero-norm
    * vectors, cid = vec_id. Nothing is collected — the frame is a
    * TakeOrderedAndProject over the scan (map-side partial top-k) —
    * and unlike the hash-gated [[sampleCentroidsDf]] it REPLAYS in
    * SQL as a LIMIT subquery (DuckDB has no xxhash64), which is what
    * lets a registered query drive [[assignViaJoin]] under the
    * hash-check regime (q78). cid = vec_id rather than the dense
    * 0..k-1 rank [[sampleCentroids]] assigns: assignment uses cid
    * only for equality and (d, cid) tie-ordering, and vec_id order
    * extends the rank order, so pair results are invariant under the
    * relabeling (same argument as [[sampleCentroidsDf]]). Returns k
    * alongside so callers can thread it as [[assignViaJoin]]'s
    * kEstimate — the count() already happened here; paying it again
    * inside the assignment would re-scan the corpus. */
  def sampleQuantizerDf(embeddings: DataFrame,
                        targetCellSize: Int): (DataFrame, Long) = {
    require(targetCellSize >= 1, "targetCellSize must be positive")
    val nz = nonZeroBase(embeddings)
    val (df, k) = lowestKCut(nz, nz.count(), targetCellSize)
    (df, k)
  }

  /** [[sampleQuantizerDf]] with the cell size DERIVED from the corpus
    * by the √n/nProbe law ([[ivfCellConfig]]) — the same one corpus
    * count serves both the law and the k = ⌈n/c⌉ centroid cut, so
    * auto-sizing costs no extra scan over the pinned form. Returns
    * (centroids, k, derived cell size). */
  def sampleQuantizerAutoDf(embeddings: DataFrame,
                            nProbe: Int): (DataFrame, Long, Int) = {
    val nz = nonZeroBase(embeddings)
    val n = nz.count()
    val cell = ivfCellConfig(n, nProbe)
    val (df, k) = lowestKCut(nz, n, cell)
    (df, k, cell)
  }

  /** The shared lowest-k centroid cut (cid = vec_id by relabeling
    * invariance): k = ⌈n/cell⌉ over an already-counted nonzero
    * base — one definition so the pinned and auto-sized quantizers
    * can never desynchronize. */
  private def lowestKCut(nz: DataFrame, n: Long,
                         cellSize: Int): (DataFrame, Long) = {
    val k = math.max(1L, math.ceil(n.toDouble / cellSize).toLong)
    val df = nz.orderBy("vec_id").limit(k.toInt)
      .select(col("vec_id").cast("long").as("cid"), col("v"))
    (df, k)
  }

  /** The past-driver-scale quantizer: a hash-gated corpus sample AS a
    * DataFrame — every nonzero-norm vector whose id hashes into the
    * 1/targetCellSize gate becomes a centroid, cid = vec_id. Expected
    * cell size is targetCellSize on any distribution (same Voronoi
    * argument as [[sampleCentroids]]) and k tracks n automatically,
    * but unlike [[sampleCentroids]] NOTHING is collected, counted, or
    * sorted: the quantizer is a filter over the scan, fully
    * distributed, so it composes with [[assignViaJoin]] into an
    * assignment whose only non-streaming piece is the broadcast of the
    * centroid rows themselves. cid = vec_id rather than a dense rank
    * (a global rank would need a sort); assignment semantics only use
    * cid for equality and tie-ordering, and vec_id order extends the
    * sample order, so pair results are invariant under the
    * relabeling. */
  def sampleCentroidsDf(embeddings: DataFrame,
                        targetCellSize: Int): DataFrame = {
    require(targetCellSize >= 1, "targetCellSize must be positive")
    nonZeroBase(embeddings)
      .filter(pmod(xxhash64(col("vec_id")), lit(targetCellSize.toLong)) === 0L)
      .select(col("vec_id").cast("long").as("cid"), col("v"))
  }

  /** Broadcast-join cell assignment — the 100-TB form of the fused
    * literal-centroid kernel. [[sampleCentroids]] + [[NearestCellsExpr]]
    * collect k rows to the driver and embed the centroid matrix in the
    * plan; fine to ~1e6 centroids, dead at the k ~ n/cellSize the IVF
    * sizing law demands at corpus scale (≈1.6e7 centroids ≈ 8 GB of
    * driver state at 1e9 vectors). Here centroids stay a DataFrame:
    * they are grouped into ⌈k/chunkSize⌉ bounded rows of
    * `struct(cid, c2, v)` (c2 precomputed once per centroid — the same
    * sequential-fold |c|² the literal kernel computes), broadcast, and
    * nested-loop-joined to the corpus; each joined row runs the fused
    * chunk kernel ([[graft.functions.NearestCellsChunkExpr]]) for its
    * chunk-local top-nProbe, and a per-vector groupBy merges the
    * per-chunk winners with an array_sort over (d, cid) — lossless,
    * because any global winner is a winner within its own chunk.
    *
    * Shuffle math: the n·k distance work happens INSIDE the codegen
    * kernel on the broadcast build side; what moves is n rows ×
    * ⌈k/chunkSize⌉·nProbe small structs (at n=1e9, k=1.6e7,
    * chunkSize=4096: ~4000 structs/row — choose chunkSize to taste),
    * never n·k rows. The d values are bit-identical to the literal
    * kernel (same fold, same widening, same (d, cid) tie-break), so
    * on the same centroid set the assignment — and any pair result
    * built on it — is equal row-for-row (IvfAssignJoinSpec).
    *
    * Returns (vec_id, cell, keepCols*): up to nProbe rows per input
    * vector. `keepCols` names narrow payload columns of `vectors` to
    * carry through the assignment (the [[Packing.packChunks]] keepCols
    * pattern): they ride the existing chunk join and per-vector merge
    * — `first()` per vec_id, exact since the input has one row per
    * vec_id — instead of costing a corpus-sized join-back afterwards.
    * Keep them NARROW (ids, codes): each keep column is replicated
    * across the ⌈k/chunkSize⌉ chunk rows before the merge, which is
    * free for an 8-byte code and the reason the float-vector payload
    * of [[buildCellIndex]] deliberately joins back instead. */
  def assignViaJoin(vectors: DataFrame, centroidsDf: DataFrame,
                    nProbe: Int, chunkSize: Int = 4096,
                    kEstimate: Option[Long] = None,
                    keepCols: Seq[String] = Nil): DataFrame = {
    require(nProbe >= 1, "nProbe must be positive")
    require(chunkSize >= 1, "chunkSize must be positive")
    val reserved = Set("vec_id", "v", "chunk", "tops", "top", "cell")
    val bad = keepCols.filter(reserved)
    require(bad.isEmpty,
      s"keepCols collide with assignment-internal names: ${bad.mkString(", ")}")
    // nChunks only needs an ORDER-OF-MAGNITUDE k: the grouping key is
    // pmod(hash(cid), nChunks), correct for any nChunks >= 1 — a wrong
    // estimate only unbalances chunk sizes. At 100 TB the quantizer is
    // itself a filtered corpus scan, so count()ing it here re-read the
    // corpus once before the real pass; every caller that built the
    // quantizer already knows expected k (n / targetCellSize), and
    // passing it makes the quantizer's ONE scan the broadcast build.
    // With an estimate supplied, an actually-empty quantizer is the
    // caller's bug: it yields an empty assignment, not an error.
    val k = kEstimate.getOrElse(centroidsDf.count())
    require(k > 0, "empty quantizer")
    val nChunks = ((k + chunkSize - 1) / chunkSize).max(1L)
    // bounded chunk rows; sort_array orders each chunk by cid so the
    // kernel's positional insertion tie-break IS the cid tie-break
    val chunks = centroidsDf
      .withColumn("c2", dotProduct(col("v"), col("v")))
      .groupBy(pmod(xxhash64(col("cid")), lit(nChunks)).as("chunk_id"))
      .agg(sort_array(collect_list(struct(col("cid"), col("c2"), col("v"))))
        .as("chunk"))
      .select("chunk")
    val perChunk = vectors.join(broadcast(chunks))
      .select(col("vec_id") +:
        graft.functions.VectorFunctions.nearestCellsInChunk(
          col("v"), col("chunk"), nProbe).as("tops") +:
        keepCols.map(col): _*)
    val topAgg = slice(array_sort(flatten(collect_list(col("tops")))),
      1, nProbe).as("top")
    val keepAggs = keepCols.map(c => first(col(c)).as(c))
    perChunk.groupBy("vec_id")
      .agg(topAgg, keepAggs: _*)
      .select(col("vec_id") +:
        explode(col("top").getField("cid")).as("cell") +:
        keepCols.map(col): _*)
  }

  /** Fixed-point Lloyd sufficient statistics for one refinement step
    * over a quantizer held AS a DataFrame — the distributed half of
    * [[refineCentroidsDf]], exposed so the statistics themselves can
    * sit under the oracle hash gate (q82): per (cell, dimension), the
    * member count and the EXACT sum of members' values quantized to
    * `scaleBits` fractional bits.
    *
    * Why fixed point: a float mean is a sum whose value depends on
    * partial-aggregation ORDER — Spark's combiner tree and DuckDB's
    * grouped sum round differently, so a double-summed centroid can
    * never be hash-compared, and (worse) is not even deterministic
    * across two runs of the SAME engine once partitioning shifts. The
    * standard fix is to make the accumulator associative exactly:
    * q = floor(x·2^scaleBits + 0.5) per element (float→double widening
    * is exact, the scale is a power of two so the multiply is exact,
    * floor is exact — every step bit-deterministic in any IEEE
    * engine), then SUM the resulting longs, which is order-independent
    * by the associativity of integer addition. At scaleBits=20 the
    * quantization perturbs each element by ≤ 2^-21 — noise four orders
    * below the corpus's own float32 resolution for unit-scale
    * embeddings — and overflow needs Σ|x| > 2^43 per (cell, dim),
    * i.e. ~8e12 unit-scale members in ONE cell before a long saturates.
    *
    * Assignment is [[assignViaJoin]] at nProbe=1 (Lloyd assigns each
    * point to exactly its nearest cell) — the broadcast-chunk kernel,
    * so k past driver scale is fine. Shuffle shape: the explode is
    * n·dim narrow rows, but partial aggregation combines to k·dim per
    * map partition before the ONE exchange, so what moves is bounded
    * by centroid state, not corpus size. Output:
    * (cell, pos 1-based, n_members, s_fp), only non-empty cells.
    * Zero-norm vectors join no cell (the family convention). */
  def lloydCellStats(embeddings: DataFrame, centroidsDf: DataFrame,
                     chunkSize: Int = 4096,
                     kEstimate: Option[Long] = None,
                     scaleBits: Int = 20): DataFrame =
    lloydCellStatsBase(nonZeroBase(embeddings).select("vec_id", "v"),
      centroidsDf, chunkSize, kEstimate, scaleBits)

  private def lloydCellStatsBase(base: DataFrame, centroidsDf: DataFrame,
                                 chunkSize: Int, kEstimate: Option[Long],
                                 scaleBits: Int): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 30,
      "scaleBits must be in [0, 30]")
    val scale = (1L << scaleBits).toDouble // exact power of two
    val assigned = assignViaJoin(base, centroidsDf, nProbe = 1,
      chunkSize, kEstimate)
    assigned.join(base, Seq("vec_id"))
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("pos"),
        floor(col("col").cast("double") * lit(scale) + lit(0.5d))
          .cast("long").as("q"))
      .groupBy("cell", "pos")
      .agg(count(lit(1)).as("n_members"), sum(col("q")).as("s_fp"))
  }

  /** Distributed Lloyd refinement of a quantizer held AS a DataFrame —
    * the training step [[sampleCentroidsDf]]/[[sampleQuantizerDf]]
    * skip, runnable at k past driver scale where [[train]] (which
    * collects k centroids per iteration) and [[trainOnSample]] (driver
    * Lloyd over a bounded sample) both stop being options: at
    * k ~ n/cellSize = 1.6e7 centroids for 1e9 vectors, per-iteration
    * centroid state is ~8 GB — it must live in executors. Each
    * iteration: [[assignViaJoin]] at nProbe=1, the fixed-point-exact
    * per-cell means of [[lloydCellStats]] (see there for why integer
    * accumulation is the only hash-stable/deterministic choice), and
    * a left join back onto the previous centroids so EMPTY CELLS KEEP
    * their prior centroid — the same retention rule as [[train]].
    * Means are (s_fp / 2^scaleBits) / n: both operands exact, one
    * IEEE division each → bit-deterministic.
    *
    * cid labels are preserved (refined centroids answer for the same
    * cells), so a refined frame drops into [[assignViaJoin]],
    * [[buildCellIndex]], or [[nearDupPairsViaJoin]] wherever the raw
    * quantizer did — train once (sample + refine), add many, the faiss
    * lifecycle with the training half distributed. Per iteration the
    * new centroid frame is materialized (cache + count) so the next
    * assignment broadcasts k bounded rows instead of re-planning a
    * growing lineage; the previous iteration's blocks are released as
    * soon as its successor is pinned. */
  def refineCentroidsDf(embeddings: DataFrame, centroidsDf: DataFrame,
                        iters: Int, chunkSize: Int = 4096,
                        kEstimate: Option[Long] = None,
                        scaleBits: Int = 20): DataFrame =
      Checkpoints.scoped { scope =>
    require(iters >= 0, "iters must be non-negative")
    val scale = (1L << scaleBits).toDouble
    val base = scope.cache(nonZeroBase(embeddings).select("vec_id", "v"))
    // widen once: refined means are doubles, and coalesce(mean, old)
    // needs both legs the same array element type
    var cents = centroidsDf.select(col("cid"),
      transform(col("v"), x => x.cast("double")).as("v"))
    var prev: Option[DataFrame] = None
    for (_ <- 0 until iters) {
      val stats = lloydCellStatsBase(base, cents, chunkSize, kEstimate,
        scaleBits)
      // pin, not materialize: an iterative loop's per-round lineage
      // otherwise nests (plan strings grow quadratically with
      // rounds and OOM the driver in AQE's explainString — the BPE
      // trainer hit exactly this); pin truncates to the block RDD
      // and upgrades to a reliable checkpoint when
      // graft.checkpoint.dir is set (the cluster story)
      val next = Checkpoints.pin(lloydUpdate(cents, stats, scale))
      // free the superseded pin once `next` materialized (pin is eager)
      prev.foreach(Checkpoints.release)
      prev = Some(next)
      cents = next
    }
    cents
  }

  /** The Lloyd update step shared by [[refineCentroidsDf]] and
    * [[lloydTrainStats]]: means = (s_fp / 2^scaleBits) / n_members
    * (both operands exact, one IEEE division each), assembled in pos
    * order; empty cells keep their prior centroid (the left-join
    * coalesce — [[train]]'s retention rule). */
  private def lloydUpdate(cents: DataFrame, stats: DataFrame,
                          scale: Double): DataFrame = {
    val means = stats
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"),
        ((col("s_fp").cast("double") / lit(scale)) /
          col("n_members").cast("double")).as("m")))).as("pm"))
      .select(col("cell").as("cid"), col("pm").getField("m").as("mv"))
    cents.join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("mv"), col("v")).as("v"))
  }

  /** The multi-iteration Lloyd train with every iteration's
    * sufficient statistics EXPOSED — the q102 shape: (iter, cell,
    * pos, n_members, s_fp) for iterations 1..iters, each the exact
    * integer rows q82 gates for one step, so the whole training
    * trajectory sits under the hash check (the oracle replays the
    * chain as static CTEs: assign to c_{i−1}, sum the quantized
    * longs, divide into means, retain empty cells, repeat). The
    * quantizer seeds from the lowest-k sample
    * ([[sampleQuantizerDf]]'s cut, inlined so the corpus is counted
    * once); iteration i's stats frame is materialized once and serves
    * both as output rows and as the update input. State per
    * iteration: k·dim stat rows and k centroids — executor-resident,
    * corpus size nowhere past the assignment. */
  def lloydTrainStats(embeddings: DataFrame, targetCellSize: Int,
                      iters: Int, chunkSize: Int = 4096,
                      scaleBits: Int = 20): DataFrame =
      Checkpoints.scoped { scope =>
    require(iters >= 1, "iters must be >= 1")
    require(targetCellSize >= 1, "targetCellSize must be positive")
    val scale = (1L << scaleBits).toDouble
    val base = scope.cache(nonZeroBase(embeddings).select("vec_id", "v"))
    val n = base.count()
    val k = math.max(1L, math.ceil(n.toDouble / targetCellSize).toLong)
    var cents = base.orderBy("vec_id").limit(k.toInt)
      .select(col("vec_id").cast("long").as("cid"),
        transform(col("v"), x => x.cast("double")).as("v"))
    var out: Option[DataFrame] = None
    var prevCents: Option[DataFrame] = None
    for (it <- 1 to iters) {
      // stats are pinned too: the output union and the next
      // iteration's update both read them, and pinning keeps every
      // iteration's plan constant-size (see refineCentroidsDf).
      // The stats pins are the query scope's — the returned frame
      // reads them lazily. The cents pins are the operator scope's,
      // each superseded one freed as soon as its successor
      // materializes.
      val stats = Checkpoints.pin(
        lloydCellStatsBase(base, cents, chunkSize, Some(k), scaleBits))
      val tagged = stats.withColumn("iter", lit(it))
      out = Some(out.map(_.unionByName(tagged)).getOrElse(tagged))
      if (it < iters) {
        val next = scope.pin(lloydUpdate(cents, stats, scale))
        prevCents.foreach(scope.release)
        prevCents = Some(next)
        cents = next
      }
    }
    out.get.select(col("iter").cast("int").as("iter"), col("cell"),
        col("pos"), col("n_members"), col("s_fp"))
      .orderBy("iter", "cell", "pos")
  }

  /** [[refineCentroidsDf]] with a FIXED-POINT stop: iterate until the
    * per-(cell, pos) integer statistics repeat exactly — assignments
    * stabilized, so every further sweep is a no-op — or maxIters.
    * The check is an exact anti-join on the bounded (k·dim)-row stats
    * frames, which integer accumulation makes meaningful in the first
    * place (float means would never repeat bit-for-bit). Returns the
    * refined centroids and the number of assignment sweeps run.
    * Registered queries use the fixed-iteration forms (a static CTE
    * chain needs a static depth); the converged form is the training
    * entry point and is spec-pinned. */
  def refineCentroidsConverged(embeddings: DataFrame,
                               centroidsDf: DataFrame, maxIters: Int,
                               chunkSize: Int = 4096,
                               kEstimate: Option[Long] = None,
                               scaleBits: Int = 20): (DataFrame, Int) =
      Checkpoints.scoped { scope =>
    require(maxIters >= 1, "maxIters must be >= 1")
    val scale = (1L << scaleBits).toDouble
    val base = scope.cache(nonZeroBase(embeddings).select("vec_id", "v"))
    // every pin this loop takes is released before return, on BOTH
    // exits (converged and maxIters), except the RETURNED cents: the
    // stats frames are the scope's, and each superseded cents pin is
    // released once its successor materializes (IvfLloydSpec pins the
    // ledger: getPersistentRDDs grows by at most one entry).
    var prevStats: Option[DataFrame] = None
    var cents = centroidsDf.select(col("cid"),
      transform(col("v"), x => x.cast("double")).as("v"))
    var prevCents: Option[DataFrame] = None
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val stats = scope.pin(
        lloydCellStatsBase(base, cents, chunkSize, kEstimate,
          scaleBits))
      converged = prevStats.exists { ps =>
        // exact frame equality: same row count and no row of one
        // absent from the other (rows are unique on (cell, pos))
        ps.count() == stats.count() &&
          ps.join(stats, Seq("cell", "pos", "n_members", "s_fp"),
            "left_anti").isEmpty
      }
      it += 1
      if (!converged) {
        val next = Checkpoints.pin(lloydUpdate(cents, stats, scale))
        prevCents.foreach(Checkpoints.release)
        prevCents = Some(next)
        cents = next
        prevStats.foreach(scope.release)
        prevStats = Some(stats)
      }
    }
    (cents, it)
  }

  /** [[nearDupPairs]] with the quantizer supplied as a DataFrame and
    * assignment via [[assignViaJoin]] — identical pair semantics, no
    * driver-side centroid state. */
  def nearDupPairsViaJoin(embeddings: DataFrame, minSim: Double,
                          centroidsDf: DataFrame, nProbe: Int = 2,
                          chunkSize: Int = 4096,
                          kEstimate: Option[Long] = None): DataFrame =
      Checkpoints.scoped { scope =>
    val base = scope.cache(nonZeroBase(embeddings))
    val assigned = assignViaJoin(base.select("vec_id", "v"), centroidsDf,
      nProbe, chunkSize, kEstimate)
    pairsFromAssignments(base, assigned, minSim)
  }

  /** The derived flat-IVF cell-size law — the [[graft.ops.Similarity]]
    * `lshBandConfig` discipline applied to the clustering knob: derive
    * the dial from n, price the trade in code, never leave it to
    * folklore. Total pair-detection work at corpus size n with cell
    * target c and probe width p:
    *
    *   assignment  n·k      = n²/c          (every vector scores every
    *                                         centroid, k = n/c)
    *   rerank      Σ n_cell² ≈ n·c·p²       (each vector lands in p
    *                                         cells of expected size c)
    *
    * d/dc (n²/c + n·c·p²) = 0  →  c* = √n / p — both terms then grow
    * as n^1.5·p, the standard flat-quantizer law. A FIXED c (the
    * bench's old 64) makes assignment n²/64: fine at 1e6 vectors,
    * hostile at 1e9 (1.6e16 → with c*=√n/2 ≈ 15800, assignment drops
    * ~250× to 6.3e13 while rerank stays equal by construction).
    * Clamped to ≥1; at tiny n the clamp dominates and every cell is a
    * singleton, which only costs recall, never correctness (rerank is
    * exact). IvfCellConfigSpec pins monotonicity and the balance
    * property. */
  def ivfCellConfig(n: Long, nProbe: Int = 2): Int = {
    require(n >= 0, "n must be non-negative")
    require(nProbe >= 1, "nProbe must be positive")
    math.max(1L, math.round(math.sqrt(n.toDouble) / nProbe)).toInt
  }

  /** The production entry point for clustered near-dup detection:
    * size the sample quantizer from the data and dispatch on k — the
    * literal-kernel path while the quantizer is comfortably
    * driver-collectable (faster: no broadcast exchange, no merge
    * groupBy), the broadcast-join path beyond it. `kDriverMax`'s
    * default (65536) is far below the ~1e6 hard ceiling on plan-embedded
    * centroids — the join path's modest overhead is cheaper than
    * flirting with task-binary bloat. With no explicit `targetCellSize`
    * the cell target derives from the corpus via [[ivfCellConfig]]
    * (c* = √n/nProbe — the balanced n^1.5 regime); an explicit size is
    * for pinned-oracle replay and experiments. The join branch reuses
    * the already-counted n as its k estimate, so the quantizer scan
    * happens exactly once, inside the broadcast build
    * ([[assignViaJoin]]'s kEstimate). */
  def nearDupPairsClustered(embeddings: DataFrame, minSim: Double,
                            targetCellSize: Option[Int] = None,
                            nProbe: Int = 2,
                            kDriverMax: Int = 1 << 16): DataFrame = {
    val n = nonZeroBase(embeddings).count()
    val cell = targetCellSize.getOrElse(ivfCellConfig(n, nProbe))
    val k = math.max(1L, math.ceil(n.toDouble / cell).toLong)
    if (k <= kDriverMax)
      nearDupPairs(embeddings, minSim,
        collectLowestK(nonZeroBase(embeddings), k.toInt), nProbe)
    else
      nearDupPairsViaJoin(embeddings, minSim,
        sampleCentroidsDf(embeddings, cell), nProbe,
        kEstimate = Some(k))
  }

  def nearDupPairs(embeddings: DataFrame, minSim: Double,
                   centroids: Array[(Int, Seq[Double])],
                   nProbe: Int = 2): DataFrame =
      Checkpoints.scoped { scope =>
    require(nProbe >= 1 && nProbe <= centroids.length,
      "nProbe must be in [1, nCells]")
    // one small cached row per vector — the assignment (both join
    // sides) and the rerank payload all re-derive from it
    val base = scope.cache(nonZeroBase(embeddings))
    // fused assignment kernel: composing k per-centroid DotProducts +
    // an array_sort over k structs collapses codegen once k reaches
    // the sizes the sample quantizer produces (see NearestCellsExpr)
    val assigned = base
      .withColumn("cell", explode(
        graft.functions.VectorFunctions.nearestCells(
          col("v"), centroids, nProbe)))
      .select(col("vec_id"), col("cell"))
    pairsFromAssignments(base, assigned, minSim)
  }

  private def nonZeroBase(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
      .filter(col("nrm") > 0d)

  /** The shared pair tail: cell co-residence candidates + exact cosine
    * rerank. `base` must be the cached nonZeroBase projection;
    * `assigned` is (vec_id, cell) with up to nProbe rows per vector. */
  private def pairsFromAssignments(base: DataFrame, assigned: DataFrame,
                                   minSim: Double): DataFrame = {
    // fresh-name re-projection, not a two-alias self-join: aliased
    // self-join predicates can resolve both sides to one attribute
    // (see the tautology lesson on Dedup's pair joins)
    val aSide = assigned.select(col("vec_id").as("vec_a"), col("cell"))
    val bSide = assigned.select(col("vec_id").as("vec_b"), col("cell"))
    val cand = aSide.join(bSide, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    rerankPairs(base.select(col("vec_id"), col("v"), col("nrm")), cand, minSim)
  }

  /** The exact-cosine rerank shared by the batch and incremental pair
    * paths: `payload` is (vec_id, v, nrm) covering every id in `cand`;
    * `cand` is the distinct (vec_a < vec_b) candidate set. */
  private def rerankPairs(payload: DataFrame, cand: DataFrame,
                          minSim: Double): DataFrame =
    cand
      .join(payload.as("x"), col("vec_a") === col("x.vec_id"))
      .join(payload.as("y"), col("vec_b") === col("y.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        (dotProduct(col("x.v"), col("y.v")) /
          (col("x.nrm") * col("y.nrm"))).as("sim"))
      .filter(col("sim") >= minSim)
      .select(col("vec_a"), col("vec_b"),
        floor(col("sim") * 1e6).cast("long").as("sim_x1e6"))
      .transform(Checkpoints.materialize)

  /** Build and PERSIST the cell index for a historical corpus — the
    * storage half of incremental re-dedup, making good on the promise
    * in [[nearDupPairsClustered]]'s scaladoc that the cell id is the
    * natural storage partition: (cell, vec_id, v, nrm) — one row per
    * (vector, probed cell), up to nProbe per vector — written
    * BUCKETED BY cell via [[graft.engine.TableStore.writeBucketed]],
    * so a later delta batch joins the index on cell without
    * shuffling it and reranks only co-located bucket tiles.
    * Assignment is [[assignViaJoin]] against caller-supplied PINNED
    * centroids: the same centroid frame must be presented to every
    * later delta batch, or cells drift and delta-vs-history pairs are
    * silently missed (same contract as faiss's train-once/add-many).
    * Returns the catalog table name to hand to
    * [[incrementalNearDupPairs]]. */
  def buildCellIndex(embeddings: DataFrame, centroidsDf: DataFrame,
                     warehouse: String, table: String, nBuckets: Int,
                     nProbe: Int = 2, chunkSize: Int = 4096,
                     kEstimate: Option[Long] = None): String =
      Checkpoints.scoped { scope =>
    val base = scope.cache(nonZeroBase(embeddings))
    val assigned = assignViaJoin(base.select("vec_id", "v"), centroidsDf,
      nProbe, chunkSize, kEstimate)
    val indexed = assigned
      .join(base.select("vec_id", "v", "nrm"), Seq("vec_id"))
      .select("cell", "vec_id", "v", "nrm")
    graft.engine.TableStore.writeBucketed(
      indexed, warehouse, table, nBuckets, Seq("cell"))
  }

  /** Absorb a just-paired delta batch INTO the persisted cell index —
    * the add-half of the train-once/add-many lifecycle: the next
    * batch must see this one as history, or cross-batch duplicates
    * arriving one batch apart are never compared. Assigns the delta
    * with the SAME pinned centroids (the index's standing contract)
    * and APPENDS its (cell, vec_id, v, nrm) rows to the bucketed
    * table: an insert into a datasource-bucketed table writes new
    * per-bucket files honoring the catalog's bucket spec, so history
    * is never rewritten — the append cost is |delta| rows regardless
    * of index size, which is what makes per-batch absorption viable
    * at 100 TB (a rebuild would re-shuffle the corpus per batch).
    * NOT atomic like [[graft.engine.TableStore.writeBucketed]]'s
    * staged swap: a crash mid-append can leave a partial batch —
    * re-run the batch idempotently by vec_id range, or use a
    * transactional table format (Delta/Iceberg) in production, where
    * this append maps to a single commit. Caller contract: delta ids
    * disjoint from everything already in the index. */
  def absorbIntoCellIndex(indexName: String, delta: DataFrame,
                          centroidsDf: DataFrame, nProbe: Int = 2,
                          chunkSize: Int = 4096,
                          kEstimate: Option[Long] = None): Unit =
      Checkpoints.scoped { scope =>
    val dBase = scope.cache(nonZeroBase(delta))
    val rows = assignViaJoin(dBase.select("vec_id", "v"), centroidsDf,
        nProbe, chunkSize, kEstimate)
      .join(dBase.select("vec_id", "v", "nrm"), Seq("vec_id"))
      .select("cell", "vec_id", "v", "nrm")
    graft.engine.TableStore.toBucketLayout(delta.sparkSession, indexName,
      rows).write.mode("append").insertInto(indexName)
  }

  /** Incremental re-dedup of a delta batch against a persisted cell
    * index — the IVF analogue of [[IncrementalDedup.newDocsExact]]:
    * instead of re-pairing the full corpus, the delta is assigned via
    * [[assignViaJoin]] against the SAME pinned centroids the index was
    * built with, the index is pruned to the cells the delta actually
    * touches (a broadcast semi-join — the touched-cell list is bounded
    * by |delta|·nProbe, small by the definition of a delta), and
    * candidate pairs are co-residents with AT LEAST ONE delta side —
    * history-vs-history pairs were already found when the index was
    * built and are never recomputed. Output contract matches
    * [[nearDupPairs]] (vec_a < vec_b, sim_x1e6), restricted to
    * delta-involving pairs; on the same centroids it equals the full
    * re-dedup's output filtered to delta-involving pairs, exactly
    * (IvfIncrementalSpec).
    *
    * Scale: work is |delta|·k assignment (inside the broadcast-chunk
    * kernel) + rerank over touched cells only — Σ_touched n_c·δ_c
    * instead of the full Σ n_c² — and the bucketed-by-cell layout
    * means the co-residence join reads the index's touched buckets
    * co-located, never shuffling history. Delta and history ids must
    * be disjoint (caller contract, same as [[IncrementalDedup]]). */
  def incrementalNearDupPairs(index: DataFrame, delta: DataFrame,
                              minSim: Double, centroidsDf: DataFrame,
                              nProbe: Int = 2, chunkSize: Int = 4096,
                              kEstimate: Option[Long] = None): DataFrame =
      Checkpoints.scoped { scope =>
    val dBase = scope.cache(nonZeroBase(delta))
    // read twice (touched cells + the candidate union) — materialized
    // so the chunk-kernel assignment runs once
    val dAssigned = assignViaJoin(dBase.select("vec_id", "v"), centroidsDf,
        nProbe, chunkSize, kEstimate)
      .transform(scope.materialize)
    val touched = dAssigned.select("cell").distinct()
    val hot = index.join(broadcast(touched), Seq("cell"), "left_semi")
    val u = dAssigned
      .select(col("vec_id"), col("cell"), lit(true).as("is_delta"))
      .unionByName(hot
        .select(col("vec_id"), col("cell"), lit(false).as("is_delta")))
    val aSide = u.select(col("vec_id").as("vec_a"), col("cell"),
      col("is_delta").as("a_delta"))
    val bSide = u.select(col("vec_id").as("vec_b"), col("cell"),
      col("is_delta").as("b_delta"))
    val cand = aSide.join(bSide, Seq("cell"))
      .filter(col("vec_a") < col("vec_b") &&
        (col("a_delta") || col("b_delta")))
      .select("vec_a", "vec_b").distinct()
    // index rows repeat per probed cell — one payload row per id
    val payload = dBase.select(col("vec_id"), col("v"), col("nrm"))
      .unionByName(hot.select(col("vec_id"), col("v"), col("nrm"))
        .dropDuplicates("vec_id"))
    // materialized by rerankPairs, so the scope can release the
    // operator-internal caches
    rerankPairs(payload, cand, minSim)
  }

  /** Approximate top-k: probe the nProbe nearest cells per query, exact
    * cosine rerank within them. Output shape matches
    * [[Similarity.bruteForceTopK]]. Trains via [[trainOnSample]]. */
  def annTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nCells: Int = 16, nProbe: Int = 4, iters: Int = 3,
              dim: Int = 64): DataFrame =
    annTopKWithCentroids(embeddings, nQueries, k,
      trainOnSample(embeddings, nCells, iters, dim = dim), nProbe)

  /** [[annTopK]] with the coarse quantizer supplied by the caller — the
    * index-build/index-use split a production pipeline has anyway (train
    * once, assign many), and the hook that lets q58 pin centroids to
    * data-independent literals so the whole IVF path (assignment, cell
    * probing, exact rerank) replays in the DuckDB oracle. Cell QUALITY
    * depends on the centroids; cell SEMANTICS (argmin assignment with
    * low-id tie-break, nProbe nearest cells, floor-scaled rerank) do
    * not, so any fixed centroid set exercises the full operator. */
  def annTopKWithCentroids(embeddings: DataFrame, nQueries: Int, k: Int,
                           centroids: Array[(Int, Seq[Double])],
                           nProbe: Int = 4): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"), col("label"))
    val indexed = assign(e, centroids)

    // per-query cell shortlist (nProbe nearest centroids)
    val queries = indexed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = centroids.map { case (cid, c) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dotProduct(col("qv"), typedlit(c))).as("d"),
        lit(cid).as("cid"))
    }
    val queryCells = queries
      .withColumn("probe", explode(slice(
        array_sort(array(probes.toIndexedSeq: _*)), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("probe.cid").as("cell"))

    val withNorm = indexed.withColumn("nrm",
      sqrt(dotProduct(col("v"), col("v"))))
    val queryCellsN = queryCells.withColumn("qn",
      sqrt(dotProduct(col("qv"), col("qv"))))
    val cand = withNorm.join(broadcast(queryCellsN), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    val scored = cand.select(col("query_id"), col("vec_id"), col("label"),
      floor(dotProduct(col("qv"), col("v")) / (col("qn") * col("nrm")) * 1e6)
        .cast("long").as("sim_x1e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim_x1e6").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "label", "sim_x1e6")
  }

  /** Metadata-FILTERED approximate top-k — the "filtered vector
    * search" problem every serving stack hits (Milvus/pgvector/faiss
    * `IDSelector`): top-k nearest neighbors among only the corpus
    * vectors satisfying `pred` (a predicate over `vec_id`/`label`;
    * query vectors are the first `nQueries` ids, unrestricted).
    *
    * The interesting part is the DISPATCH, and it is part of the
    * operator's contract (the branch condition replays in the q137
    * oracle as SQL over the same counts):
    *
    *   - **pre-filter** (selectivity ≤ `preFilterMaxPermille`‰): scan
    *     the matching vectors EXACTLY — when the filter keeps a sliver
    *     of the corpus, probing IVF cells is strictly worse (most
    *     probed candidates fail the predicate, recall degrades for no
    *     savings) while the exact scan is |match|·nQueries work and
    *     gives perfect recall. This is what production engines do
    *     below a selectivity knee.
    *   - **post-filter** (broad predicates): normal IVF serve — one
    *     corpus assignment against the broadcast sample quantizer
    *     ([[assignViaJoin]], the 100-TB form), candidates from the
    *     query's nProbe probed cells with the predicate applied
    *     INSIDE the probe (before any vector payload moves), exact
    *     cosine rerank of survivors only.
    *
    * One counted aggregation picks the branch (the
    * [[Similarity.lshBandConfig]] / [[VocabJoin.plan]] one-count
    * pattern); the returned frame carries the taken branch as a
    * `mode` column so the decision itself sits under the hash gate.
    *
    * Scale shape: the dispatch count and the pre-filter scan are one
    * corpus pass each; the post-filter branch moves (vec_id, cell,
    * label) rows through the chunked-broadcast assignment once, and
    * every later join keys on BOUNDED frames (nQueries·nProbe query
    * cells, ≤ nProbe·cellSize·nQueries candidate ids) broadcast
    * against one streaming corpus probe — no corpus shuffle in either
    * branch. Zero-norm vectors are excluded on both sides (the family
    * convention — cosine is undefined for them).
    *
    * Output: (mode, query_id, rank, vec_id, label, sim_x1e6). */
  def filteredTopK(embeddings: DataFrame, pred: Column, nQueries: Int,
                   k: Int, cellSize: Int, nProbe: Int,
                   preFilterMaxPermille: Int = 50): DataFrame =
      Checkpoints.scoped { scope =>
    require(nQueries >= 1, "nQueries must be positive")
    require(k >= 1, "k must be positive")
    require(cellSize >= 1, "cellSize must be positive")
    require(nProbe >= 1, "nProbe must be positive")
    require(preFilterMaxPermille >= 0 && preFilterMaxPermille <= 1000,
      s"preFilterMaxPermille is a per-mille share, got $preFilterMaxPermille")
    val base = embeddings
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
      .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
      .filter(col("nrm") > 0d)
      .transform(scope.cache)
    // ONE count job decides the branch; n feeds the quantizer cut on
    // the post-filter side so the corpus is never re-counted
    val st = base.agg(count(lit(1)).as("n"),
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as("m")).head()
    val (nAll, m) = (st.getLong(0), st.getLong(1))
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val sim = floor(dotProduct(col("qv"), col("v")) /
      (col("qn") * col("nrm")) * 1e6).cast("long").as("sim_x1e6")
    val scored =
      if (m * 1000L <= preFilterMaxPermille.toLong * nAll) {
        base.filter(pred)
          .join(broadcast(queries), col("vec_id") =!= col("query_id"))
          .select(lit("prefilter").as("mode"), col("query_id"),
            col("vec_id"), col("label"), sim)
      } else {
        val (cents, kc) = lowestKCut(base, nAll, cellSize)
        // corpus → home cell (nProbe=1: each vector lives in exactly
        // its nearest cell); label rides as a keepCol so the predicate
        // can run before any 64-float payload moves
        val home = assignViaJoin(base.select("vec_id", "v", "label"),
          cents, nProbe = 1, kEstimate = Some(kc), keepCols = Seq("label"))
        val qCells = assignViaJoin(
          queries.select(col("query_id").as("vec_id"), col("qv").as("v")),
          cents, nProbe = nProbe, kEstimate = Some(kc))
          .select(col("vec_id").as("query_id"), col("cell"))
        val candIds = home.join(broadcast(qCells), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id"))
          .filter(pred)
          .select("query_id", "vec_id")
        // rerank only survivors: the bounded (candidate × query-vector)
        // frame broadcasts and the corpus streams through it once
        val candQ = candIds.join(broadcast(queries), Seq("query_id"))
        base.select(col("vec_id"), col("v"), col("label"), col("nrm"))
          .join(broadcast(candQ), Seq("vec_id"))
          .select(lit("postfilter").as("mode"), col("query_id"),
            col("vec_id"), col("label"), sim)
      }
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim_x1e6").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("mode", "query_id", "rank", "vec_id", "label", "sim_x1e6")
      .transform(Checkpoints.materialize)
  }
}
