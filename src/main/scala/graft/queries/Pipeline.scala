package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.{Checkpoints, Tables, TableStore}
import graft.streaming.{StatefulSessionize, StreamingBuilders, StreamingDedup, StreamingJoin, StreamingSentenceDedup, StreamingVectorIngest, WaveHarness}
import graft.ops.{Bpe, Covariance, Dedup, Hashing, IncrementalDedup, IvfIndex, Multimodal, Packing, Pq, Retrieval, Sampling, Sharding, Similarity, Sketches, TextAnalysis}
import Hashing.{h60Sql, h60bSql, h31Sql, shingles3Sql}

/** Beyond-parity operators for large-scale training-data pipelines
  * (BASELINE.json north star): dedup (exact / n-gram Jaccard /
  * MinHash-LSH / SimHash / embedding cosine), similarity search,
  * text analysis, multimodal column plumbing.
  *
  * Oracle-parity conventions: every checked double is a floor-scaled
  * integer of an IEEE-deterministic expression (sequential folds, no
  * re-association), and every cross-engine hash is the md5-derived h60
  * (see [[graft.ops.Hashing]]).
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  // Parallelism-floored corpus reads ([[Tables.floored]] — a no-op on
  // any scan that already plans >= cores splits, i.e. on every
  // realistically-sized cluster input). Applied ONLY where the floor
  // measurably pays at sf0.1: queries whose narrow per-row stages
  // (shingle explosion, signature aggregation, regex scrub) dominate
  // wall time — q24 2.30→0.69 s, q47 3.00→1.20 s, q64 3.20→1.45 s.
  // Cheap projections/filters and operators that manage their own
  // partitioning (blocked exact kernels, broadcast top-k, bucketed
  // joins) read raw via `t`: for them the floor's extra stage costs
  // +0.1–0.5 s and buys nothing (measured across the full registry,
  // round 9).
  private def docsF(s: SparkSession, dir: String): DataFrame =
    Tables.floored(s, dir, "documents", "doc_id")
  private def embF(s: SparkSession, dir: String): DataFrame =
    Tables.floored(s, dir, "embeddings", "vec_id")

  /** The per-sf scratch warehouse under the build dir (testdata is
    * read-only): `target/graft-wh/<sf dir name>`. */
  private def scratchWh(dir: String): String =
    s"target/graft-wh/${new java.io.File(dir).getName}"

  /** A streaming harness's own root, `scratchWh(dir)/<tag>`, wiped
    * first: reruns must be deterministic, so source, checkpoint and
    * sink start empty (the bench reprobes queries). */
  private def freshRoot(dir: String, tag: String): String = {
    val root = s"${scratchWh(dir)}/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  /** The ANN top-k family's all-nonzero-norms corpus precondition as
    * a 1-row GATED frame (round 16): crossJoin(broadcast(...)) onto
    * q26/q33's output, hash-compared against the oracle's pinned
    * literal TRUE (the q34 pattern — the SPARK side computes, the
    * oracle asserts; a both-sides-computed predicate could never
    * diverge). A zero-norm vector's cosine is NaN in Spark and NULL
    * in DuckDB — a divergence the gate could otherwise only see
    * after it struck. One map-side-combined aggregate over the norm
    * column; the served rows' plan is untouched. */
  private def nonzeroNormsOk(e: DataFrame): DataFrame =
    e.agg((min(Similarity.l2norm(
        Similarity.asDouble(col("embedding")))) > 0.0)
      .as("nonzero_norms_ok"))

  /** Exact word-3-gram Jaccard pairs >= 0.8 — shared oracle for the
    * exact inverted-index query AND the MinHash-LSH query (LSH candidates
    * are exactly verified, so both must produce identical results). */
  private val jaccardOracle: String =
    s"""WITH sh AS (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, common,
      |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
      |  CAST(floor(CAST(common AS DOUBLE) / (x.n + y.n - common) * 1000) AS BIGINT) AS jacc_x1000
      |FROM pairs JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB SQL mirroring [[Dedup.simhash]]: one bit-sum expression per
    * signature bit over shingle h60 hashes, reassembled into the
    * signature — parameterized by [[Dedup.SimhashBits]] so widening the
    * Spark side regenerates the oracle in lockstep. */
  private val simhashOracle: String = {
    val bits = Dedup.SimhashBits
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS bs_$i").mkString(", ")
    val reassemble = (0 until bits).map(i =>
      s"(CASE WHEN bs_$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH w AS (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS w FROM documents),
      |h AS (SELECT doc_id, ${h60Sql("w")} AS h FROM w),
      |s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
      |sig AS (SELECT doc_id, $reassemble AS simhash FROM s)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB fragment: sequential-fold dot product of 64-dim DOUBLE[]
    * columns — bit-identical to [[Similarity.dot]] (0.0-init left
    * fold; SQL `+` is left-associative, so flat `a1 + a2 + …` adds in
    * exactly the fold's order, and each product is the same single
    * IEEE rounding). Flat arithmetic rather than
    * list_reduce/list_transform because DuckDB evaluates lambdas
    * interpretively (~0.1 ms per list) while flat expressions
    * vectorize — the round-13 driver gate timed out on ~14 min of
    * replay, most of it lambda dots in row-count × plane-count
    * positions. Fixed 64 (the embeddings dimension): a shorter list
    * would yield NULL (loud hash mismatch), never a wrong value. */
  private def dotSql(a: String, b: String): String =
    (1 to 64).map(i => s"$a[$i] * $b[$i]").mkString("(", " + ", ")")

  /** Flat sequential sum of squares of a 64-dim DOUBLE[] column —
    * same fold order as the list_reduce(x*x) form it replaces. */
  private def sqSumSql(v: String): String =
    (1 to 64).map(i => s"$v[$i] * $v[$i]").mkString("(", " + ", ")")

  private def normSql(v: String): String = s"sqrt(${sqSumSql(v)})"

  /** Flat sequential-fold dot of 64-dim list column `v` against a
    * literal coefficient vector (hyperplanes, pinned centroids,
    * rotation rows — shortest-decimal reprs round-trip to identical
    * doubles on both engines). */
  private def dotLitSql(v: String, p: Seq[Double]): String =
    p.zipWithIndex.map { case (c, i) => s"$v[${i + 1}] * $c" }
      .mkString("(", " + ", ")")

  /** occurrences of a literal needle via the replace-length trick. */
  private def occSql(expr: String, needle: String): String =
    s"CAST((length($expr) - length(replace($expr, '$needle', ''))) / ${needle.length} AS BIGINT)"

  /** q45: oracle-checked ANN recall. The LSH ANN path is deterministic
    * (seed-fixed hyperplanes, floor-scaled sims, id tie-breaks), so the
    * oracle recomputes the FULL ANN result in SQL — hyperplane dots with
    * the plane constants embedded as literals (shortest-decimal repr
    * round-trips to the identical double), signature/band assembly,
    * band-bucket candidate join, exact rerank — and joins it against the
    * exact top-k, pulling the recall claim under the hash-check regime
    * (since round 15 q26 is ALSO row-gated via annTopKOracle; this
    * recall aggregate remains the distinct vs-exact claim). */
  private val annRecallOracle: String = {
    val planes = Similarity.hyperplanes(32, 64)
    def dotLit(p: Array[Double]): String = dotLitSql("v", p.toSeq)
    val sig = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotLit(p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, v, ${normSql("v")} AS nrm, $sig AS sig FROM e),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
      |ex_scored AS (
      |  SELECT query_id, vec_id,
      |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT) AS sim
      |  FROM n, q WHERE vec_id <> query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM ex_scored) WHERE rank <= 5),
      |bands AS (
      |  SELECT vec_id, t.j AS band_idx, (sig >> (4 * t.j)) & 15 AS band_val
      |  FROM n, range(0, 8) t(j)),
      |qb AS (SELECT vec_id AS query_id, band_idx, band_val
      |       FROM bands WHERE vec_id < 20),
      |cand AS (
      |  SELECT DISTINCT qb.query_id, b.vec_id
      |  FROM bands b JOIN qb ON b.band_idx = qb.band_idx
      |    AND b.band_val = qb.band_val
      |  WHERE b.vec_id <> qb.query_id),
      |ann_scored AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT) AS sim
      |  FROM cand
      |  JOIN n ON n.vec_id = cand.vec_id
      |  JOIN q ON q.query_id = cand.query_id),
      |ann AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM ann_scored) WHERE rank <= 5)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(ann.vec_id) AS BIGINT) AS ann_hits
      |FROM ex LEFT JOIN ann ON ann.query_id = ex.query_id
      |  AND ann.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** q26: the LSH ANN top-k ROWS under the hash gate. Round 15 — q26
    * was rows-only since round 3 with its semantics gated indirectly
    * through q45's recall twin; the driver artifact carried a
    * permanent `err: no_oracle` row for it. But the path q45 proved
    * deterministic (seed-fixed hyperplanes as shortest-decimal
    * literals, signature/band assembly, band-bucket candidate join,
    * floor-scaled rerank, id tie-breaks) replays the SERVED rows just
    * as well as the recall aggregate: this is q45's `ann` CTE chain
    * carried through to (query_id, rank, vec_id, label, sim_x1e6) —
    * q25's output shape. q45 stays registered: recall-vs-exact is a
    * different claim than row-identity. Corpus precondition shared
    * with the whole top-k family (q25/q45/q58): all-nonzero norms —
    * a zero-norm vector's cosine is NaN in Spark (cast-to-long 0)
    * and NULL in DuckDB (sorts last), so neither side filters and
    * the gate relies on the data property. Since round 16 the
    * property is GATED, not merely validated: q26/q33 carry a
    * `nonzero_norms_ok` column — Spark COMPUTES min corpus norm > 0,
    * the oracle pins the literal TRUE, exactly the q34
    * `approx_within_3rsd` pattern. The asymmetry is the point: a
    * both-sides-computed predicate can never diverge (the round-16
    * self-review caught the first cut doing exactly that); against
    * the pinned literal, a testdata regeneration with a zero-norm
    * vector fails the hash loudly instead of silently diverging on
    * NULL-vs-NaN cosine. (The PAIR operators keep the convention
    * explicit via nonZeroBase.) */
  private val annTopKOracle: String = {
    val planes = Similarity.hyperplanes(32, 64)
    def dotLit(p: Array[Double]): String = dotLitSql("v", p.toSeq)
    val sig = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotLit(p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, label, v, ${normSql("v")} AS nrm, $sig AS sig FROM e),
      |bands AS (
      |  SELECT vec_id, t.j AS band_idx, (sig >> (4 * t.j)) & 15 AS band_val
      |  FROM n, range(0, 8) t(j)),
      |qb AS (SELECT vec_id AS query_id, band_idx, band_val
      |       FROM bands WHERE vec_id < 20),
      |cand AS (
      |  SELECT DISTINCT qb.query_id, b.vec_id
      |  FROM bands b JOIN qb ON b.band_idx = qb.band_idx
      |    AND b.band_val = qb.band_val
      |  WHERE b.vec_id <> qb.query_id),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
      |      WHERE vec_id < 20),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id, n.label,
      |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT)
      |      AS sim_x1e6
      |  FROM cand
      |  JOIN n ON n.vec_id = cand.vec_id
      |  JOIN q ON q.query_id = cand.query_id),
      |r AS (SELECT query_id, vec_id, label, sim_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim_x1e6 DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, label, sim_x1e6,
      |  TRUE AS nonzero_norms_ok
      |FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q33: the IVF ANN top-k ROWS under the hash gate — the q26 move
    * applied to the IVF path (round 15; rows-only + `err: no_oracle`
    * since round 3). The serve semantics (argmin assignment with
    * low-cid tie-break, nProbe nearest cells, floor-scaled rerank)
    * were proven SQL-replayable by q58's pinned-literal recall twin;
    * what kept q33 itself ungateable was its TRAINED quantizer
    * (driver-side double sums in sample order — not replayable by an
    * unordered SQL aggregate). The registered query now serves
    * through [[IvfIndex.sampleCentroidsK]] — the k lowest-vec_id
    * nonzero-norm vectors, the bounded faiss-style training cut that
    * rederives in SQL as a LIMIT subquery (the q74/q78/q81 join-based
    * assignment replay, no pinned literals, survives testdata
    * regeneration). Lloyd TRAINING stays gated by q82/q102 (integer
    * sufficient statistics) and the trained serve path stays
    * spec-asserted in QueriesSpec's recall floor. Scoring inherits
    * the top-k family's all-nonzero-norm corpus precondition (see
    * annTopKOracle); the CENTROID cut alone filters nrm > 0, exactly
    * mirroring sampleCentroidsK's nonZeroBase. */
  private def ivfTopKOracle(nCells: Int, nProbe: Int, nQ: Int,
                            k: Int): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM e),
      |cents AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv,
      |    ${sqSumSql("v")} AS c2
      |  FROM (SELECT vec_id, v FROM n WHERE nrm > 0
      |        ORDER BY vec_id LIMIT $nCells)),
      |dist AS (
      |  SELECT z.vec_id, c.cid,
      |    c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
      |  FROM n z CROSS JOIN cents c),
      |rk AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      |  FROM dist),
      |av AS MATERIALIZED (SELECT vec_id, cid AS cell FROM rk WHERE r = 1),
      |qc AS (SELECT vec_id AS query_id, cid AS cell FROM rk
      |       WHERE vec_id < $nQ AND r <= $nProbe),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
      |      WHERE vec_id < $nQ),
      |cand AS (
      |  SELECT qc.query_id, a.vec_id
      |  FROM av a JOIN qc ON a.cell = qc.cell
      |  WHERE a.vec_id <> qc.query_id),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id, n.label,
      |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT)
      |      AS sim_x1e6
      |  FROM cand
      |  JOIN n ON n.vec_id = cand.vec_id
      |  JOIN q ON q.query_id = cand.query_id),
      |r AS (SELECT query_id, vec_id, label, sim_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim_x1e6 DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, label, sim_x1e6,
      |  TRUE AS nonzero_norms_ok
      |FROM r
      |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** q58's pinned coarse quantizer: 16 data-INDEPENDENT centroids from
    * the seeded uniform generator (seed 7, not the LSH seed 42 — the
    * two fixtures must not alias). Cell quality is irrelevant to the
    * check — cell SEMANTICS (argmin assignment, low-id tie-break,
    * nProbe nearest cells, floor-scaled rerank) are what q58 pins, and
    * those are centroid-agnostic (see
    * [[IvfIndex.annTopKWithCentroids]]). Being data-independent, the
    * fixture survives a testdata regeneration, unlike literals lifted
    * from a trained run. */
  private val ivfPinnedCentroids: Array[(Int, Seq[Double])] =
    Similarity.hyperplanes(16, 64, seed = 7L).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }


  /** q58: oracle-checked IVF ANN recall — the q45 pattern applied to
    * the IVF path. With centroids pinned as literals the whole path is
    * deterministic SQL: per-vector distance list against the 16
    * centroid literals, argmin cell (list_position finds the FIRST
    * minimum = Spark's array_min struct tie-break on lower cid),
    * per-query 4-nearest-cell probe list, exact floor-scaled rerank
    * within probed cells, then the recall join against the exact
    * top-k. Since round 15 q33 is also row-gated (ivfTopKOracle, the
    * data-derived bounded quantizer); this pinned-literal recall twin
    * remains the distinct vs-exact claim. */
  private val ivfRecallOracle: String = {
    def dotLit(c: Seq[Double]): String = dotLitSql("v", c)
    // same double arithmetic as IvfIndex.assign: c2 - 2.0 * <v, c>,
    // c2 pre-summed in Scala and embedded (both engines parse the
    // shortest-decimal repr back to the identical double)
    val dists = ivfPinnedCentroids.map { case (_, c) =>
      val c2 = c.map(x => x * x).sum
      s"($c2 - 2.0 * ${dotLit(c)})"
    }.mkString("[", ",\n      ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |d AS (SELECT vec_id, v, nrm, $dists AS dl FROM n),
      |cells AS MATERIALIZED (SELECT vec_id, v, nrm, dl,
      |  list_position(dl, list_min(dl)) - 1 AS cell FROM d),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
      |  list_transform(
      |    list_sort(list_transform(range(1, 17),
      |      j -> struct_pack(d := dl[j], cid := j - 1)))[1:4],
      |    s -> s.cid) AS probes
      |  FROM cells WHERE vec_id < 20),
      |ex_scored AS (
      |  SELECT query_id, vec_id,
      |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT) AS sim
      |  FROM n, q WHERE vec_id <> query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM ex_scored) WHERE rank <= 5),
      |cand AS (
      |  SELECT q.query_id, c.vec_id, q.qv, q.qn, c.v, c.nrm
      |  FROM q JOIN cells c ON list_contains(q.probes, c.cell)
      |  WHERE c.vec_id <> q.query_id),
      |ivf_scored AS (
      |  SELECT query_id, vec_id,
      |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT) AS sim
      |  FROM cand),
      |ivf AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM ivf_scored) WHERE rank <= 5)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(ivf.vec_id) AS BIGINT) AS ivf_hits
      |FROM ex LEFT JOIN ivf ON ivf.query_id = ex.query_id
      |  AND ivf.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** The planted-or-raw embeddings CTE chain ending in
    * `e (vec_id, v)` — shared by every oracle replaying an
    * embedding-pair operator over the (optionally
    * [[Similarity.plantNearDups]]-augmented) corpus. The clone-id
    * offset is max(vec_id)+1 DERIVED from the data, replayed as a
    * scalar subquery — disjoint at any scale; the +0.1 double add and
    * float32 round-trip are exact IEEE ops, so clones replay
    * bit-for-bit. */
  private def plantedEmbCtes(planted: Option[Int]): String = planted match {
    case None =>
      "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    case Some(nP) =>
      s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |ep AS (
      |  SELECT e0.vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
      |    list_transform(range(1, 65),
      |      i -> CASE WHEN i - 1 = e0.vec_id % 64
      |             THEN CAST(CAST(v[i] + 0.1 AS FLOAT) AS DOUBLE)
      |             ELSE v[i] END) AS v
      |  FROM e0 WHERE e0.vec_id < $nP),
      |e AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id, v FROM ep)"""
  }

  /** DuckDB SQL replaying [[IvfIndex.nearDupPairs]] over the
    * [[IvfIndex.sampleCentroids]] quantizer — NO centroid literals:
    * the centroids are rederived from the data (lowest-vec_id
    * nonzero-norm vectors, k = ceil(n/cellSize) via a LIMIT
    * subquery), distances come from a vectors × centroids join with
    * the same `c2 - 2.0 * <v,c>` sequential-fold double arithmetic as
    * the Spark side (c2 is the same left fold over the same widened
    * doubles), the nProbe-nearest cells are a row_number over
    * (d, cid) — identical tie-break to Spark's array_sort struct
    * ordering — then co-residence candidates and the fold rerank.
    * Zero-norm vectors are filtered before assignment (the shared
    * no-pair convention). Data-adaptive k is what makes the
    * registered query scale-honest: a pinned-literal quantizer
    * saturates quadratically once cells outgrow the target size. */
  private def ivfPairsOracle(minSim: Double, nProbe: Int, cellSize: Int,
                             planted: Option[Int] = None): String =
    ivfPairsOracleWithCell(minSim, nProbe, s"$cellSize.0", planted)

  /** [[ivfPairsOracle]] with the cell size as a SQL expression
    * evaluated over nz's aggregate scope — the hook that lets q81 put
    * [[graft.ops.IvfIndex.ivfCellConfig]]'s √n/nProbe derivation
    * ITSELF under the hash check (the q76 precedent, applied to the
    * IVF law): `count(*)` inside the expression is the same n the
    * Scala side counts, `floor(x + 0.5)` is exactly Scala's
    * math.round for the non-negative x here, and sqrt / divide are
    * correctly-rounded IEEE ops in both engines. */
  private def ivfPairsOracleWithCell(minSim: Double, nProbe: Int,
                                     cellSql: String,
                                     planted: Option[Int] = None): String =
    s"""WITH ${plantedEmbCtes(planted)},
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |nz AS MATERIALIZED (SELECT * FROM n WHERE nrm > 0),
      |cents AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv,
      |    ${sqSumSql("v")} AS c2
      |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id
      |        LIMIT (SELECT CAST(ceil(count(*) / ($cellSql)) AS BIGINT)
      |               FROM nz))),
      |dist AS (
      |  SELECT z.vec_id, c.cid,
      |    c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
      |  FROM nz z CROSS JOIN cents c),
      |rk AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      |  FROM dist),
      |av AS MATERIALIZED (SELECT vec_id, cid AS cell FROM rk WHERE r <= $nProbe),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM av a JOIN av b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |sims AS (
      |  SELECT c.vec_a, c.vec_b,
      |    ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS sim
      |  FROM cand c
      |  JOIN nz x ON x.vec_id = c.vec_a
      |  JOIN nz y ON y.vec_id = c.vec_b)
      |SELECT vec_a, vec_b, CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1e6
      |FROM sims WHERE sim >= $minSim
      |ORDER BY vec_a, vec_b""".stripMargin

  /** [[ivfPairsOracle]] with the q44 incremental split grafted on:
    * history = vec_id % 3 <> 2, delta = the rest; centroids derive
    * from HISTORY only (the pinned train-once quantizer), every
    * vector is assigned with the same distance/tie rules, and the
    * final pair set keeps only pairs with >= 1 delta side —
    * history-vs-history pairs are the index build's business, not the
    * delta batch's. The touched-cell pruning the Spark side performs
    * is invisible here BY CONSTRUCTION: a delta-involving candidate
    * is co-resident with its delta member, so its cell is touched —
    * pruning removes only history-history work, never results.
    * `histPred` picks which rows the QUANTIZER derives from: q79
    * trains on everything-but-the-delta; q80 trains on the ORIGINAL
    * history only (vec_id % 3 = 0), because its middle batch joins
    * the index by ABSORPTION after the centroids were pinned — the
    * oracle needs no absorb notion at all: assignment is per-vector,
    * so the absorbed index's contents equal "assign everything
    * non-delta with the pinned centroids" either way. */
  private def ivfIncrementalOracle(minSim: Double, nProbe: Int,
                                   cellSize: Int,
                                   planted: Option[Int] = None,
                                   histPred: String = "vec_id % 3 <> 2")
    : String =
    s"""WITH ${plantedEmbCtes(planted)},
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |nz AS MATERIALIZED (SELECT * FROM n WHERE nrm > 0),
      |hist AS (SELECT * FROM nz WHERE $histPred),
      |cents AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv,
      |    ${sqSumSql("v")} AS c2
      |  FROM (SELECT vec_id, v FROM hist ORDER BY vec_id
      |        LIMIT (SELECT CAST(ceil(count(*) / $cellSize.0) AS BIGINT)
      |               FROM hist))),
      |dist AS (
      |  SELECT z.vec_id, (z.vec_id % 3 = 2) AS is_delta, c.cid,
      |    c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
      |  FROM nz z CROSS JOIN cents c),
      |rk AS (
      |  SELECT vec_id, is_delta, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      |  FROM dist),
      |av AS (SELECT vec_id, is_delta, cid AS cell FROM rk WHERE r <= $nProbe),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM av a JOIN av b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE a.is_delta OR b.is_delta),
      |sims AS (
      |  SELECT c.vec_a, c.vec_b,
      |    ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS sim
      |  FROM cand c
      |  JOIN nz x ON x.vec_id = c.vec_a
      |  JOIN nz y ON y.vec_id = c.vec_b)
      |SELECT vec_a, vec_b, CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1e6
      |FROM sims WHERE sim >= $minSim
      |ORDER BY vec_a, vec_b""".stripMargin

  private def langScoresSql: (String, String, String, String) = {
    val t = "(' ' || lower(text) || ' ')"
    def score(ws: Seq[String]) = ws.map(w => occSql(t, s" $w ")).mkString("(", " + ", ")")
    // marker lists come from the SAME constant the Spark path reads —
    // the oracle must replay the operator, not a copy of it
    val m = TextAnalysis.LangMarkers.toMap
    (score(m("en")), score(m("es")), score(m("de")), score(m("fr")))
  }

  /** The argmax-language CASE from [[langIdOracle]], reused by q50. */
  private val predictedSql: String = {
    val (en, es, de, fr) = langScoresSql
    s"""CASE WHEN octet_length(encode(text)) > length(text) THEN 'cjk'
      |       WHEN greatest($en, $es, $de, $fr) = 0 THEN 'unknown'
      |       WHEN $en = greatest($en, $es, $de, $fr) THEN 'en'
      |       WHEN $es = greatest($en, $es, $de, $fr) THEN 'es'
      |       WHEN $de = greatest($en, $es, $de, $fr) THEN 'de'
      |       ELSE 'fr' END""".stripMargin
  }

  private val langIdOracle: String = {
    val (en, es, de, fr) = langScoresSql
    s"""SELECT doc_id, lang,
      |  $en AS score_en, $es AS score_es, $de AS score_de, $fr AS score_fr,
      |  (octet_length(encode(text)) > length(text)) AS non_ascii,
      |  $predictedSql AS predicted
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The q29 quality-signal SELECT body, shared with q52's gates. */
  private val qualityBodySql: String = {
    val t = "(' ' || lower(text) || ' ')"
    val stop = TextAnalysis.QualityStopwords
      .map(w => occSql(t, s" $w ")).mkString(" + ")
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_words,
      |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
      |  ($stop) AS n_stopwords,
      |  CAST(floor(CAST(length(text) AS DOUBLE) * 1000 /
      |    greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)) AS BIGINT) AS avg_word_len_x1000
      |FROM documents""".stripMargin
  }

  private val qualityOracle: String =
    qualityBodySql + "\nORDER BY doc_id"

  /** q110's probe terms: a mix of frequent and less-frequent corpus
    * words so tf, df and dl all vary across the hits. Declared before
    * `queries` — the Seq construction evaluates the oracle builders. */
  private val Bm25Terms: Seq[String] = Seq("spark", "window", "merge", "vector")

  /** q112's probe tokens: frequent + mid + absent, so the estimate
    * column exercises exact hits, collision overestimates (width 16
    * forces them) and the empty-bucket zero path. */
  private val CmsProbes: Seq[String] =
    Seq("spark", "table", "the", "vector", "zzz_absent")

  val queries: Seq[Q] = Seq(

    // ── exact dedup: content-hash groupBy ────────────────────────────
    Q("q20_dedup_exact", "pipeline:dedup-exact",
      """SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
      (s, dir) => Dedup.exactGroups(t(s, dir, "documents")).orderBy("text_hash")),

    Q("q21_dedup_keep_first", "pipeline:dedup-exact",
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,
      (s, dir) => Dedup.keepFirst(t(s, dir, "documents")).orderBy("doc_id")),

    // ── exact n-gram Jaccard via inverted shingle index ──────────────
    Q("q22_ngram_jaccard", "pipeline:dedup-jaccard",
      jaccardOracle,
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), 0.8)
        .orderBy("doc_a", "doc_b")),

    // ── MinHash-LSH near-dup (candidates + exact verify) ─────────────
    // Same oracle as q22: LSH banding must find every pair >= 0.8
    // (miss probability ~2e-4 per pair) and verification makes
    // precision exact, so the results coincide.
    Q("q23_dedup_minhash_lsh", "pipeline:dedup-minhash-lsh",
      jaccardOracle,
      (s, dir) => Dedup.minhashDupPairs(docsF(s, dir), 0.8)
        .orderBy("doc_a", "doc_b")),

    // ── SimHash near-dup (block-pigeonhole candidates) ───────────────
    Q("q24_dedup_simhash", "pipeline:dedup-simhash",
      simhashOracle,
      (s, dir) => Dedup.simhashDupPairs(docsF(s, dir), 3)
        .orderBy("doc_a", "doc_b")),

    // ── brute-force cosine top-k (exact ANN baseline) ────────────────
    Q("q25_similarity_topk", "pipeline:similarity-topk",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |n AS (SELECT vec_id, v, label, ${normSql("v")} AS nrm FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
        |scored AS (
        |  SELECT query_id, vec_id, label,
        |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT) AS sim_x1e6
        |  FROM n, q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, vec_id, label, sim_x1e6,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim_x1e6 DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, label, sim_x1e6 FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      (s, dir) => Similarity.bruteForceTopK(t(s, dir, "embeddings"), 20, 5)
        .orderBy("query_id", "rank")),

    // ── LSH-bucketed approximate top-k (the 100 TB scale path).
    // Oracle-gated since round 15: the whole path is deterministic
    // (see annTopKOracle), so the served rows themselves hash-check;
    // recall vs the exact baseline stays asserted in QueriesSpec
    // and gated as the q45 aggregate. `nonzero_norms_ok` pulls the
    // family's corpus precondition under the hash (round 16): one
    // 1-row broadcast aggregate, no effect on the served plan.
    Q("q26_ann_lsh_topk", "pipeline:similarity-ann",
      annTopKOracle,
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.annTopK(e, 20, 5)
          .crossJoin(broadcast(nonzeroNormsOk(e)))
          .orderBy("query_id", "rank")
      }),

    // ── embedding cosine near-dup pairs ──────────────────────────────
    Q("q27_embedding_neardup", "pipeline:dedup-embedding",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(floor(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS sim_x1e6
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
      (s, dir) => Similarity.nearDupPairs(t(s, dir, "embeddings"), 0.4)
        .orderBy("vec_a", "vec_b")),

    // ── ANN recall under the hash-check regime: the deterministic LSH
    // top-k joined against the exact top-k, integer hit counts per
    // query; the oracle recomputes BOTH sides in SQL (planes embedded
    // as literals). Since round 15 q26 itself is row-gated too; this
    // aggregate keeps the vs-exact recall claim under the hash.
    Q("q45_ann_recall", "pipeline:similarity-ann-recall",
      annRecallOracle,
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val exact = Similarity.bruteForceTopK(e, 20, 5)
          .select(col("query_id"), col("vec_id"))
        val ann = Similarity.annTopK(e, 20, 5)
          .select(col("query_id").as("a_qid"), col("vec_id").as("a_vid"))
        exact.join(ann,
            exact("query_id") === ann("a_qid") && exact("vec_id") === ann("a_vid"),
            "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("exact_k"), count(col("a_vid")).as("ann_hits"))
          .orderBy("query_id")
      }),

    // ── language ID (marker-word heuristic) ──────────────────────────
    Q("q28_text_langid", "pipeline:text-langid",
      langIdOracle,
      (s, dir) => TextAnalysis.langId(t(s, dir, "documents")).orderBy("doc_id")),

    // ── quality scoring ──────────────────────────────────────────────
    Q("q29_text_quality", "pipeline:text-quality",
      qualityOracle,
      (s, dir) => TextAnalysis.quality(t(s, dir, "documents")).orderBy("doc_id")),

    // ── token counting (whitespace + BPE-ish regex) ──────────────────
    Q("q30_token_count", "pipeline:text-tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
      (s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents")).orderBy("doc_id")),

    // ── document fingerprinting (min-shingle-hash + content md5) ─────
    Q("q31_doc_fingerprint", "pipeline:text-fingerprint",
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
        |fp AS (SELECT doc_id, min(${h60Sql("s")}) AS shingle_fp FROM sh GROUP BY doc_id)
        |SELECT d.doc_id, md5(d.text) AS content_fp,
        |  coalesce(fp.shingle_fp, ${h60Sql("d.text")}) AS shingle_fp
        |FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
      (s, dir) => TextAnalysis.fingerprints(docsF(s, dir)).orderBy("doc_id")),

    // ── near-dup clustering: connected components over dup pairs ─────
    // Oracle computes the same components with a recursive CTE over the
    // exact-Jaccard pair set (clusters are small at this sf; the Spark
    // side scales via per-iteration joins).
    Q("q35_dedup_clusters", "pipeline:dedup-clusters",
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p0 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p0
        |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(n, m) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m)
        |SELECT d.doc_id,
        |  CAST(least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS BIGINT) AS cluster_root,
        |  (d.doc_id = least(d.doc_id, coalesce(min(r.m), d.doc_id))) AS keep
        |FROM documents d LEFT JOIN reach r ON r.n = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
      (s, dir) => Dedup.dupClusters(docsF(s, dir), 0.8)
        .orderBy("doc_id")),

    // ── embedding near-dup clusters: connected components over the
    // cosine >= 0.4 pair graph — "keep one vector per duplicate
    // cluster", same operator family as q35 but on the embedding side.
    Q("q46_embedding_clusters", "pipeline:dedup-embedding-clusters",
      s"""WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
        |pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
        |edges AS (SELECT va AS a, vb AS b FROM pairs
        |          UNION SELECT vb, va FROM pairs),
        |reach(x, y) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.x, e2.b FROM reach r JOIN edges e2 ON e2.a = r.y)
        |SELECT d.vec_id,
        |  CAST(least(d.vec_id, coalesce(min(r.y), d.vec_id)) AS BIGINT) AS cluster_root,
        |  (d.vec_id = least(d.vec_id, coalesce(min(r.y), d.vec_id))) AS keep
        |FROM embeddings d LEFT JOIN reach r ON r.x = d.vec_id
        |GROUP BY d.vec_id ORDER BY d.vec_id""".stripMargin,
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Dedup.componentLabels(
            e.select(col("vec_id").as("id")),
            Similarity.nearDupPairs(e, 0.4)
              .select(col("vec_a").as("a"), col("vec_b").as("b")))
          .select(col("id").as("vec_id"), col("cluster_root"), col("keep"))
          .orderBy("vec_id")
      }),

    // ── df-capped n-gram Jaccard: the stop-shingle guard that bounds
    // the inverted-index pairing cost at corpus scale (shingles with
    // df > 20 are boilerplate and leave the universe before pairing).
    Q("q47_jaccard_df_capped", "pipeline:dedup-jaccard-capped",
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
        |kept AS (
        |  SELECT doc_id, s FROM sh
        |  WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > 20)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS common
        |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common,
        |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
        |  CAST(floor(CAST(common AS DOUBLE) / (x.n + y.n - common) * 1000) AS BIGINT) AS jacc_x1000
        |FROM pairs JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
        |WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
      (s, dir) => Dedup.ngramJaccardPairsCapped(docsF(s, dir), 0.8, 20L)
        .orderBy("doc_a", "doc_b")),

    // ── deterministic stratified sampling (data mixing) ──────────────
    // Hash-bucket sampling: stable under re-runs and engine-portable —
    // the per-language rate is the mixing weight of a training-data
    // pipeline.
    Q("q36_stratified_sample", "pipeline:sampling",
      s"""SELECT doc_id, lang,
        |  CAST(${h60Sql("doc_id")} % 100 AS BIGINT) AS bucket
        |FROM documents
        |WHERE ${h60Sql("doc_id")} % 100 <
        |  (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
        |ORDER BY doc_id""".stripMargin,
      (s, dir) => t(s, dir, "documents")
        .withColumn("bucket", pmod(Hashing.h60(col("doc_id")), lit(100L)))
        .filter(col("bucket") < when(col("lang") === "en", 10).otherwise(50))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")),

    // ── IVF ANN (coarse quantizer + cell probe). Oracle-gated since
    // round 15 via the data-derived bounded sample quantizer (see
    // ivfTopKOracle — the trained-quantizer form that kept this
    // rows-only is gated piecewise by q82/q102 and spec-asserted in
    // QueriesSpec's recall floor).
    Q("q33_ann_ivf_topk", "pipeline:similarity-ann-ivf",
      ivfTopKOracle(nCells = 16, nProbe = 4, nQ = 20, k = 5),
      (s, dir) => {
        val e = embF(s, dir)
        IvfIndex.annTopKWithCentroids(e, 20, 5,
            IvfIndex.sampleCentroidsK(e, 16), nProbe = 4)
          .crossJoin(broadcast(nonzeroNormsOk(e)))
          .orderBy("query_id", "rank")
      }),

    // ── approximate distinct (HLL) checked against exact — the
    // cardinality sketch a 100 TB dedup pipeline uses for stats. The
    // raw HLL++ estimate is engine-specific (DuckDB's sketch gives a
    // different number), so the registered output hash-checks the
    // EXACT count per group plus the 3-sigma accuracy CLAIM about the
    // estimate (|approx - exact| <= 3 x 5% rsd) as a boolean the
    // oracle asserts is uniformly TRUE; the raw estimate value itself
    // stays spec-asserted in QueriesSpec.
    //
    // CAVEAT — the oracle's `TRUE AS approx_within_3rsd` is a
    // PER-DATASET pin, not a theorem: a 3-sigma bound holds with
    // probability ~99.7% per group, and it has been VALIDATED to hold
    // on the driver's generated sf0.001/sf0.01/sf0.1 events tables
    // (5 groups each; QueriesSpec re-asserts it every run). On
    // regenerated or new testdata a group can legitimately land
    // outside 3 sigma and this hash check would fail spuriously —
    // that is the signal to revalidate the pin against the new data
    // (or demote the claim column to the spec-only assert), not a
    // correctness bug in the operator.
    Q("q34_approx_distinct", "pipeline:approx-distinct",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS approx_within_3rsd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.15)).as("approx_within_3rsd"))
        .orderBy("event_type")),

    // ── repetition quality signal (non-distinct shingle stats) ───────
    Q("q37_text_repetition", "pipeline:text-repetition",
      s"""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM w),
        |freq AS (SELECT doc_id, s, count(*) AS f FROM sh GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_shingles,
        |  CAST(max(f) AS BIGINT) AS max_freq,
        |  CAST(floor(CAST(max(f) AS DOUBLE) * 1000 / sum(f)) AS BIGINT) AS rep_ratio_x1000
        |FROM freq GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      (s, dir) => TextAnalysis.repetition(docsF(s, dir))
        .orderBy("doc_id")),

    // ── corpus mixing report (per-stratum stats) ─────────────────────
    Q("q38_corpus_stats", "pipeline:corpus-stats",
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(floor(CAST(sum(length(text)) AS DOUBLE) * 1000 / count(*)) AS BIGINT) AS mean_chars_x1000
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
      (s, dir) => TextAnalysis.corpusStats(t(s, dir, "documents"))
        .orderBy("source", "lang")),

    // q39 — TOMBSTONE: never registered. A round-5 numbering gap (the
    // id was skipped when q40 landed), not a retired query; kept
    // unassigned so every historical CORRECTNESS_r*.json id stays
    // comparable. New queries continue from the top of the id space.

    // ── incremental dedup vs historical corpus (bloom prefilter +
    // exact rescue of false positives). The oracle expresses the final
    // SEMANTICS (exact anti-join on text): the bloom path must be
    // invisible in the result — that is the correctness claim.
    Q("q44_dedup_incremental", "pipeline:dedup-incremental",
      """SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM documents h
        |    WHERE h.doc_id % 3 = 0 AND h.text = b.text)
        |ORDER BY b.doc_id""".stripMargin,
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val history = docs.filter(col("doc_id") % 3 === 0)
        val batch = docs.filter(col("doc_id") % 3 =!= 0)
        IncrementalDedup.newDocsExact(history, batch, 100000L, 0.03)
          .select("doc_id", "lang").orderBy("doc_id")
      }),

    // ── multimodal: binary payload + mapPartitions batch decode ──────
    Q("q32_multimodal_meta", "pipeline:multimodal",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |  CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
      (s, dir) => Multimodal.decodeMeta(s,
          Multimodal.withPayload(t(s, dir, "documents")))
        .toDF().orderBy("doc_id")),

    // ── sequence packing (concat-and-chunk): global token offsets via
    // a two-level prefix sum — the distributed replacement for the
    // single-task Window.orderBy global cumsum (see graft.ops.Packing).
    Q("q49_pack_chunks", "pipeline:pack-chunks",
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)), '\s+')), 0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(floor(start_offset / 512.0) AS BIGINT) AS chunk_id,
        |  (floor(greatest(start_offset + n_tokens - 1, start_offset) / 512.0)
        |     > floor(start_offset / 512.0)) AS spans_boundary,
        |  CAST(floor(greatest(start_offset + n_tokens - 1, start_offset) / 512.0)
        |     - floor(start_offset / 512.0) AS BIGINT) AS chunks_crossed
        |FROM off ORDER BY doc_id""".stripMargin,
      (s, dir) => Packing.packChunks(t(s, dir, "documents"), 512L)
        .orderBy("doc_id")),

    // ── per-language cap (corpus balancing): deterministic top-N per
    // group in h60 pseudo-random order; WindowGroupLimit keeps it a
    // bounded heap per group, not a full sort.
    Q("q50_group_cap", "pipeline:group-cap",
      s"""WITH pred AS (
        |  SELECT doc_id, $predictedSql AS lang FROM documents),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY ${h60Sql("doc_id")}, doc_id) AS rn
        |  FROM pred)
        |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 50 ORDER BY doc_id""".stripMargin,
      (s, dir) => Sampling.groupCap(t(s, dir, "documents"), 50)
        .orderBy("doc_id")),

    // ── train/test contamination: benchmark-shingle overlap against
    // the rest of the corpus via the shingle-df inverted index — the
    // eval-leakage check every pretraining pipeline runs.
    Q("q51_contamination", "pipeline:contamination",
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
        |stats AS (SELECT s, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY s),
        |bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 7),
        |agg AS (
        |  SELECT b.doc_id, count(*) AS n_shingles,
        |    sum(CASE WHEN st.n_docs >= 2 THEN 1 ELSE 0 END) AS n_contaminated
        |  FROM bench b JOIN stats st ON st.s = b.s GROUP BY b.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(a.n_contaminated, 0) AS BIGINT) AS n_contaminated,
        |  CAST(floor(coalesce(a.n_contaminated, 0) * 1000.0 /
        |    greatest(coalesce(a.n_shingles, 0), 1)) AS BIGINT) AS contamination_x1000
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |WHERE d.doc_id % 10 = 7
        |ORDER BY d.doc_id""".stripMargin,
      (s, dir) => TextAnalysis.contamination(docsF(s, dir))
        .orderBy("doc_id")),

    // ── composite quality gates (Gopher-style rule filter): per-gate
    // booleans + keep, integer-exact thresholds, per-row (no shuffle).
    Q("q52_quality_gates", "pipeline:quality-gates",
      s"""WITH q AS ($qualityBodySql)
        |SELECT doc_id,
        |  (n_words < 20) AS too_short,
        |  (n_words > 1000) AS too_long,
        |  (n_stopwords * 20 < n_words) AS low_stopword,
        |  (n_punct * 5 > n_words) AS high_punct,
        |  (avg_word_len_x1000 < 3000 OR avg_word_len_x1000 > 15000) AS weird_word_len,
        |  NOT ((n_words < 20) OR (n_words > 1000)
        |    OR (n_stopwords * 20 < n_words) OR (n_punct * 5 > n_words)
        |    OR (avg_word_len_x1000 < 3000 OR avg_word_len_x1000 > 15000)) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
      (s, dir) => TextAnalysis.qualityGates(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ── multimodal frame sampling: every 3rd frame, max 5 per doc,
    // over the decoded metadata (decode itself is the documented stub).
    Q("q53_frame_sample", "pipeline:multimodal-frames",
      """WITH meta AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_frames,
        |    least((n_frames - 1) - ((n_frames - 1) % 3), 3 * 4) AS last_kept
        |  FROM meta)
        |SELECT doc_id, n_frames,
        |  CAST(unnest(range(0, last_kept + 1, 3)) AS BIGINT) AS frame_idx
        |FROM k ORDER BY doc_id, frame_idx""".stripMargin,
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.decodeMeta(s,
            Multimodal.withPayload(t(s, dir, "documents"))).toDF(),
          stride = 3, maxFrames = 5)
        .orderBy("doc_id", "frame_idx")),

    // ── multimodal resize planning: aspect-preserving clamp to 256 on
    // the long side, integer math only (floor both engines).
    Q("q54_resize_plan", "pipeline:multimodal-resize",
      """WITH meta AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |    CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  CAST(CASE WHEN greatest(width, height) > 256
        |    THEN greatest(floor(width * 256.0 / greatest(width, height)), 1)
        |    ELSE width END AS INT) AS out_width,
        |  CAST(CASE WHEN greatest(width, height) > 256
        |    THEN greatest(floor(height * 256.0 / greatest(width, height)), 1)
        |    ELSE height END AS INT) AS out_height,
        |  (greatest(width, height) > 256) AS resized
        |FROM meta ORDER BY doc_id""".stripMargin,
      (s, dir) => Multimodal.resizeMeta(
          Multimodal.decodeMeta(s,
            Multimodal.withPayload(t(s, dir, "documents"))).toDF(),
          maxDim = 256)
        .orderBy("doc_id")),

    // ── intra-document dedup (boilerplate stripping): drop repeated
    // sentences per doc, keep first occurrences in original order,
    // reassemble — compared byte-for-byte against the oracle.
    Q("q55_intradoc_dedup", "pipeline:dedup-intradoc",
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, '. ') AS p FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(p) + 1),
        |      i -> struct_pack(pos := i, sent := p[i]))) AS u
        |  FROM parts),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.sent AS sent,
        |    row_number() OVER (PARTITION BY doc_id, u.sent
        |      ORDER BY u.pos) AS occ
        |  FROM e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
        |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  coalesce(string_agg(CASE WHEN occ = 1 THEN sent END, '. '
        |    ORDER BY pos), '') AS dedup_text
        |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      (s, dir) => TextAnalysis.intraDocDedup(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ── int8-quantized similarity: top-k over quantize→dequantize'd
    // embeddings — the 4x-smaller-payload storage path, oracle-exact
    // because quantization is floor-based round-half-up on both engines.
    Q("q56_quantized_topk", "pipeline:similarity-quantized",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |sc AS (SELECT vec_id, v, label,
        |  list_max(list_transform(v, x -> abs(x))) AS s FROM e),
        |dq AS (SELECT vec_id, label,
        |  list_transform(v, x ->
        |    (CASE WHEN s = 0 THEN 0.0 ELSE floor(x / s * 127 + 0.5) END)
        |      * s / 127.0) AS v
        |  FROM sc),
        |n AS (SELECT vec_id, v, label, ${normSql("v")} AS nrm FROM dq),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
        |scored AS (
        |  SELECT query_id, vec_id, label,
        |    CAST(floor(${dotSql("qv", "v")} / (qn * nrm) * 1000000) AS BIGINT) AS sim_x1e6
        |  FROM n, q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, vec_id, label, sim_x1e6,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim_x1e6 DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, label, sim_x1e6 FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      (s, dir) => Similarity.bruteForceTopK(
          Similarity.dequantizeInt8(
            Similarity.quantizeInt8(t(s, dir, "embeddings"))), 20, 5)
        .orderBy("query_id", "rank")),

    // ── bucketed warehouse round-trip: pay-the-shuffle-once wired into
    // the driver path, not just a spec. Documents and their per-doc
    // token stats are written bucketed on doc_id via
    // TableStore.writeBucketed, and the fact⨝fact join reads co-located
    // buckets — QueriesSpec asserts the executed plan has NO hash
    // exchange (the only shuffle is the final presentation orderBy).
    // The bucketing is transparent to results, so the oracle is plain
    // SQL over the unbucketed table.
    Q("q57_bucketed_join", "pipeline:bucketed-warehouse",
      """WITH tok AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens
        |  FROM documents)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, tok.ws_tokens
        |FROM documents d JOIN tok ON tok.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // per-sf warehouse under the build dir (testdata is read-only);
        // deterministic location, overwritten in place on every run
        val wh = scratchWh(dir)
        val docsT = TableStore.writeBucketed(docs.select("doc_id", "text"),
          wh, "q57_docs", 8, Seq("doc_id"), Seq("doc_id"))
        val tokT = TableStore.writeBucketed(
          TextAnalysis.tokenCounts(docs).select("doc_id", "ws_tokens"),
          wh, "q57_tokens", 8, Seq("doc_id"), Seq("doc_id"))
        s.table(docsT).join(s.table(tokT), "doc_id")
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            col("ws_tokens"))
          .orderBy("doc_id")
      }),

    // ── IVF ANN recall under the hash-check regime — the q45 pattern
    // applied to the IVF path, with the coarse quantizer pinned to
    // data-independent literal centroids (see ivfPinnedCentroids) so
    // the DuckDB oracle replays assignment, probing, and rerank
    // exactly. Since round 15 q33 itself is row-gated too (data-
    // derived quantizer); this keeps the vs-exact recall claim.
    Q("q58_ivf_recall", "pipeline:similarity-ann-ivf-recall",
      ivfRecallOracle,
      (s, dir) => {
        val e = embF(s, dir)
        val exact = Similarity.bruteForceTopK(e, 20, 5)
          .select(col("query_id"), col("vec_id"))
        val ivf = IvfIndex
          .annTopKWithCentroids(e, 20, 5, ivfPinnedCentroids)
          .select(col("query_id").as("a_qid"), col("vec_id").as("a_vid"))
        exact.join(ivf,
            exact("query_id") === ivf("a_qid") &&
              exact("vec_id") === ivf("a_vid"),
            "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("exact_k"), count(col("a_vid")).as("ivf_hits"))
          .orderBy("query_id")
      }),

    // ── cross-doc repeated spans: the exact-substring layer of
    // training-data dedup — maximal token ranges whose every 5-token
    // window occurs in >= 2 distinct docs. Localizes shared
    // boilerplate that doc-level MinHash/Jaccard can only flag.
    Q("q59_repeated_spans", "pipeline:repeated-spans",
      s"""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(w) - 4, 0))) AS pos,
        |    unnest(list_transform(range(1, greatest(len(w) - 4, 0) + 1),
        |      i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM w),
        |h AS (SELECT doc_id, pos, ${h60Sql("s")} AS h FROM wins),
        |rep AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM h
        |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT x.doc_id, x.pos, r.n_docs FROM h x JOIN rep r ON r.h = x.h),
        |isl AS (SELECT doc_id, pos, n_docs,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM hit)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(count(*) + 4 AS BIGINT) AS span_len_tokens,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(max(n_docs) AS BIGINT) AS max_df
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
      (s, dir) => TextAnalysis.repeatedSpans(docsF(s, dir), 5, 2)
        .orderBy("doc_id", "span_start")),

    // ── vocabulary-frequency quality score: the unigram-LM quality
    // filter reformulated over doc frequencies with integer/floor-only
    // arithmetic (ln() is not cross-engine-portable).
    Q("q60_vocab_quality", "pipeline:vocab-quality",
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |dfs AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
        |j AS (SELECT x.doc_id, d.df FROM tok x JOIN dfs d ON d.t = x.t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(floor(sum(least(df, 100)) * 1000.0 / (count(*) * 100)) AS BIGINT)
        |    AS common_score_x1000
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      (s, dir) => TextAnalysis.vocabQuality(t(s, dir, "documents"), 100)
        .orderBy("doc_id")),

    // ── bucket-capped MinHash-LSH: the boilerplate-robust production
    // variant. Band buckets > 16 docs are dropped before pair
    // expansion (O(bucket) instead of O(bucket²) for boilerplate
    // clusters). The pipeline is deterministic end-to-end, so the
    // oracle replays ALL of it in SQL: shingle h31s, the 16
    // universal-hash minima, band assembly, bucket sizing, the cap,
    // candidate expansion, and exact-Jaccard verification.
    Q("q61_minhash_lsh_capped", "pipeline:dedup-minhash-capped",
      cappedLshOracle(maxBucket = 16),
      (s, dir) => Dedup.minhashDupPairsCapped(docsF(s, dir), 0.8, 16)
        .orderBy("doc_a", "doc_b")),

    // ── corpus-global sentence dedup: every sentence survives only at
    // its first (doc_id, pos) occurrence across the WHOLE corpus —
    // the RefinedWeb-style exact sub-document layer (q55 is the
    // intra-doc twin).
    Q("q62_corpus_sentence_dedup", "pipeline:dedup-sentence-global",
      sentenceDedupOracle,
      (s, dir) => TextAnalysis.corpusSentenceDedup(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ── PII scrub: count + redact emails, phones, IPv4 — RE2-subset
    // patterns shared verbatim with the oracle (TextAnalysis.EmailRe
    // etc.), per-row map work, zero shuffles.
    Q("q63_pii_scrub", "pipeline:pii-scrub",
      piiOracle,
      (s, dir) => TextAnalysis.piiScrub(docsF(s, dir))
        .orderBy("doc_id")),

    // ── repeated-span REMOVAL: the editing counterpart of q59 — every
    // token covered by a repeated 5-window occurrence that is not the
    // span's first corpus occurrence is excised; one copy of every
    // duplicated passage survives.
    Q("q64_span_removal", "pipeline:span-removal",
      s"""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(range(0, len(w))) AS pos, unnest(w) AS tok
        |  FROM w),
        |wins AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(w) - 4, 0))) AS pos,
        |    unnest(list_transform(range(1, greatest(len(w) - 4, 0) + 1),
        |      i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM w),
        |hh AS (SELECT doc_id, pos, ${h60Sql("s")} AS h, ${h60bSql("s")} AS h2
        |  FROM wins),
        |stats AS (
        |  SELECT h, h2, count(DISTINCT doc_id) AS n_docs
        |  FROM hh GROUP BY h, h2 HAVING count(DISTINCT doc_id) >= 2),
        |firsts AS (
        |  SELECT doc_id, pos, h, h2, row_number() OVER (
        |    PARTITION BY h, h2 ORDER BY doc_id, pos) AS rn
        |  FROM hh),
        |bad AS (
        |  SELECT f.doc_id, f.pos FROM firsts f
        |  JOIN stats s ON s.h = f.h AND s.h2 = f.h2 WHERE f.rn > 1),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos + d AS pos
        |  FROM bad CROSS JOIN (SELECT unnest(range(0, 5)) AS d) offs),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM covered c
        |    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        |tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
        |ka AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(tot.n_tokens - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM tot LEFT JOIN ka ON ka.doc_id = tot.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
      (s, dir) => TextAnalysis.repeatedSpanRemoval(docsF(s, dir), 5, 2)
        .orderBy("doc_id")),

    // ── dedup MATERIALIZATION: the end-to-end detect → cluster → keep
    // pipeline as one query — the surviving (canonical) corpus after
    // near-dup clustering, each keeper annotated with its cluster
    // size. Composes dupClusters (q35's operator) with the corpus.
    // The oracle replays the Spark path's OWN banding decisions
    // (cappedLshCtes with the cap dropped — signatures → bands →
    // candidates → exact verify → components), so equality is exact
    // by construction on ANY dataset; the former exact-Jaccard oracle
    // agreed only because no qualifying pair on the shipped testdata
    // happened to be band-missed (a per-dataset pin, now gone).
    Q("q65_dedup_materialize", "pipeline:dedup-materialize",
      lshMaterializeOracle(None),
      (s, dir) => {
        val docs = docsF(s, dir)
        val cl = Dedup.dupClusters(docs, 0.8)
        val sizes = cl.groupBy("cluster_root")
          .agg(count(lit(1)).as("cluster_size"))
        cl.filter(col("keep"))
          .join(sizes, Seq("cluster_root"))
          .join(docs.select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
          .select(col("doc_id"), col("cluster_root"), col("cluster_size"),
            col("n_chars"))
          .orderBy("doc_id")
      }),

    // ── CAPPED dedup materialization: q65 through the boilerplate-
    // robust pair path (band buckets > 16 dropped before expansion) —
    // the variant a production pipeline runs on a real crawl, where one
    // shared license block otherwise inflates candidates ~2000x. The
    // whole pipeline is deterministic, so the oracle replays signatures
    // → banding → cap → verify → connected components in SQL: exact
    // equality on ANY dataset, no LSH-recall pin (contrast q65).
    Q("q67_dedup_materialize_capped", "pipeline:dedup-materialize-capped",
      lshMaterializeOracle(Some(16)),
      (s, dir) => {
        val docs = docsF(s, dir)
        val cl = Dedup.dupClusters(docs, 0.8, bucketCap = Some(16))
        val sizes = cl.groupBy("cluster_root")
          .agg(count(lit(1)).as("cluster_size"))
        cl.filter(col("keep"))
          .join(sizes, Seq("cluster_root"))
          .join(docs.select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
          .select(col("doc_id"), col("cluster_root"), col("cluster_size"),
            col("n_chars"))
          .orderBy("doc_id")
      }),

    // ── the LSH PAIR path under the hash-check regime, AT A
    // PRODUCTION THRESHOLD: q27's 0.4 threshold dispatches to the
    // exact blocked kernel (below the 0.7 crossover), and this
    // corpus's organic embedding near-dups top out near cos 0.6 — so
    // checking nearDupPairsLsh on raw data meant either zero rows
    // (≥0.7) or a threshold where bands cannot prune (round 8
    // registered 0.45: 99.97% of all pairs became candidates,
    // quadratic by measurement). Round 9 derives deterministic
    // high-similarity plants INSIDE the query (plantNearDups: clone
    // ids offset by max(vec_id)+1, one element perturbed +0.1 through an IEEE float
    // round-trip — cos ~0.995 to the source) and registers the path
    // at 0.7 in the regime it exists for. The config is sized by the
    // law on nearDupPairsLsh: the first registration used 64 planes /
    // 8-bit bands, whose 8*256-cell bucket space saturates right at
    // this corpus's size (measured: candidates 76k at x1 -> 7.2M at
    // x10 -> 65M at x30 — quadratic once n outgrows the cells, 91 s
    // of rerank at x30). 128 planes / 16-bit bands (8 bands * 65536
    // cells, 2-word signatures via the fused lsh_sig_words kernel)
    // holds the random mass linear through x30 (52k candidates at
    // x10, 460k at x30) at the same planted recall margin (a 0.995
    // pair collides per band with p ≈ 0.59, misses all 8 with
    // p ≈ 8e-4). The oracle replays EVERYTHING in SQL — the plant
    // derivation, 128 plane-literal dots, sign bits, 16-bit band
    // values assembled bit-wise, distinct candidates, sequential-fold
    // rerank — so equality is exact on any dataset, no recall pin.
    Q("q69_lsh_neardup_pairs", "pipeline:dedup-embedding-lsh",
      lshPairsOracle(0.7, bitsPerBand = 16, planted = Some(50),
        nPlanes = 128),
      (s, dir) => Similarity.nearDupPairsLsh(
          Similarity.plantNearDups(t(s, dir, "embeddings"), 50), 0.7,
          nPlanes = 128, bitsPerBand = 16)
        .orderBy("vec_a", "vec_b")),

    // ── multimodal CONTENT-level near-dup: perceptual block-hash over
    // the decoded payload stream (q32/q53/q54 stop at metadata). The
    // stub decode is deterministic, so the oracle replays the whole
    // signature pipeline: per-sample explode, block means vs global
    // mean (integer-exact cross-multiplication), signature assembly —
    // all signatures hash-checked. The pair join on top
    // (Multimodal.phashDupPairs) gets its own oracle-checked pair
    // rows in q72 via alignment-preserving planted payload edits.
    Q("q68_multimodal_phash", "pipeline:multimodal-phash",
      phashOracle,
      (s, dir) => Multimodal.blockHash(
          Multimodal.withPayload(docsF(s, dir)))
        .orderBy("doc_id")),

    // ── boilerplate mining: top-100 most document-frequent shingles —
    // produces the stop-shingle lists q47's df-capped Jaccard consumes;
    // df agg with map-side combine, distributed TakeOrdered top-k.
    Q("q71_top_shingles", "pipeline:boilerplate-mining",
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
        |d AS (SELECT s AS shingle, CAST(count(*) AS BIGINT) AS df
        |      FROM sh GROUP BY s),
        |r AS (SELECT shingle, df,
        |        row_number() OVER (ORDER BY df DESC, shingle) AS rank
        |      FROM d)
        |SELECT shingle, df, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,
      (s, dir) => TextAnalysis.topShingles(t(s, dir, "documents"), 100)
        .orderBy("rank")),

    // ── corpus length-outlier gate: keep iff token count within the
    // corpus [p01, p99] exact interpolated percentiles — computed from
    // the (length, count) histogram (bounded state at any corpus
    // size), NOT the value-buffering percentile() aggregate. The
    // histogram rank math reproduces quantile_cont's type-7
    // interpolation exactly, which is what the oracle runs.
    Q("q70_length_gate", "pipeline:length-gate",
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)), '\s+')), 0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT quantile_cont(n_tokens, 0.01) AS lo,
        |             quantile_cont(n_tokens, 0.99) AS hi FROM tok)
        |SELECT doc_id, n_tokens,
        |  (n_tokens >= lo AND n_tokens <= hi) AS keep,
        |  CAST(floor(lo * 100) AS BIGINT) AS lo_x100,
        |  CAST(floor(hi * 100) AS BIGINT) AS hi_x100
        |FROM tok, b ORDER BY doc_id""".stripMargin,
      (s, dir) => TextAnalysis.lengthGate(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ── deterministic train/val/test hash split: stable under re-runs
    // and corpus growth, engine-portable, zero shuffles (a projection).
    Q("q66_hash_split", "pipeline:hash-split",
      s"""WITH b AS (
        |  SELECT doc_id,
        |    ${h60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
        |  FROM documents)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 980 THEN 'train'
        |       WHEN bucket < 990 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
      (s, dir) => Sampling.hashSplit(t(s, dir, "documents"), 980, 10)
        .orderBy("doc_id")),

    // ── multimodal content-level near-dup PAIRS (closing q68's
    // evidence gap): this corpus's organic text near-dups are
    // length-shifting token edits, which alignment-sensitive
    // blockhash correctly does NOT pair — so the pair join had
    // signatures hash-checked (q68) but no oracle-checked pair rows.
    // Plant alignment-PRESERVING edits inside the query (clone ids
    // offset by max(doc_id)+1, first char substituted — same length, blocks stay
    // aligned, clone lands within small hamming of its source) and
    // the pigeonhole kernel emits real pairs the oracle replays by
    // brute force (lossless for hamming <= 3, the q24 argument).
    Q("q72_phash_dup_pairs", "pipeline:multimodal-phash-pairs",
      phashPairsOracle,
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        // clone-id offset = max(doc_id)+1, derived — disjoint at any
        // corpus size (a fixed literal collided at ScaleGen x30)
        val off = docs.agg((max(col("doc_id")) + 1L).as("off"))
        val planted = docs
          .filter(col("doc_id") < 50 && length(col("text")) >= 2)
          .crossJoin(broadcast(off))
          .select((col("doc_id") + col("off")).as("doc_id"),
            concat(lit("Q"), expr("substring(text, 2)")).as("text"))
        Multimodal.phashDupPairs(
            Multimodal.withPayload(docs.unionByName(planted)), 3)
          .orderBy("doc_a", "doc_b")
      }),

    // ── the END-TO-END curation CAPSTONE: the pipeline a pretraining
    // run actually executes, composed from individually hash-checked
    // stages — quality gates (q52's predicate, pushed against the
    // scan) → corpus length gate (q70's histogram percentiles,
    // computed over the gate survivors) → PII scrub (q63's chain) →
    // capped dedup materialization (q67, over the SCRUBBED text) →
    // deterministic hash split (q66). Registered as ONE query so the
    // cross-stage plan — predicate pushdown through the stage chain,
    // the single corpus cache feeding dedup and the final join, no
    // join-backs between per-row stages — is itself under the
    // hash-check regime. Every stage is deterministic, so the oracle
    // replays all five in sequence: exact on any dataset, no pins.
    Q("q73_curation_pipeline", "pipeline:curation-e2e",
      curationOracle,
      (s, dir) => {
        val docs = docsF(s, dir).select("doc_id", "text")
        val gated = docs.filter(TextAnalysis.qualityKeep(col("text")))
        val sized = TextAnalysis.lengthGateRetained(gated)
          .filter(col("keep"))
        // scrub + project: per-row map work, still no shuffle since
        // the scan. Cached because BOTH the dedup pipeline (shingle
        // index, universe) and the final n_tokens join re-scan it —
        // uncached, the whole gate+scrub chain would run three times.
        val clean = sized.select(col("doc_id"),
          TextAnalysis.scrubText(col("text")).as("text"), col("n_tokens"))
          .transform(Checkpoints.cache)
        val cl = Dedup.dupClusters(clean, 0.8, bucketCap = Some(16))
        val sizes = cl.groupBy("cluster_root")
          .agg(count(lit(1)).as("cluster_size"))
        cl.filter(col("keep"))
          .join(sizes, Seq("cluster_root"))
          .join(clean.select("doc_id", "n_tokens"), Seq("doc_id"))
          .transform(d => Sampling.withSplit(d))
          .select(col("doc_id"), col("n_tokens"), col("cluster_root"),
            col("cluster_size"), col("bucket"), col("split"))
          .orderBy("doc_id")
      }),

    // ── IVF-clustered near-dup pairs (SemDeDup-style): the THIRD
    // pruning mechanism in the registry's pair family, pinned in the
    // tight-pair regime it structurally serves — a 0.995-sim clone
    // lands in its source's cells at any quantizer granularity, so
    // recall there is data-independent, while banding (q69) needs the
    // sizing law and the exact kernel (q27) needs Θ(n²d). The
    // MODERATE-threshold regime was measured and declined: at 0.45 on
    // this ~uniform corpus, any config that actually prunes loses
    // recall (PLANS.md round 9: 97% recall needed nProbe=8 at 14 s where
    // exact runs 3 s at 20k vectors) — cluster pruning at moderate
    // sim pays only on corpora with real cluster structure, and the
    // operator's scaladoc prices that openly. The quantizer is the
    // data-adaptive sample quantizer (sampleCentroids, cell target
    // 64): k GROWS with the corpus — any pinned-literal quantizer
    // saturates quadratically once cells outgrow the target (measured:
    // 128 pinned cells ran 111 s at x30 where the sample quantizer
    // holds cells at 64) — and, unlike Lloyd centroids, it replays in
    // SQL as a LIMIT subquery + distance join, so the oracle is both
    // pin-free AND scale-honest: plant derivation, centroid
    // rederivation, the n×k distance join, row_number (d, cid)
    // tie-break = Spark's array_sort struct order, co-residence join,
    // fold rerank — exact on any dataset.
    Q("q74_ivf_neardup_pairs", "pipeline:dedup-embedding-ivf",
      ivfPairsOracle(0.7, nProbe = 2, cellSize = 64,
        planted = Some(50)),
      (s, dir) => {
        val planted = Similarity.plantNearDups(t(s, dir, "embeddings"), 50)
        // the dispatcher resolves to the literal-kernel path at any
        // driver-collectable k (the oracle replays exactly that); past
        // kDriverMax it switches to the broadcast-join assignment
        // (assignViaJoin), whose pair output is spec'd equal on the
        // same centroid set (IvfAssignJoinSpec)
        IvfIndex.nearDupPairsClustered(planted, 0.7, Some(64), nProbe = 2)
          .orderBy("vec_a", "vec_b")
      }),

    // ── temperature resampling: the multilingual mixture-rebalancing
    // step (q36 samples at FIXED per-language rates; here the rates
    // DERIVE from the corpus: accept (n_min/n_lang)^0.5 — the T=2
    // temperature mixture, rarest language kept whole). Exponent 0.5
    // is deliberate: sqrt and division are correctly-rounded IEEE ops
    // in BOTH engines, so the per-group thresholds replay bit-exactly
    // where a pow()-based exponent could differ in the last ulp (see
    // Sampling.temperatureMix). Plan: tiny lang agg + 1-row min +
    // broadcast thresholds onto the stream — the corpus is never
    // shuffled.
    Q("q75_temperature_mix", "pipeline:temperature-mix",
      s"""WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |r AS (
        |  SELECT lang, CAST(floor(sqrt((SELECT min(n) FROM c) / n)
        |    * 1000000.0) AS BIGINT) AS rate_ppm
        |  FROM c)
        |SELECT d.doc_id, d.lang, r.rate_ppm
        |FROM documents d JOIN r USING (lang)
        |WHERE ${h60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
        |  < r.rate_ppm
        |ORDER BY doc_id""".stripMargin,
      (s, dir) => Sampling.temperatureMix(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // ── the AUTO-SIZED LSH pair path under the hash-check regime:
    // q69 pins its (128, 16) config for a stable regression row;
    // nearDupPairsLshAuto — the form a library user should call —
    // derives (nPlanes, bitsPerBand) from one count() via the sizing
    // law. Registered so the DERIVATION itself is oracle-checked: the
    // oracle recomputes n and replays the integer tier switch in SQL
    // (no pinned config anywhere — at sf0.01's n=550 both sides land
    // on the 16-bit tier, at n <= 256 both land on the 8-bit tier,
    // and the spec exercises both tiers). Per-tier band counts and
    // plane literals are constants of the law, emitted by the shared
    // Scala function that the Spark path itself calls.
    Q("q76_lsh_auto_pairs", "pipeline:dedup-embedding-lsh-auto",
      lshAutoPairsOracle(0.7, planted = Some(50)),
      (s, dir) => Similarity.nearDupPairsLshAuto(
          Similarity.plantNearDups(t(s, dir, "embeddings"), 50), 0.7)
        .orderBy("vec_a", "vec_b")),

    // ── the FULL pretraining pipe: q73 (gates → corpus length gate →
    // PII scrub → capped dedup → hash split) continued through the
    // two stages a real run adds — temperature resampling of the
    // train split (q75's corpus-derived (n_min/n)^0.5 rates, computed
    // over the POST-dedup train corpus: the mixture is a property of
    // what survives curation, not of the crawl) and concat-and-chunk
    // sequence packing (q49's two-level prefix sum over the SCRUBBED
    // text). One query so the cross-stage plan is itself under the
    // hash-check regime: the mix is a tiny lang agg + broadcast
    // thresholds (a pushed per-row predicate — the corpus never
    // shuffles for it), and the pack's bucket window shuffles only
    // (doc_id, n_tokens, lang, rate_ppm) rows — the text is projected
    // away first, and lang/rate_ppm ride as keepCols instead of a
    // second join-back shuffle. Every stage deterministic; the oracle
    // replays all seven in sequence — exact on any dataset, no pins.
    Q("q77_pretraining_pipeline", "pipeline:pretraining-e2e",
      pretrainOracle,
      (s, dir) => {
        val docs = docsF(s, dir).select("doc_id", "text", "lang")
        val gated = docs.filter(TextAnalysis.qualityKeep(col("text")))
        val sized = TextAnalysis.lengthGateRetained(gated)
          .filter(col("keep"))
        // scrubbed corpus cached: the dedup pipeline re-scans it and
        // the post-dedup join re-reads it (same discipline as q73)
        val clean = sized.select(col("doc_id"),
          TextAnalysis.scrubText(col("text")).as("text"), col("lang"))
          .transform(Checkpoints.cache)
        val cl = Dedup.dupClusters(clean, 0.8, bucketCap = Some(16))
        // the surviving train corpus is read FOUR times downstream
        // (the mix's count agg, its threshold-join probe side, the
        // pack's bucket window, its bases agg) — cached, those are
        // four scans of a small frame instead of four re-evaluations
        // of the kept-roots join
        val train = Sampling.withSplit(
            cl.filter(col("keep")).select("doc_id").join(clean, Seq("doc_id")))
          .filter(col("split") === "train")
          .select("doc_id", "text", "lang")
          .transform(Checkpoints.cache)
        Packing
          .packChunks(Sampling.withMix(train), 512L,
            keepCols = Seq("lang", "rate_ppm"))
          .orderBy("doc_id")
      }),

    // ── the broadcast-join IVF assignment UNDER the hash check: q74
    // dispatches to the literal-kernel branch at bench k, so the join
    // path (assignViaJoin + NearestCellsChunkExpr — the 100-TB form,
    // where centroids never touch the driver) was proven only by
    // IvfAssignJoinSpec equality, never by a CORRECTNESS row. Here the
    // SAME lowest-k quantizer as q74 is supplied AS a DataFrame
    // (sampleQuantizerDf — a TakeOrderedAndProject, nothing collected;
    // the hash-gated sampleCentroidsDf can't be oracle-replayed since
    // DuckDB lacks xxhash64) and the join branch is forced, with
    // chunkSize=16 so the per-chunk top-nProbe MERGE runs for real
    // (~5 chunks at sf0.01's k≈80, one chunk would bypass it). Pair
    // results are invariant under the cid relabeling (vec_id vs dense
    // rank — both orders agree), so q74's replay SQL carries over
    // verbatim: same oracle, two Spark plans, one truth.
    // QueriesSpec asserts the executed plan contains the
    // BroadcastNestedLoopJoin chunk join.
    Q("q78_ivf_join_pairs", "pipeline:dedup-embedding-ivf-join",
      ivfPairsOracle(0.7, nProbe = 2, cellSize = 64,
        planted = Some(50)),
      (s, dir) => {
        val planted = Similarity.plantNearDups(t(s, dir, "embeddings"), 50)
        val (cents, k) = IvfIndex.sampleQuantizerDf(planted, 64)
        IvfIndex.nearDupPairsViaJoin(planted, 0.7, cents, nProbe = 2,
            chunkSize = 16, kEstimate = Some(k))
          .orderBy("vec_a", "vec_b")
      }),

    // ── incremental cell-partitioned re-dedup: the 100-TB workflow the
    // IVF scaladocs promise — history's (cell, vec_id, v, nrm) index
    // PERSISTED bucketed by cell (TableStore.writeBucketed, the q57
    // machinery), a delta batch assigned via the broadcast-chunk join
    // against the SAME pinned centroids (trained on history — the
    // train-once/add-many contract), the index pruned to the cells the
    // delta touches, and pairs kept only where >= 1 side is delta —
    // the IVF analogue of q44's bloom-prefiltered incremental dedup.
    // The split is q44's mod-3; centroids derive from history ONLY, so
    // the oracle replays the whole workflow (quantizer LIMIT subquery
    // over history, distance join over everything, delta-side filter)
    // with no pins. On the same centroids this equals the full
    // re-dedup filtered to delta-involving pairs, row-for-row
    // (IvfIncrementalSpec) — the correctness claim that makes the
    // pruning safe.
    Q("q79_ivf_incremental_pairs", "pipeline:dedup-embedding-ivf-incr",
      ivfIncrementalOracle(0.7, nProbe = 2, cellSize = 64,
        planted = Some(50)),
      (s, dir) => {
        val planted = Similarity.plantNearDups(t(s, dir, "embeddings"), 50)
        val hist = planted.filter(col("vec_id") % 3 =!= 2)
        val delta = planted.filter(col("vec_id") % 3 === 2)
        val (cents, k) = IvfIndex.sampleQuantizerDf(hist, 64)
        val wh = scratchWh(dir)
        // default chunkSize (one chunk at bench k): q78 already pins
        // the multi-chunk merge under the hash gate; fragmenting BOTH
        // of this query's assignments 4-ways only multiplied merge
        // rows (measured 5.1 -> see PLANS.md)
        val idx = IvfIndex.buildCellIndex(hist, cents, wh, "q79_cells", 8,
          nProbe = 2, kEstimate = Some(k))
        IvfIndex.incrementalNearDupPairs(s.table(idx), delta, 0.7, cents,
            nProbe = 2, kEstimate = Some(k))
          .orderBy("vec_a", "vec_b")
      }),

    // ── the train-once/ADD-MANY lifecycle under the hash check: q79
    // proves one delta batch against a built index; here a SECOND
    // batch arrives after the first was ABSORBED (absorbIntoCellIndex
    // — an append of per-bucket files into the bucketed table, never
    // a history rewrite), so the output must include the b1-vs-b2
    // CROSS-BATCH pairs that skipping absorption would silently lose.
    // Centroids pin to the ORIGINAL history (vec_id % 3 = 0) and
    // never move as batches join — the standing faiss-style contract.
    // The oracle needs no absorb notion: assignment is per-vector, so
    // the absorbed index equals "assign everything non-delta with the
    // pinned centroids" — only the quantizer's source CTE changes vs
    // q79. IvfIncrementalSpec additionally asserts the FILES: every
    // pre-absorb parquet survives the append verbatim.
    Q("q80_ivf_absorb_pairs", "pipeline:dedup-embedding-ivf-absorb",
      ivfIncrementalOracle(0.7, nProbe = 2, cellSize = 64,
        planted = Some(50), histPred = "vec_id % 3 = 0"),
      (s, dir) => {
        val planted = Similarity.plantNearDups(t(s, dir, "embeddings"), 50)
        val h0 = planted.filter(col("vec_id") % 3 === 0)
        val b1 = planted.filter(col("vec_id") % 3 === 1)
        val b2 = planted.filter(col("vec_id") % 3 === 2)
        val (cents, k) = IvfIndex.sampleQuantizerDf(h0, 64)
        val wh = scratchWh(dir)
        val idx = IvfIndex.buildCellIndex(h0, cents, wh, "q80_cells", 8,
          nProbe = 2, kEstimate = Some(k))
        IvfIndex.absorbIntoCellIndex(idx, b1, cents, nProbe = 2,
          kEstimate = Some(k))
        IvfIndex.incrementalNearDupPairs(s.table(idx), b2, 0.7, cents,
            nProbe = 2, kEstimate = Some(k))
          .orderBy("vec_a", "vec_b")
      }),

    // ── the IVF cell-size LAW under the hash check (the q76
    // precedent, applied to clustering): q74/q78-q80 pin cellSize=64
    // for stable regression rows; nearDupPairsClustered with NO
    // explicit size — the form a library user should call — derives
    // c* = round(√n / nProbe) from one count() (the balanced-n^1.5
    // flat-IVF law, IvfCellConfigSpec). Registered so the DERIVATION
    // is oracle-checked: the SQL recomputes n over the same
    // nonzero-norm base and replays round(√n/2) as floor(x + 0.5) —
    // exactly Scala's math.round on the non-negative x here, with
    // sqrt/divide correctly-rounded IEEE ops in both engines. No
    // pinned config anywhere: grow the corpus and both sides rederive
    // the same quantizer.
    Q("q81_ivf_auto_pairs", "pipeline:dedup-embedding-ivf-auto",
      ivfPairsOracleWithCell(0.7, nProbe = 2,
        "greatest(1, floor(sqrt(count(*)) / 2 + 0.5))",
        planted = Some(50)),
      (s, dir) => IvfIndex.nearDupPairsClustered(
          Similarity.plantNearDups(t(s, dir, "embeddings"), 50), 0.7,
          nProbe = 2)
        .orderBy("vec_a", "vec_b")),

    // ── distributed Lloyd refinement under the hash check: the
    // training step the sample quantizer skips, runnable at k past
    // driver scale (assignment via the broadcast-chunk join, means as
    // fixed-point-exact integer sums — a float mean is partial-
    // aggregation-ORDER-dependent and could never be hash-compared;
    // floor(x·2^20 + 0.5) summed as longs is order-independent and
    // bit-deterministic in any IEEE engine, see lloydCellStats
    // scaladoc). Output is the per-(cell, dim) sufficient statistics
    // of the Lloyd update — exactly what refineCentroidsDf divides
    // into means — so the hash row pins assignment AND update. The
    // oracle rederives the quantizer (LIMIT subquery, the q74
    // pattern), replays the argmin with the same fold/tie-break, and
    // re-sums the same quantized longs; no pinned config. DuckDB's
    // sum(BIGINT) widens to HUGEINT — cast back.
    Q("q82_ivf_lloyd_stats", "pipeline:ivf-lloyd-refine",
      lloydStatsOracle(cellSize = 64, scaleBits = 20),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (cents, k) = IvfIndex.sampleQuantizerDf(e, 64)
        IvfIndex.lloydCellStats(e, cents, chunkSize = 16,
            kEstimate = Some(k), scaleBits = 20)
          .orderBy("cell", "pos")
      }),

    // ── the Lloyd loop CLOSED: a 3-iteration distributed train whose
    // whole trajectory — every sweep's assignment and integer
    // sufficient statistics, plus the exact-division mean updates
    // between them — replays as chained static CTEs. q82 gates one
    // sweep; this gates the iteration itself (update feeding the next
    // assignment, empty-cell retention included). The convergence-
    // stopped form (refineCentroidsConverged — iterate until the
    // integer stats repeat exactly) is the training entry point and
    // is spec-pinned; a static CTE chain needs a static depth.
    Q("q102_lloyd_train", "pipeline:ivf-lloyd-train",
      lloydTrainOracle(cellSize = 64, scaleBits = 20, iters = 3),
      (s, dir) => IvfIndex.lloydTrainStats(t(s, dir, "embeddings"),
        targetCellSize = 64, iters = 3, chunkSize = 16)),

    // ── deterministic epoch shuffle + sharding: what a trainer
    // actually reads — q49's packed chunks, permuted by the
    // epoch-salted h60 and dealt into shard files with dense in-shard
    // positions. No ORDER BY rand() (a sampling pass + global sort,
    // unstable under retries): one hash exchange + per-shard local
    // sorts, bit-stable, and a different epoch re-permutes. The
    // oracle replays packing (q49's CTEs), the distinct chunk set,
    // the same md5-derived hash, and the (h, chunk_id) in-shard
    // order.
    Q("q83_epoch_shards", "pipeline:epoch-shuffle",
      epochShardsOracle(contextLen = 512, nShards = 8, epoch = 1),
      (s, dir) => Sharding.epochShards(
          Packing.packChunks(t(s, dir, "documents"), 512L)
            .select("chunk_id").distinct(),
          nShards = 8, epoch = 1)
        .orderBy("shard", "shard_pos")),

    // ── product quantization: the compression layer of billion-scale
    // ANN (Jégou et al. 2011, the FAISS IndexPQ/IndexIVFPQ layout).
    // Codebooks are the ksub lowest-vec_id sample vectors sliced per
    // subspace — constant-size (d·ksub doubles) at ANY corpus scale,
    // so unlike the IVF quantizer they replay as a LIMIT subquery AND
    // may live in the plan. q84 hash-checks the encode itself (every
    // packed code an exact integer), q85 the ADC top-k (per-subspace
    // LUT distances folded in ascending-j order, floor-scaled before
    // the tie-broken rank), q86 the recall of the 64x-compressed scan
    // against the exact squared-L2 top-k — the honesty row.
    Q("q84_pq_codes", "pipeline:pq-encode",
      pqCodesOracle(PqDefault),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cb = Pq.sampleCodebooks(e, PqDefault)
        Pq.encode(e, cb, PqDefault.bitsPerCode).orderBy("vec_id")
      }),

    Q("q85_pq_adc_topk", "pipeline:pq-adc-ann",
      pqAdcTopKOracle(PqDefault, nQ = 20, k = 5),
      (s, dir) => Pq.adcTopK(t(s, dir, "embeddings"), PqDefault,
        nQueries = 20, k = 5)),

    Q("q86_pq_adc_recall", "pipeline:pq-adc-recall",
      pqAdcRecallOracle(PqDefault, nQ = 20, k = 5),
      (s, dir) => Pq.adcRecall(t(s, dir, "embeddings"), PqDefault,
        nQueries = 20, k = 5)),

    // ── the production two-stage form: ADC shortlist (compressed
    // scan, m adds/vector) → exact rerank of the nQ·R finalists only
    // (broadcast semi-join fetch of their full vectors — the Spark
    // form of a serving system's point lookup). Recall@k is governed
    // by the cheap shortlist depth R, not raw code fidelity: on the
    // uniform test embeddings (PQ's adversarial case — no cluster
    // structure for the codes to exploit) ADC-only recall@5 is 20/100
    // at sf0.1 while the R=50 rerank (a 2.5% scan) triples it to
    // 60/100 — q88 prices exactly that trade.
    Q("q87_pq_rerank_topk", "pipeline:pq-rerank-ann",
      pqRerankTopKOracle(PqDefault, nQ = 20, k = 5, shortlist = 50),
      (s, dir) => Pq.adcRerankTopK(t(s, dir, "embeddings"), PqDefault,
        nQueries = 20, k = 5, shortlist = 50)),

    Q("q88_pq_rerank_recall", "pipeline:pq-rerank-recall",
      pqRerankRecallOracle(PqDefault, nQ = 20, k = 5, shortlist = 50),
      (s, dir) => Pq.adcRerankRecall(t(s, dir, "embeddings"), PqDefault,
        nQueries = 20, k = 5, shortlist = 50)),

    // ── IVF-PQ: the two families composed into the billion-scale
    // serving layout (FAISS IndexIVFPQ). Coarse cells bound WHERE to
    // look (candidates ≈ nProbe·cellSize per query, independent of
    // corpus size — vs q85's full n-row ADC scan), codes bound what
    // looking COSTS (m adds against 7-byte payloads), the rerank
    // restores precision. Placement runs through the broadcast-chunk
    // assignment join (q78's past-driver-scale path) at nProbe=1;
    // queries probe nProbe cells; the query side (probes + LUTs) is
    // broadcast so candidate generation never shuffles the corpus.
    // q90 folds BOTH loss sources — cell probing and code fidelity —
    // into one hash-checked recall.
    Q("q89_ivfpq_topk", "pipeline:ivfpq-ann",
      ivfPqTopKOracle(PqDefault, cellSize = 64, nProbe = 4,
        nQ = 20, k = 5, shortlist = 50),
      (s, dir) => Pq.ivfPqTopK(t(s, dir, "embeddings"), PqDefault,
        cellSize = 64, nProbe = 4, nQueries = 20, k = 5, shortlist = 50)),

    Q("q90_ivfpq_recall", "pipeline:ivfpq-recall",
      ivfPqRecallOracle(PqDefault, cellSize = 64, nProbe = 4,
        nQ = 20, k = 5, shortlist = 50),
      (s, dir) => Pq.ivfPqRecall(t(s, dir, "embeddings"), PqDefault,
        cellSize = 64, nProbe = 4, nQueries = 20, k = 5, shortlist = 50)),

    // ── the IVF-PQ serving DEFAULT: cell size derived from the
    // corpus by the √n/nProbe law (ivfCellConfig — the same balance
    // q81 gates for the dedup path), so assignment (n²/c) and rerank
    // (n·c·p²) both grow as n^1.5·p at any corpus size instead of a
    // pinned c=64 going n²/64 at 1e9 vectors. One corpus count feeds
    // the law AND the centroid cut; the oracle rederives c from its
    // own count, so the sizing law itself is hash-checked. q89/q90
    // keep the pinned c=64 as stable regression rows.
    Q("q101_ivfpq_auto_recall", "pipeline:ivfpq-auto-recall",
      ivfPqRecallAutoOracle(PqDefault, nProbe = 4, nQ = 20, k = 5,
        shortlist = 50),
      (s, dir) => Pq.ivfPqRecallAuto(t(s, dir, "embeddings"), PqDefault,
        nProbe = 4, nQueries = 20, k = 5, shortlist = 50)),

    // ── CCNet-style reference-overlap quality scoring: grade every
    // document by its distinct-trigram overlap with a designated
    // reference slice's vocabulary (trigrams in >= minDf distinct
    // reference docs), head/middle/tail buckets at fixed thresholds.
    // The reference vocabulary aggregates over the SLICE only and
    // broadcasts; the corpus-side shingle stream joins it map-side —
    // the one exchange is the per-doc count agg on narrow rows.
    Q("q91_reference_overlap", "pipeline:reference-quality",
      referenceOverlapOracle(refSource = "src0", minDf = 2),
      (s, dir) => TextAnalysis.referenceOverlapScore(
        docsF(s, dir), refSource = "src0", minDf = 2)
        .orderBy("doc_id")),

    // ── the distributed second-moment (Gram) matrix — the input to
    // PCA / whitening / OPQ rotation: a typed Aggregator folds the
    // d·(d+1)/2 upper triangle as FIXED-POINT longs per partition
    // (order-independent, so hash-stable at any parallelism — the q82
    // discipline) and the one exchange carries partitions·2080 longs
    // at d=64, corpus size nowhere. The eigensolver stage stays a
    // driver-side constant-size artifact (CovarianceSpec pins it).
    Q("q98_gram_matrix", "pipeline:embedding-gram",
      gramMatrixOracle(scaleBits = 20),
      (s, dir) => Covariance.gramFixedPoint(t(s, dir, "embeddings"),
        dim = 64, scaleBits = 20)),

    // ── the OPQ rotation under the hash gate: the Spark side LEARNS
    // R through the real distributed path (gramFixedPoint +
    // meanFixedPoint + Jacobi + eigenvalue allocation) over the
    // deterministic anisotropic fixture corpus, applies it with
    // MatVecExpr, and reruns the full PQ pipeline in rotated space;
    // the oracle embeds R from the plain-Scala fixed-point twin as
    // 64x64 literals (bit-identical by the integer-sum discipline —
    // any divergence in the distributed Gram/mean fold breaks this
    // hash) and replays the rotation as literal mat-vec. Rotated and
    // unrotated ADC hits against the same exact baseline ride as
    // hash-checked columns; the recall>=unrotated LIFT claim lives in
    // CovarianceSpec on the anisotropic corpus, where rotation has
    // variance to balance (the driver's embeddings are uniform).
    Q("q99_pq_rotated_recall", "pipeline:pq-opq-recall",
      pqRotRecallOracle(PqDefault, nQ = 20, k = 5),
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val fixture = opqFixture.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
          .toDF("vec_id", "embedding")
        val r = Covariance.pcaRotationRR(fixture, m = PqDefault.m)
        Pq.adcRecallRotated(t(s, dir, "embeddings"), PqDefault, r,
          nQueries = 20, k = 5)
      }),

    // ── RAG-corpus chunking: overlapping sliding token windows
    // (width 32, stride 16 — 50% overlap), document boundaries never
    // crossed, (doc_id, chunk_idx) a stable retrievable address.
    // Map-only: window lists built per row and exploded, no shuffle
    // at any corpus size — the complement of q49's boundary-crossing
    // concat-and-chunk.
    Q("q97_sliding_chunks", "pipeline:rag-chunking",
      slidingChunksOracle(width = 32, stride = 16),
      (s, dir) => Packing.slidingWindows(docsF(s, dir), width = 32,
        stride = 16).orderBy("doc_id", "chunk_idx")),

    // ── the SemDeDup keep policy, paper-faithful: within each
    // near-dup cluster keep the member CLOSEST TO THE CENTROID (the
    // least-noisy representative), not the lowest id. The centroid
    // mean is fixed-point-exact (q82's integer-sum trick — a float
    // mean would be partial-aggregation-order-dependent and could
    // never hash-match), distances the sequential-fold
    // ⟨v,v⟩−2⟨v,c⟩+⟨c,c⟩ form, rank tie-broken on (d, vec_id).
    Q("q96_semdedup_keep", "pipeline:dedup-embedding-semdedup",
      semDedupKeepOracle(minSim = 0.4, scaleBits = 20),
      (s, dir) => Similarity.semDedupKeep(t(s, dir, "embeddings"), 0.4)
        .orderBy("vec_id")),

    // ── the CCNet OUTPUT stage: bucket-rated resampling of the
    // reference-scored corpus — keep the head, halve the middle, keep
    // 10% of the tail. Acceptance is the family's salted-hash per-row
    // predicate (zero shuffles; the rate is a literal when-chain, not
    // a join), so the whole scored-then-thinned pipe adds nothing to
    // q91's plan but a pushed filter.
    Q("q95_reference_sample", "pipeline:reference-sample",
      referenceSampleOracle(refSource = "src0", minDf = 2,
        headPpm = 1000000L, middlePpm = 500000L, tailPpm = 100000L),
      (s, dir) => Sampling.bucketSample(
          TextAnalysis.referenceOverlapScore(docsF(s, dir), "src0", 2),
          "bucket", Map("head" -> 1000000L, "middle" -> 500000L,
            "tail" -> 100000L))
        .select("doc_id", "score_x1000", "bucket", "rate_ppm")
        .orderBy("doc_id")),

    // ── the IVF-PQ index PERSISTED and served (q78's "same truth,
    // second plan" pattern): the (cell, vec_id, pq_code) placement is
    // written bucketed-by-cell — the ~36x-smaller artifact a search
    // tier memory-maps — and the query runs against the table: index
    // scan + broadcast probe join + ADC + rerank, no encode and no
    // placement assignment at query time. Same oracle SQL as q89,
    // because the index IS q89's intermediate, materialized.
    Q("q94_ivfpq_indexed", "pipeline:ivfpq-indexed",
      ivfPqTopKOracle(PqDefault, cellSize = 64, nProbe = 4,
        nQ = 20, k = 5, shortlist = 50),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val wh = scratchWh(dir)
        val idx = Pq.buildIvfPqIndex(e, PqDefault, cellSize = 64,
          wh, "q94_pqcells", nBuckets = 8)
        Pq.ivfPqTopKFromIndex(s.table(idx), e, PqDefault, cellSize = 64,
          nProbe = 4, nQueries = 20, k = 5, shortlist = 50)
      }),

    // ── distributed BPE merge training (tokenizer training): after
    // ONE corpus pass collapses to {word -> count}, every merge step
    // works the cached vocabulary only — pair-explode + sum agg +
    // distributed TakeOrdered(1); the driver holds one (pair, count)
    // row per step, which is the merge list a real trainer keeps
    // anyway. The oracle unrolls the same six steps as CTE stages.
    Q("q92_bpe_merges", "pipeline:bpe-train",
      bpeMergesOracle(steps = 6),
      (s, dir) => Bpe.trainMerges(docsF(s, dir), steps = 6)
        .orderBy("step")),

    // ── the tokenizer APPLIED: per-doc subword counts under the
    // 6-merge vocabulary q92 just learned — train → tokenize closed
    // end-to-end, data-derived on both sides (the oracle re-learns
    // the merges in its own CTE stages, then applies them to the
    // vocabulary and joins the per-word subword counts back to the
    // corpus word stream). Two exchanges at any corpus size: the
    // vocab groupBy and the per-doc sum.
    Q("q93_bpe_subwords", "pipeline:bpe-tokenize",
      bpeSubwordsOracle(steps = 6),
      (s, dir) => {
        val d = docsF(s, dir)
        val merges = Bpe.trainMerges(d, steps = 6)
          .orderBy("step").collect().map(_.getString(1)).toSeq
        Bpe.subwordCounts(d, merges).orderBy("doc_id")
      }),

    // ── batched BPE training: up to `batch` pairwise-disjoint merges
    // per distributed round — the step-count refinement that makes a
    // 30k-merge vocabulary trainable (strict training pays ~1.5 s of
    // scheduler overhead PER merge; batching divides the round count
    // by ~batch). 8 steps in 3-merge rounds = 3 rounds instead of 8.
    // The oracle replays the fixed round schedule, the bounded
    // top-pool candidate ranking, the greedy symbol-disjoint
    // selection walk, and the in-rank-order scan rewrites — all as
    // static CTEs, so the hash gate pins batching end to end.
    // candPool is passed EXPLICITLY (not left to the 8·batch driver
    // default) so the Spark side and the oracle's hardcoded pool stay
    // coupled at the call site — a future default change cannot
    // silently desynchronize them until the hash gate trips.
    Q("q100_bpe_batched", "pipeline:bpe-train-batched",
      bpeBatchedOracle(steps = 8, batch = 3, pool = 24),
      (s, dir) => Bpe.trainMergesBatched(docsF(s, dir), steps = 8,
        batch = 3, candPool = 24).orderBy("step")),

    // ── the streaming family under the hash gate: a REAL
    // Trigger.AvailableNow drain — file source → foreachBatch with
    // checkpointed offsets → idempotent dynamic-overwrite sink — is a
    // terminating batch job, so the drained history table itself can
    // meet the oracle (until now streaming was the one family proven
    // by spec alone). The corpus carries no exact duplicates, so the
    // query PLANTS them deterministically: clone family +1000000
    // lands one batch LATER than its source (10^6 ≡ 1 mod 3),
    // exercising the cross-batch history probe in both directions (a
    // batch-2 source loses to its own batch-0 clone), and family
    // +3000000 (≡ 0 mod 3) lands in the SAME batch, exercising
    // within-batch keep-first. Three waves are written and drained
    // as three micro-batches of ONE drain ([[WaveHarness]]), so wave
    // ↔ batch_id is pinned. The oracle replays the survivor law the
    // drain implements: per text, argmin
    // (batch_id, doc_id); null texts equal nothing and all pass.
    // Byte-identical REPLAY idempotence (the failure-recovery leg the
    // oracle can't see) stays spec'd in StreamingDedupSpec.
    Q("q103_streaming_dedup_drain", "pipeline:streaming-dedup-drain",
      streamingDrainOracle,
      (s, dir) => {
        val root = freshRoot(dir, "q103")
        val src = s"$root/src"
        val wh = s"$root/wh"
        // the planted corpus in ONE scan: offset 0 always, +1e6 where
        // doc_id % 10 = 0, +3e6 where doc_id % 10 = 5; uncached, so
        // each wave write below scans documents itself
        val aug = t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            explode(array(lit(0L), lit(1000000L), lit(3000000L))).as("off"))
          .filter(col("off") === 0L ||
            (col("off") === 1000000L && col("doc_id") % 10 === 0) ||
            (col("off") === 3000000L && col("doc_id") % 10 === 5))
          .select((col("doc_id") + col("off")).as("doc_id"), col("text"))
        // three mtime-ordered wave files, one drain, three batches
        (0 until 3).foreach { b =>
          WaveHarness.writeWave(aug.filter(col("doc_id") % 3 === b),
            src, b)
        }
        WaveHarness.drain(s, WaveHarness.waveStream(s, src, aug.schema)
          .writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
            StreamingDedup.processBatch(b, id, wh, "q103_history")
          }, s"$root/ckpt")
        TableStore.read(s, wh, "q103_history")
          .select(col("doc_id").cast("long").as("doc_id"),
            col("batch_id").cast("long").as("batch_id"))
          .orderBy("doc_id")
      }),

    // ── OPQ composed into the serving path: q99 gates the rotation
    // on the flat ADC scan; this runs rotate → place → ADC → rerank
    // as ONE auto-sized IVF-PQ pipeline ([[Pq.ivfPqTopKAuto]]'s
    // rotation parameter) and prices it against the unrotated serving
    // default at equal candidate budgets, both against the unrotated
    // exact top-k. R is LEARNED on the Spark side through the real
    // distributed Gram/Jacobi path over the anisotropic fixture and
    // pinned into the oracle as literals by the bit-identical
    // plain-Scala twin (the q45/q99 pinned-literal pattern). On the
    // driver's UNIFORM embeddings rotation has no variance to
    // balance, so rot_hits ≈ ivfpq_hits is the honest expectation
    // here; the recall LIFT on anisotropic data lives in
    // CovarianceSpec, where the fixture corpus itself is served.
    Q("q104_ivfpq_rotated_serve", "pipeline:ivfpq-opq-serve",
      ivfPqRotRecallOracle(PqDefault, nProbe = 4, nQ = 20, k = 5,
        shortlist = 50),
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val fixture = opqFixture.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
          .toDF("vec_id", "embedding")
        val r = Covariance.pcaRotationRR(fixture, m = PqDefault.m)
        Pq.ivfPqRecallAutoRotated(t(s, dir, "embeddings"), PqDefault, r,
          nProbe = 4, nQueries = 20, k = 5, shortlist = 50)
      }),

    // ── the flatMapGroupsWithState surface under the hash gate: q103
    // gated the stateless file-dedup drain; this drains the CUSTOM-
    // STATE operator (gap sessionization, the one shape windowed aggs
    // can't express) and hands the drained table to the oracle. The
    // events table arrives as two strict chronological time-range
    // waves, each its own micro-batch of one drain, so cross-batch
    // state is genuinely exercised: a session spanning two waves is
    // emitted once, by the wave whose event closed it.
    // Open sessions at end-of-stream are flushed by a per-user
    // sentinel event one day beyond the last — the sentinel closes
    // the real session and ITSELF stays open in the state store
    // (append mode never emits it), so the drained set needs no
    // filtering. Oracle = q41's batch gaps-and-islands law in micros:
    // with chronological waves and within-batch (ts, event_id) sort,
    // streaming-vs-batch semantics provably coincide (the full-table
    // equality is also spec'd in StreamingParitySpec at sf0.1). The
    // sink is the same idempotent dynamic-overwrite-by-batch_id
    // contract as q103's.
    Q("q105_streaming_sessionize_drain", "pipeline:streaming-sessionize",
      streamingSessionizeOracle,
      (s, dir) => sessionizeDrain(s, dir, "q105", timeout = false)),

    // ── the streaming index-ingest lifecycle under the hash gate,
    // closing the family: q103/q105 gated the dedup and custom-state
    // drains; this gates StreamingVectorIngest's END PRODUCT. The
    // quantizer pins on the corpus sample (the training set a
    // deployment has before ingestion starts — the faiss contract),
    // the bucketed serving index is created EMPTY, and 100% of the
    // corpus arrives through the stream in two waves: encode+place in
    // foreachBatch → replay-idempotent batch_id staging partitions →
    // compaction into the bucketed index → served with q94's exact
    // parameters. Oracle = q89/q94's full IVF-PQ SQL, UNCHANGED —
    // "same truth, third plan": batch pipeline (q89), persisted index
    // (q94), and now the streaming-grown index all hash to one
    // result, which is precisely the grown-index ≡ from-scratch
    // equality StreamingVectorIngestSpec asserts, now driver-checked.
    Q("q106_streaming_index_grow", "pipeline:streaming-ivfpq-ingest",
      ivfPqTopKOracle(PqDefault, cellSize = 64, nProbe = 4,
        nQ = 20, k = 5, shortlist = 50),
      (s, dir) => {
        val root = freshRoot(dir, "q106")
        val src = s"$root/src"
        val wh = s"$root/wh"
        val e = t(s, dir, "embeddings")
        val vecs = e.select(col("vec_id"), col("embedding"))
        val (cents, kCells) = IvfIndex.sampleQuantizerDf(e, targetCellSize = 64)
        val cb = Pq.sampleCodebooks(e, PqDefault)
        // the empty bucketed index: catalog bucket spec first, rows
        // only ever via compaction's per-bucket insertInto appends
        val idx = TableStore.writeBucketed(
          s.range(0).select(col("id").as("cell"), col("id").as("vec_id"),
            col("id").as("pq_code")),
          wh, "q106_pqidx", nBuckets = 8, bucketCols = Seq("cell"))
        Seq(0, 1).foreach { wave =>
          WaveHarness.writeWave(vecs.filter(col("vec_id") % 2 === wave),
            src, wave)
        }
        WaveHarness.drain(s, WaveHarness.waveStream(s, src, vecs.schema)
          .writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
            StreamingVectorIngest.processBatch(b, id, wh, "q106_stage",
              cents, kCells, cb, PqDefault)
          }, s"$root/ckpt")
        StreamingVectorIngest.compact(s, wh, "q106_stage", idx)
        Pq.ivfPqServe(s.table(idx), e, cents, kCells, cb, PqDefault,
            nProbe = 4, nQueries = 20, k = 5, shortlist = 50)
          .orderBy("query_id", "rank")
      }),

    // ── the update-mode aggregation + keyed-replace sink under the
    // hash gate, completing the streaming surface: q103/q105/q106
    // gated the file-dedup drain, the custom-state operator, and the
    // index ingest; this gates [[StreamingBuilders.runIncrementalUpsert]]
    // — the parity layer's incremental builder (S10's streaming twin).
    // The event stream arrives in two waves that OVERLAP on every
    // (year, month, hour) key (an event_id % 2 split), so the second
    // micro-batch re-emits grown totals from streaming state and the
    // sink must REPLACE, not append — the drained table equals the
    // batch q02 heatmap law only if update-mode re-emission and the
    // keyed replace both work across checkpointed batches.
    Q("q107_streaming_heatmap_upsert", "pipeline:streaming-upsert",
      streamingHeatmapOracle,
      (s, dir) => {
        val root = freshRoot(dir, "q107")
        val src = s"$root/src"
        val wh = s"$root/wh"
        val ev = t(s, dir, "events").select(
          col("event_id"), col("ts").as("start_time"),
          date_format(col("ts"), "yyyy").as("year"),
          date_format(col("ts"), "MMM").as("month"))
        Seq(0, 1).foreach { wave =>
          WaveHarness.writeWave(ev.filter(col("event_id") % 2 === wave)
            .drop("event_id"), src, wave)
        }
        val stream = WaveHarness.waveStream(s, src, StructType.fromDDL(
          "start_time timestamp, year string, month string"))
        StreamingBuilders.runIncrementalUpsert(s,
          graft.engine.builders.HeatMap.build(stream), wh, "q107_heatmap",
          Seq("year", "month", "hour"), s"$root/ckpt")
        TableStore.read(s, wh, "q107_heatmap")
          .select(col("year"), col("month"), col("hour").cast("int").as("hour"),
            col("total_count").cast("long").as("total_count"))
          .orderBy("year", "month", "hour")
      }),

    // ── the fifth and last streaming module under the gate: the
    // sentence-granular dedup drain. Two doc_id-ascending waves, so
    // batch order extends (doc_id, pos) order and the drained scrub
    // equals q62's corpus-global first-occurrence law — SAME oracle
    // string as q62 ("same truth, second plan" across the batch/
    // streaming boundary). The streaming side keys on the 8-byte h60
    // history table instead of raw strings; the shared oracle is
    // exactly the collision-freedom claim, hash-checked per run.
    Q("q108_streaming_sentence_dedup", "pipeline:streaming-sentence-dedup",
      sentenceDedupOracle,
      (s, dir) => {
        val root = freshRoot(dir, "q108")
        val src = s"$root/src"
        val wh = s"$root/wh"
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val row = docs.agg(min("doc_id"), max("doc_id")).head()
        val mid = (row.getLong(0) + row.getLong(1)) / 2
        Seq(col("doc_id") <= mid, col("doc_id") > mid).zipWithIndex
          .foreach { case (wave, w) =>
            WaveHarness.writeWave(docs.filter(wave), src, w)
          }
        WaveHarness.drain(s, WaveHarness.waveStream(s, src, docs.schema)
          .writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
            StreamingSentenceDedup.processBatch(b, id, wh)
          }, s"$root/ckpt")
        TableStore.read(s, wh, StreamingSentenceDedup.DocsTable)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("n_sentences").cast("long").as("n_sentences"),
            col("n_kept").cast("long").as("n_kept"), col("dedup_text"))
          .orderBy("doc_id")
      }),

    // ── the EventTimeTimeout surface under the gate: q105 drains the
    // next-event-only closer; this runs the SAME lifecycle through
    // [[graft.streaming.StatefulSessionize.sessionsWithTimeout]] —
    // watermark-driven liveness, the variant whose state store stays
    // bounded when users DEPART (a departed user's last session
    // times out instead of pinning state forever). Same oracle as
    // q105: under chronological waves and zero lateness a timeout
    // only ever closes sessions the next event or sentinel would
    // have closed identically (the watermark after a wave is that
    // wave's max ts, so any later same-user event sits beyond the
    // gap; Spark hands a key its data, not its timeout, when both
    // land in one batch) — the coincidence claim itself is what the
    // hash gate checks.
    Q("q109_streaming_sessionize_timeout", "pipeline:streaming-timeout",
      streamingSessionizeOracle,
      (s, dir) => sessionizeDrain(s, dir, "q109", timeout = true)),

    // ── BM25 lexical retrieval ([[graft.ops.Retrieval]]): targeted
    // corpus selection / decontamination triage — the lexical
    // complement of the embedding top-k. All-integer fixed point
    // (k1 = 6/5, b = 3/4 cleared to rationals), so the oracle
    // replays the ranking bit-for-bit; the only corpus-sized
    // exchange carries pre-filtered query-term hits.
    Q("q110_bm25_topk", "pipeline:retrieval-bm25",
      bm25Oracle(Bm25Terms, k = 25),
      (s, dir) => Retrieval.bm25TopK(docsF(s, dir), Bm25Terms, k = 25)
        .orderBy("rank")),

    // ── collocation mining ([[TextAnalysis.collocations]]): adjacent
    // word pairs ranked by integer lift (PMI's argument without the
    // monotone log) — boilerplate-phrase surfacing / tokenizer vocab
    // seeding. Bigrams via the WordShinglesExpr codegen kernel at
    // n = 2; vocabulary-sized aggregates, broadcast join-backs,
    // TakeOrdered top-k.
    Q("q111_collocation_lift", "pipeline:text-collocations",
      collocationOracle(minCount = 3, k = 50),
      (s, dir) => TextAnalysis.collocations(docsF(s, dir), minCount = 3,
        k = 50).orderBy("rank")),

    // ── Count-Min Sketch ([[graft.ops.Sketches]]): bounded-state
    // token-frequency estimation — the frequency-side complement of
    // q34's HLL cardinality row. depth 4 × width 16 deliberately
    // forces collisions so the gated result exercises collision
    // overestimates AND the CMS no-underestimate invariant (a
    // hash-checked boolean column); the oracle rebuilds the whole
    // salted-h60 grid bit-for-bit.
    Q("q112_cms_estimates", "pipeline:sketch-cms",
      cmsOracle(CmsProbes, depth = 4, width = 16),
      (s, dir) => Sketches.cmsEstimates(docsF(s, dir), CmsProbes,
        depth = 4, width = 16).orderBy("token")),

    // ── heavy hitters via sketch→rescue ([[Sketches.heavyHitters]]):
    // q112's grid driving a CANDIDATE cut over the distinct-token
    // stream (no-underestimate ⇒ zero false negatives, by
    // construction), then one selective exact recount trimming the
    // collision false positives — the full-vocabulary count shuffle
    // never happens. width 64 at sf token counts forces real
    // collision candidates through the rescue, so the trim itself is
    // under the hash. Feeds the q47/q61 stop-shingle/df-cap lists.
    // width 8 over the 31-token test vocabulary guarantees collision
    // candidates at EVERY sf (the low-count tail's estimates inflate
    // past 500 while its exact counts stay under), so the rescue trim
    // itself is exercised and hash-checked: 31 candidates -> 30
    // confirmed at sf0.001/0.01/0.1.
    Q("q134_heavy_hitters", "pipeline:sketch-heavy-hitters",
      heavyHittersOracle(minCount = 500, depth = 4, width = 8),
      (s, dir) => Sketches.heavyHitters(docsF(s, dir), minCount = 500,
        depth = 4, width = 8).orderBy("token")),

    // ── per-cluster TF-IDF labels ([[Retrieval.clusterKeywords]]):
    // q131 lifted from docs to near-dup clusters — after q67's capped
    // clustering says WHICH docs group, this says WHAT each cluster
    // is (top-m pooled-text terms, idf over clusters), the
    // SemDeDup/cluster-triage naming primitive. Composition: q67's
    // capped cluster chain feeds q131's integer tf·idf keyed by root;
    // the oracle chains the SAME capped CTEs into the SAME rational.
    Q("q136_cluster_keywords", "pipeline:retrieval-cluster-labels",
      clusterKeywordsOracle(m = 3),
      (s, dir) => {
        val docs = docsF(s, dir)
        Retrieval.clusterKeywords(docs,
            Dedup.dupClusters(docs, 0.8, bucketCap = Some(16)), m = 3)
          .orderBy("cluster_root", "rank")
      }),

    // ── DELETE from the persisted IVF-PQ index ([[Pq.deleteFromIndex]]
    // / [[Pq.purgeDeletes]]): the verb that completes the vector
    // lifecycle (build q89/q94, absorb q80, compact q106, serve) —
    // Lucene/faiss tombstones: |deletes|-cost marks, serve-side
    // broadcast anti-join between purges, physical drop through the
    // read-by-path atomic rewrite (q128's compactor pattern) at the
    // maintenance window. The gate serves the SAME queries through
    // BOTH states — tombstoned (anti-join live view) and purged
    // (rewritten table) — and both must equal the oracle's
    // delete-filtered chain row-for-row: the purge changed layout,
    // never answers. vec_id % 7 = 3 deletes ~14%, enough to move
    // several top-5 lists vs q89.
    Q("q135_index_delete", "pipeline:ivfpq-delete",
      ivfPqDeleteOracle(PqDefault, cellSize = 64, nProbe = 4,
        nQ = 20, k = 5, shortlist = 50, deletePred = "vec_id % 7 = 3"),
      (s, dir) => {
        val wh = scratchWh(dir)
        val e = t(s, dir, "embeddings")
        Pq.buildIvfPqIndex(e, PqDefault, cellSize = 64, wh,
          "q135_pqidx", nBuckets = 8)
        Pq.deleteFromIndex(wh, "q135_pqidx",
          e.filter(col("vec_id") % 7 === 3).select("vec_id"))
        val (cents, kCells) = IvfIndex.sampleQuantizerDf(e, 64)
        val cb = Pq.sampleCodebooks(e, PqDefault)
        // the tombstoned serve PINS (k·nQ rows, lineage truncated)
        // before the purge swaps the table and clears the tombstones
        // out from under its plan. materialize (cache+count) is NOT
        // enough here: the purge's staged swap DROPs the catalog
        // entry, and DropTable CASCADE-uncaches every cached plan
        // referencing the table — the union then recomputed this
        // serve against post-purge state (observed: FILE_NOT_EXIST
        // on the cleared tombstone file). A pin is a LogicalRDD with
        // no catalog reference, so the drop cannot evict it.
        val tombstoned = Checkpoints.pin(
          Pq.ivfPqServe(
            Pq.liveIndex(s, wh, "q135_pqidx"), e, cents, kCells, cb,
            PqDefault, nProbe = 4, nQueries = 20, k = 5, shortlist = 50)
            .withColumn("phase", lit("tombstoned")))
        val ct = Pq.purgeDeletes(s, wh, "q135_pqidx", nBuckets = 8)
        val purged = Pq.ivfPqServe(s.table(ct), e, cents, kCells, cb,
          PqDefault, nProbe = 4, nQueries = 20, k = 5, shortlist = 50)
          .withColumn("phase", lit("purged"))
        tombstoned.unionByName(purged)
          .select(col("phase"), col("query_id"), col("rank"),
            col("vec_id"), col("l2_x1e6"))
          .orderBy("phase", "query_id", "rank")
      }),

    // ── metadata-FILTERED ANN ([[IvfIndex.filteredTopK]]): the
    // filtered-vector-search problem (Milvus/pgvector/faiss
    // IDSelector) with the production DISPATCH under the hash gate —
    // one selectivity count picks exact pre-filter scan (rare
    // predicates: IVF probing would waste candidates and lose recall)
    // vs IVF probe with the predicate applied inside the probed cells
    // (broad predicates). Two predicates drive BOTH branches through
    // one gated result; the oracle replays the dispatch arithmetic,
    // so an engine disagreement on the branch itself hash-fails.
    Q("q137_filtered_ann", "pipeline:similarity-filtered-ann",
      filteredAnnOracle(Seq(
        ("broad", (z: String) => s"$z.label % 2 = 0"),
        ("rare", (z: String) => s"$z.vec_id % 50 = 7")),
        nQ = 20, k = 5, cellSize = 64, nProbe = 4, thrPermille = 50),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val broad = IvfIndex.filteredTopK(e,
            pmod(col("label"), lit(2)) === 0,
            nQueries = 20, k = 5, cellSize = 64, nProbe = 4)
          .withColumn("pred_id", lit("broad"))
        val rare = IvfIndex.filteredTopK(e,
            pmod(col("vec_id"), lit(50)) === 7,
            nQueries = 20, k = 5, cellSize = 64, nProbe = 4)
          .withColumn("pred_id", lit("rare"))
        broad.unionByName(rare)
          .select(col("pred_id"), col("mode"), col("query_id"),
            col("rank"), col("vec_id"), col("label"), col("sim_x1e6"))
          .orderBy("pred_id", "query_id", "rank")
      }),

    // ── filtered-ANN recall accounting: the q45/q58 twin for q137's
    // post-filter branch — the exact filtered top-k (forced
    // pre-filter) joined against the IVF filtered top-k (forced
    // post-filter), integer hits per query, so the probing loss of
    // filtered serving is a hash-checked number, not a hope. Both
    // forcings are the dispatch law's own ends (1000‰ / 0‰).
    Q("q144_filtered_ann_recall", "pipeline:similarity-filtered-recall",
      filteredAnnRecallOracle((z: String) => s"$z.label % 2 = 0",
        nQ = 20, k = 5, cellSize = 64, nProbe = 4),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val pred = pmod(col("label"), lit(2)) === 0
        val exact = IvfIndex.filteredTopK(e, pred, nQueries = 20, k = 5,
            cellSize = 64, nProbe = 4, preFilterMaxPermille = 1000)
          .select(col("query_id"), col("vec_id"))
        val ann = IvfIndex.filteredTopK(e, pred, nQueries = 20, k = 5,
            cellSize = 64, nProbe = 4, preFilterMaxPermille = 0)
          .select(col("query_id").as("a_qid"), col("vec_id").as("a_vid"))
        exact.join(ann,
            exact("query_id") === ann("a_qid") &&
              exact("vec_id") === ann("a_vid"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("exact_k"), count(col("a_vid")).as("ann_hits"))
          .orderBy("query_id")
      }),

    // ── hybrid retrieval ([[Retrieval.hybridTopK]]): q110's BM25 list
    // and the q25-convention exact cosine list fused by integer
    // Reciprocal Rank Fusion — the Elasticsearch/Vespa "hybrid
    // search" serving shape, composing the two retrieval families
    // this engine already gates into the ranking a user actually
    // serves. Fusion touches only the two bounded rank lists; the
    // oracle chains the shared bm25Ctes fragment with the q25 float
    // conventions and the same 10^6 div (60 + rank) arithmetic.
    Q("q138_hybrid_rrf", "pipeline:retrieval-hybrid",
      hybridOracle(Bm25Terms, qid = 7L, nLex = 20, nVec = 20,
        k = 10, rrfK = 60),
      (s, dir) => Retrieval.hybridTopK(docsF(s, dir),
        t(s, dir, "embeddings"), Bm25Terms, queryVecId = 7L,
        nLex = 20, nVec = 20, k = 10).orderBy("rank")),

    // ── PASSAGE retrieval ([[Retrieval.passageTopK]]): the RAG
    // serving shape — q97's sliding-window chunks ranked by q110's
    // BM25 at passage granularity (passage-level df/avgdl/N, the
    // standard convention), pure composition under a composite
    // passage id decomposed back by exact integer arithmetic.
    Q("q146_passage_retrieval", "pipeline:retrieval-passages",
      passageTopKOracle(Bm25Terms, width = 32, stride = 16,
        k = 20, idSpan = 1000000L),
      (s, dir) => Retrieval.passageTopK(docsF(s, dir), Bm25Terms,
        width = 32, stride = 16, k = 20).orderBy("rank")),

    // ── CURATION CAPSTONE v2 ([[Capstone]]): q77's seven-stage
    // pretraining pipe extended with the three model-based gates a
    // DCLM/FineWeb-shaped run adds — embedding decontamination (q125),
    // the trained-NB consistency gate (q140), Moore–Lewis CE selection
    // with a corpus-MEAN threshold (q141) — then q77's dedup → split →
    // mix → pack tail over the survivors. Ten chained stages, one
    // pin-free oracle; the full design narrative and the waypoint
    // pin-vs-cache lesson live on the [[Capstone]] object.
    Q("q147_curation_capstone", "pipeline:curation-capstone-v2",
      capstoneOracle,
      (s, dir) => Capstone.run(
        docsF(s, dir).select("doc_id", "text", "lang", "source"),
        t(s, dir, "embeddings"))),

    // ── edit-distance near-dup verification ([[Dedup.editVerifiedPairs]]):
    // q61's bucket-capped MinHash candidates verified by BANDED
    // Levenshtein instead of shingle Jaccard — the fuzzy-dedup policy
    // stated in character edits. Spark's thresholded levenshtein runs
    // the O(maxDist·len) band and returns -1 past it; the oracle's
    // unbanded levenshtein() <= maxDist keeps the identical set, so
    // the band's exactness-inside-the-band is itself hash-checked.
    // Candidate false positives (band collisions between unrelated
    // docs) die at the distance filter on both engines.
    Q("q139_edit_verified_pairs", "pipeline:dedup-edit-distance",
      editVerifiedOracle(maxBucket = 16, maxDist = 64),
      (s, dir) => {
        val d = docsF(s, dir)
        Dedup.editVerifiedPairs(d,
            Dedup.minhashCandidatesCapped(d, maxBucket = 16),
            maxDist = 64)
          .orderBy("doc_a", "doc_b")
      }),

    // ── TRAINED NB classifier ([[TextAnalysis.nbLangClassifier]]):
    // the fastText/DCLM-style supervised curation gate — train on the
    // q118 slice convention (doc_id % 10 = 7) against the corpus's
    // lang labels, classify every held-out doc. Integer-bits NB in
    // the family's floor(log2) convention, so model training AND
    // inference replay in the oracle: priors, Laplace-smoothed
    // per-(class, token) bits, unseen-token defaults, argmin with
    // the class-name tie-break — all under the hash.
    Q("q140_nb_classifier", "pipeline:text-nb-classifier",
      nbClassifierOracle(mod = 10, rem = 7),
      (s, dir) => TextAnalysis.nbLangClassifier(docsF(s, dir))
        .orderBy("doc_id")),

    // ── cross-entropy-difference selection
    // ([[TextAnalysis.crossEntropySelect]]): Moore–Lewis 2010 over
    // DSIR-style hashed features — target-slice LM vs whole-corpus LM
    // built in ONE token aggregation (B = 256 buckets, so the LM
    // frame is fixed-size at any corpus), per-doc surprisal
    // difference in the family's integer bits, keep = target-like.
    // B = 256 at the sf vocabularies forces real bucket collisions
    // through the hash gate.
    Q("q141_ce_select", "pipeline:sample-ce-select",
      ceSelectOracle(targetSrc = "src0", buckets = 256,
        thetaX1000 = 0L),
      (s, dir) => TextAnalysis.crossEntropySelect(docsF(s, dir),
          col("source") === "src0", buckets = 256, thetaX1000 = 0L)
        .orderBy("doc_id")),

    // ── text-only near-dup via hashed doc vectors
    // ([[Dedup.textNearDupPairsHashed]]): SimHash's pre-sign bit sums
    // kept as a dense 60-dim random-projection embedding, sign-block
    // pigeonhole as the candidate index, EXACT COSINE over the dense
    // vectors as the verifier — the embedding-dedup pipeline run
    // end-to-end from raw text with no model in the loop, and the
    // on-ramp for corpora without an embedding column. One
    // accumulator pass feeds signature AND vectors; the oracle
    // rebuilds all 60 sums, the signatures, the pigeonhole set, and
    // the integer-exact cosine.
    Q("q142_hashed_text_neardup", "pipeline:dedup-hashed-vectors",
      hashedNearDupOracle(maxHamming = 3, minSimX1e6 = 800000L),
      (s, dir) => Dedup.textNearDupPairsHashed(docsF(s, dir),
          maxHamming = 3, minSimX1e6 = 800000L)
        .orderBy("doc_a", "doc_b")),

    // ── stream-stream interval join ([[graft.streaming.StreamingJoin]]):
    // the one Structured Streaming join class the q103–q109 family
    // doesn't exercise — two live event streams (views, clicks of the
    // events table) joined per user within a 30-minute event-time
    // window, watermarks bounding both state stores; the oracle IS
    // the batch interval join. Wave design: ALL views arrive in
    // batch 1 together with the first-half clicks; second-half
    // clicks arrive in batch 2 ([[WaveHarness.waveStream]] reads each
    // source one file per batch, oldest first). Batch-1 matches
    // exercise the within-batch path; batch-2 matches (78 of 175 at
    // sf0.1 — measured nonzero at every sf) must join VIEW STATE
    // retained across the checkpointed batch boundary, so
    // cross-batch join state is genuinely under the hash. No retained
    // view can be evicted before its batch-2 click: after batch 1 the
    // global watermark is min(view side ≈ maxTs, click side = mid)
    // − delay, and a view matching a batch-2 click has view_ts + W ≥
    // ct ≥ mid > that watermark (the scaladoc's parity argument,
    // specialized).
    Q("q143_streaming_interval_join", "pipeline:streaming-join",
      streamingJoinOracle(windowMin = 30),
      (s, dir) => {
        val root = freshRoot(dir, "q143")
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"))
        val mm = ev.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head()
        val midUs = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("v_user"), col("ts").as("view_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("click_ts"))
        WaveHarness.writeWave(views, s"$root/views", 0)
        WaveHarness.writeWave(
          clicks.filter(unix_micros(col("click_ts")) < midUs),
          s"$root/clicks", 0)
        WaveHarness.writeWave(
          clicks.filter(unix_micros(col("click_ts")) >= midUs),
          s"$root/clicks", 1)
        val joined = StreamingJoin.attributionJoin(
          WaveHarness.waveStream(s, s"$root/views", StructType.fromDDL(
            "view_id bigint, v_user bigint, view_ts timestamp")),
          WaveHarness.waveStream(s, s"$root/clicks", StructType.fromDDL(
            "click_id bigint, c_user bigint, click_ts timestamp")),
          windowMinutes = 30, delayMinutes = 30)
        // the parquet file sink: its transaction log makes a rerun
        // against the same checkpoint idempotent
        WaveHarness.drain(s, joined.writeStream.format("parquet")
          .option("path", s"$root/out").outputMode("append"), s"$root/ckpt")
        s.read.parquet(s"$root/out").orderBy("view_id", "click_id")
      }),

    // ── NATIVE session windows
    // ([[graft.streaming.StreamingBuilders.sessionWindowAgg]]): the
    // Catalyst-built-in session_window operator drained under q105's
    // UNCHANGED oracle — the custom mapGroupsWithState kernel (q105)
    // and the engine-native operator must agree session-for-session.
    // Same harness law: two chronological waves + the common-instant
    // sentinel wave (pushes the watermark past every real session's
    // end so append mode emits them; the sentinel sessions themselves
    // end AFTER the final watermark and are never emitted).
    Q("q145_session_window_native", "pipeline:streaming-session-native",
      streamingSessionizeOracle,
      (s, dir) => sessionWindowDrain(s, dir, "q145")),

    // ── the sessionization SERVING DEFAULT: density-dispatched
    // (round 16). q105 gates the custom flatMapGroupsWithState kernel
    // and q145 the native session_window operator, both under ONE
    // oracle; this entry is what a deployment should actually run —
    // [[graft.streaming.SessionDispatch]]'s measured session-count
    // probe picks native below the 500k-session budget (the engine's
    // own operator, the house preference where it expresses the
    // semantics) and the kernel above it (native's per-batch
    // state-store merge-sort over ALL open sessions goes superlinear
    // on mostly-singleton corpora: 44–63 s vs 14.2 s at 10M events,
    // PLANS "Streaming ladder"). At gate scale the probe picks
    // native, so the kernel branch's gate coverage rides q105 and
    // the row-equality of both branches is spec-pinned
    // (SessionDispatchSpec).
    Q("q148_sessionize_dispatched", "pipeline:streaming-session-dispatch",
      streamingSessionizeOracle,
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id").cast("long").as("user_id"), col("ts"))
        if (graft.streaming.SessionDispatch.chooseNative(ev, 30))
          sessionWindowDrain(s, dir, "q148")
        else sessionizeDrain(s, dir, "q148", timeout = false)
      }),

    // ── cross-source leakage matrix: q22's exact near-dup pair set
    // rolled up by unordered source pair — the report a curation run
    // hands the mixing stage ("how much of src3 is rephrased src0?").
    // The pair set is tiny after dedup machinery, so it BROADCASTS
    // while the corpus-sized 2-column source projection streams
    // through the probes; the rollup aggregates |pairs| rows. Composition,
    // not new machinery: any pair source (q23 LSH, q61 capped, q74
    // IVF) drops in unchanged.
    Q("q113_source_leakage", "pipeline:dedup-source-matrix",
      sourceLeakageOracle,
      (s, dir) => {
        val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), 0.8)
          .select(col("doc_a"), col("doc_b"))
        // the PAIR frame broadcasts (it is the post-dedup small side);
        // the corpus-sized source projection streams through two
        // broadcast-hash probes — never the reverse
        val withA = src.join(broadcast(pairs),
          col("doc_id") === col("doc_a"))
          .select(col("doc_b"), col("source").as("src_a_raw"))
        val withAB = src.join(broadcast(withA),
          col("doc_id") === col("doc_b"))
          .select(col("src_a_raw"), col("source").as("src_b_raw"))
        withAB
          .select(least(col("src_a_raw"), col("src_b_raw")).as("source_a"),
            greatest(col("src_a_raw"), col("src_b_raw")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      }),

    // ── length-bucketed batch assembly ([[Packing.lengthBatchStats]]):
    // trainer batches cut from the global (n_tokens, doc_id) order so
    // pad-to-max waste shrinks, beside the arrival-order baseline —
    // the padding saving is hash-checked IN the result. The global
    // rank is the two-level prefix-sum trick with LENGTH-range
    // buckets (arithmetic, not sampled — deterministic at any
    // parallelism); the oracle ranks with a plain window.
    Q("q114_length_batching", "pipeline:packing-length-batches",
      lengthBatchingOracle(batchSize = 32),
      (s, dir) => Packing.lengthBatchStats(docsF(s, dir), batchSize = 32,
        lenBucket = 16L).orderBy("strategy", "batch_id")),

    // ── unigram-LM surprisal ([[TextAnalysis.unigramSurprisal]]): the
    // perplexity-style quality filter with NO transcendental in any
    // checked value — ⌊log₂(W div c)⌋ = length(bin(x)) − 1, exact on
    // both engines where ln/log2 doubles are not cross-engine
    // guaranteed. Vocabulary broadcast, one corpus-stream join, one
    // (doc_id) aggregation — the q91 exchange shape.
    Q("q115_unigram_surprisal", "pipeline:text-lm-surprisal",
      unigramSurprisalOracle,
      (s, dir) => TextAnalysis.unigramSurprisal(docsF(s, dir))
        .orderBy("doc_id")),

    // ── normalization-invariant exact dedup ([[Dedup.normalizedGroups]]):
    // q20's hash-groupBy over the CANONICAL key (lowercase,
    // punctuation→space, whitespace collapsed) — the "fuzzy-exact"
    // pass production pipelines run before MinHash; n_variants counts
    // the raw md5-distinct texts each canonical group collapsed (the
    // duplication plain exact dedup misses). Same one-exchange shape
    // as q20; the ASCII character class means the same thing under
    // Java regex and RE2, so the key replays verbatim.
    Q("q116_normalized_dedup", "pipeline:dedup-normalized",
      normalizedDedupOracle,
      (s, dir) => Dedup.normalizedGroups(t(s, dir, "documents"))
        // canon_hash is nullable (the deliberate null-text group);
        // Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST — pin
        // the engines to one order or a null-text corpus hash-diverges
        // purely on row position
        .orderBy(col("canon_hash").asc_nulls_last)),

    // ── per-language CCNet bucketing
    // ([[TextAnalysis.perLangSurprisalGate]]): q115's unigram-LM bits
    // per LANGUAGE, bucketed head/middle/tail against each language's
    // own interpolated [p25, p75] score percentiles (q70's histogram
    // rank math, lang-partitioned; dyadic p so the bound is IEEE-exact
    // on both engines). The real adaptive form of q91's fixed
    // thresholds — and the oracle's quantile_cont must agree with the
    // histogram walk per group.
    Q("q117_perlang_surprisal_gate", "pipeline:text-lm-perlang-gate",
      perLangGateOracle,
      (s, dir) => TextAnalysis.perLangSurprisalGate(docsF(s, dir))
        .orderBy("doc_id")),

    // ── Stupid Backoff bigram scoring ([[TextAnalysis.stupidBackoff]]):
    // the web-scale LM smoothing (Brants et al. 2007) trained on the
    // doc_id % 10 = 7 reference slice and scoring every doc —
    // context-sensitive where q115 is bag-of-words, with the backoff
    // fall-through count riding the result as the coverage
    // diagnostic. All broadcast probes; the per-doc agg is the one
    // corpus-sized exchange.
    Q("q118_stupid_backoff", "pipeline:text-lm-backoff",
      stupidBackoffOracle,
      (s, dir) => TextAnalysis.stupidBackoff(docsF(s, dir))
        .orderBy("doc_id")),

    // ── token-budget domain mixture ([[Sampling.mixtureBudget]]): The
    // Pile's mixing-weights application — the binding source sets the
    // achievable budget B = min(T_s·1000 div w_s), every source thins
    // to its share, unmapped sources surface with rate 0 / keep =
    // false. Weights pinned here and in the oracle from ONE constant
    // ([[MixtureTargets]]); acceptance is the family's salted-hash
    // predicate. One corpus-sized exchange (per-source token agg).
    Q("q119_mixture_budget", "pipeline:sampling-mixture-budget",
      mixtureBudgetOracle,
      (s, dir) => Sampling.mixtureBudget(t(s, dir, "documents"),
        MixtureTargets).orderBy("doc_id")),

    // ── blocklist filter ([[TextAnalysis.blocklistFilter]]): the
    // UT1-blocklist curation stage as ONE Aho–Corasick pass whatever
    // the phrase count (a per-phrase fold is |phrases| scans and an
    // unplannable expression tree at real blocklist sizes — spec-
    // measured at 10k phrases). Per-phrase leftmost-non-overlapping
    // counts over casefolded text sum to exactly the oracle's
    // replace-length arithmetic; the pinned list exercises nested
    // phrases ("fast" inside "fast merge" — dictionary-suffix links)
    // and self-adjacent runs. Pure projection — zero shuffles.
    Q("q120_blocklist_filter", "pipeline:text-blocklist",
      blocklistOracle,
      (s, dir) => TextAnalysis.blocklistFilter(docsF(s, dir),
        BlocklistPhrases).orderBy("doc_id")),

    // ── blocklist scrub ([[TextAnalysis.blocklistScrub]]): the
    // redaction variant — keep the doc, mask the spans. Semantics =
    // the sequential length-preserving replace chain in phrase LIST
    // order, so the ENTIRE scrubbed string replays under the hash as
    // chained CTEs (the Lloyd/BPE pattern); the one-pass automaton
    // resolution's equivalence proof is [[AhoCorasick.scrubRow]]'s
    // scaladoc. The pinned list is deliberately order-adversarial:
    // "fast" BEFORE "fast merge" (the prefix masks first, so the
    // longer phrase can NEVER fire — full shadowing), "hash value"
    // before "value" (suffix shadowed only where nested). Pure
    // projection — zero shuffles.
    Q("q121_blocklist_scrub", "pipeline:text-blocklist",
      blocklistScrubOracle,
      (s, dir) => TextAnalysis.blocklistScrub(docsF(s, dir),
        ScrubPhrases).orderBy("doc_id")),

    // ── BM25 served from a MATERIALIZED inverted index
    // ([[Retrieval.buildPostingsIndex]]/[[bm25TopKFromIndex]]): the
    // lexical analogue of q94's persisted IVF-PQ index — build pays
    // the corpus scans once, the query-time plan is a bucket-pruned
    // `token IN (…)` probe of the postings table plus the broadcast
    // scoring tail. Same oracle SQL as q110, because the index IS
    // q110's tf intermediate (plus the 1-row stats), materialized.
    Q("q122_bm25_indexed", "pipeline:retrieval-bm25-indexed",
      bm25Oracle(Bm25Terms, k = 25),
      (s, dir) => {
        val wh = scratchWh(dir)
        val pt = Retrieval.buildPostingsIndex(docsF(s, dir), wh,
          "q122_postings", nBuckets = 8)
        val stats = s.read.parquet(
          graft.engine.TableStore.tablePath(wh, "q122_postings_stats"))
        Retrieval.bm25TopKFromIndex(s.table(pt), stats, Bm25Terms,
          k = 25).orderBy("rank")
      }),

    // ── postings-index ABSORB ([[Retrieval.absorbIntoPostingsIndex]]):
    // the add-half of the lexical index lifecycle, mirroring q80's
    // vector-side absorb — build on the doc_id%10≠7 slice, absorb the
    // %10=7 delta as per-bucket APPENDED files (history never
    // rewritten; cost = |delta|'s postings at any index size), stats
    // updated exactly from raw totals. Served result from the GROWN
    // index must equal q110's scan over the FULL corpus — same oracle,
    // unchanged.
    Q("q124_postings_absorb", "pipeline:retrieval-bm25-absorb",
      bm25Oracle(Bm25Terms, k = 25),
      (s, dir) => {
        val wh = scratchWh(dir)
        val d = docsF(s, dir)
        val pt = Retrieval.buildPostingsIndex(
          d.filter(col("doc_id") % 10 =!= 7), wh, "q124_postings",
          nBuckets = 8)
        Retrieval.absorbIntoPostingsIndex(pt, wh, "q124_postings",
          d.filter(col("doc_id") % 10 === 7))
        val stats = s.read.parquet(graft.engine.TableStore
          .tablePath(wh, "q124_postings_stats"))
        Retrieval.bm25TopKFromIndex(s.table(pt), stats, Bm25Terms,
          k = 25).orderBy("rank")
      }),

    // ── postings-index COMPACT ([[Retrieval.compactPostingsIndex]]):
    // the maintenance half that makes per-batch absorption
    // sustainable — build on 80%, absorb TWO 10% deltas (each leaving
    // a file set per bucket), compact to one sorted file per bucket
    // via the staged atomic swap, serve. Content is unchanged by
    // construction, so q110's oracle gates the whole lifecycle:
    // build → absorb → absorb → compact → serve ≡ the full-corpus
    // scan.
    Q("q128_postings_compact", "pipeline:retrieval-bm25-compact",
      bm25Oracle(Bm25Terms, k = 25),
      (s, dir) => {
        val wh = scratchWh(dir)
        val d = docsF(s, dir)
        val pt = Retrieval.buildPostingsIndex(
          d.filter(col("doc_id") % 10 < 8), wh, "q128_postings",
          nBuckets = 8)
        Retrieval.absorbIntoPostingsIndex(pt, wh, "q128_postings",
          d.filter(col("doc_id") % 10 === 8))
        Retrieval.absorbIntoPostingsIndex(pt, wh, "q128_postings",
          d.filter(col("doc_id") % 10 === 9))
        val ct = Retrieval.compactPostingsIndex(s, wh, "q128_postings",
          nBuckets = 8)
        val stats = s.read.parquet(graft.engine.TableStore
          .tablePath(wh, "q128_postings_stats"))
        Retrieval.bm25TopKFromIndex(s.table(ct), stats, Bm25Terms,
          k = 25).orderBy("rank")
      }),

    // ── near-dup PageRank ([[Dedup.neardupPageRank]]): centrality
    // within duplicate neighborhoods — canonical-representative
    // selection / boilerplate-hub weighting. The registered pair
    // source is the CAPPED MinHash-LSH form (q61's operator — the
    // shape users run at scale; exact pairs stay gated by q22, and
    // any pair source drops in). Integer fixed point (d = 0.85 ≡
    // 17/20), so the ENTIRE 3-sweep trajectory hash-checks as
    // chained static CTEs (the Lloyd-loop pattern for graphs). The
    // graph is pair-set-sized; every sweep is one edge-sized join +
    // agg — the corpus-sized work is the banded pair derivation.
    Q("q123_neardup_pagerank", "pipeline:dedup-pagerank",
      pageRankOracle(iters = 3, maxBucket = 16),
      (s, dir) => Dedup.neardupPageRank(
        Dedup.minhashDupPairsCapped(t(s, dir, "documents"), 0.8, 16)
          .select(col("doc_a"), col("doc_b")), iters = 3)
        .orderBy("doc_id")),

    // ── embedding-space decontamination
    // ([[Similarity.embeddingContamination]]): the semantic
    // complement of q51's n-gram contamination — for each train-side
    // vector, the max cosine against the held-out vec_id%10=3
    // benchmark slice; keep = below τ = 0.9. The bench side
    // broadcasts (eval-set-sized); the corpus streams once; the one
    // exchange carries one slim pre-aggregated row per vector. Floor
    // is monotone, so the max/flag/count replay exactly on the
    // floor-scaled integers.
    Q("q125_embedding_contamination", "pipeline:similarity-decontam",
      embeddingContaminationOracle(tauX1e6 = 900000L),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.embeddingContamination(
          e.filter(col("vec_id") % 10 =!= 3),
          e.filter(col("vec_id") % 10 === 3),
          tauX1e6 = 900000L).orderBy("vec_id")
      }),

    // ── priority sampling ([[Sampling.prioritySample]]): Duffield/
    // Lund/Thorup weighted sampling WITHOUT replacement by token
    // mass, with the unbiased subset-sum estimator ŵ = max(w, τ)
    // riding in the result — the principled corpus downsampler where
    // q36/q75/q119 thin by RATE. Hash-derived uniforms (salted h60
    // top 30 bits) make it deterministic, growth-stable, and
    // engine-portable; priorities are all-int64 (⌊w·2³⁰/(h30+1)⌋).
    // One projection pass + TakeOrdered(k+1) — zero shuffles.
    Q("q126_priority_sample", "pipeline:sampling-priority",
      prioritySampleOracle(k = 25),
      (s, dir) => Sampling.prioritySample(docsF(s, dir), k = 25)
        .orderBy("rank")),

    // ── leakage-safe split ([[Sampling.leakageSafeSplit]]): q66's
    // hash split keyed by q35's CLUSTER ROOT, so a near-dup cluster
    // never straddles train/test — the split-time fix for the
    // leakage q51/q125 detect after the fact. Same salt as q66, so
    // singletons keep their plain-split assignment and only
    // clustered docs move. Composition: clusters from the q35
    // machinery, the split a pure projection on top.
    Q("q127_leakage_safe_split", "pipeline:sampling-safe-split",
      leakageSafeSplitOracle,
      (s, dir) => Sampling.leakageSafeSplit(
        Dedup.dupClusters(docsF(s, dir), 0.8), 980, 10)
        .orderBy("doc_id")),

    // ── phrase search from a POSITIONAL index
    // ([[Retrieval.buildPositionalIndex]]/[[phraseCountFromIndex]]):
    // the query class positional postings exist for — per doc, the
    // count of positions spelling the phrase (overlapping included,
    // the position-join definition). Build once; the serve plan is
    // one bucket-pruned probe per distinct term + matching-doc-sized
    // position-list joins + a per-row adjacency test. The oracle is
    // the q111-style lockstep-unnest token stream self-joined on
    // ord+1 adjacency.
    Q("q130_phrase_search", "pipeline:retrieval-phrase",
      phraseSearchOracle(PhraseTerms),
      (s, dir) => {
        val wh = scratchWh(dir)
        val pt = Retrieval.buildPositionalIndex(docsF(s, dir), wh,
          "q130_positions", nBuckets = 8)
        Retrieval.phraseCountFromIndex(s.table(pt), PhraseTerms)
          .orderBy("doc_id")
      }),

    // ── BATCHED BM25 serving ([[Retrieval.bm25TopKBatch]]): three
    // probe queries amortized into ONE bucket-pruned index pass —
    // the serving-tier shape. Global df from the probe BEFORE the
    // query fan-out (shared terms must not double-count docs); each
    // per-query ranking ≡ the single-serve path (spec-pinned).
    Q("q132_bm25_batch", "pipeline:retrieval-bm25-batch",
      bm25BatchOracle(BatchQueries, k = 10),
      (s, dir) => {
        val wh = scratchWh(dir)
        val pt = Retrieval.buildPostingsIndex(docsF(s, dir), wh,
          "q132_postings", nBuckets = 8)
        val stats = s.read.parquet(graft.engine.TableStore
          .tablePath(wh, "q132_postings_stats"))
        Retrieval.bm25TopKBatch(s.table(pt), stats, BatchQueries,
          k = 10).orderBy("query_id", "rank")
      }),

    // ── TF-IDF keyword extraction ([[Retrieval.tfidfKeywords]]):
    // top-3 terms per doc by tf·idf — the tagging/cluster-naming
    // primitive, sharing the BM25 family's integer idf rational so
    // ONE convention covers the lexical surface. One corpus-sized
    // (doc, token) exchange, vocabulary-sized df broadcast back,
    // WindowGroupLimit for the per-doc top-m.
    Q("q131_tfidf_keywords", "pipeline:retrieval-tfidf",
      tfidfKeywordsOracle(m = 3),
      (s, dir) => Retrieval.tfidfKeywords(docsF(s, dir), m = 3)
        .orderBy("doc_id", "rank")),

    // ── asymmetric containment dedup ([[Dedup.containmentPairs]]):
    // the quote/subset detector Jaccard structurally misses — a short
    // doc embedded in a long one has containment ≈ 1 while Jaccard
    // shrinks with the long side's size. The corpus carries no organic
    // subset pairs, so the harness PLANTS them deterministically (the
    // q103/q72 pattern): every doc_id % 25 = 0 doc contributes a
    // "quote" clone (+5,000,000 id) of its first max(3, ⌊2n/5⌋)
    // tokens — pure integer arithmetic, and the token join rebuilds
    // byte-identical text on both engines, so the whole derivation
    // replays. All-integer scores ((1000·common) div n) and the
    // cross-multiplied keep predicate ride the hash.
    Q("q133_containment_pairs", "pipeline:dedup-containment",
      containmentOracle(minCx1000 = 800, maxDf = 64),
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val w = graft.ops.Hashing.tokens(col("text"))
        val m = greatest(lit(3L),
          graft.ops.Hashing.idiv(lit(2L) * size(w).cast("long"), lit(5L)))
        val quotes = base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            array_join(slice(w, lit(1), m.cast("int")), " ").as("text"))
        Dedup.containmentPairs(base.unionByName(quotes),
            minCx1000 = 800, maxDf = 64)
          .orderBy("doc_a", "doc_b")
      }),

    // ── scrub → sample composition: the round's new kernels chained
    // the way a curation run uses them — mask the blocklist spans
    // ([[TextAnalysis.blocklistScrub]]), then draw the token-mass
    // priority sample ([[Sampling.prioritySample]]) over the
    // SCRUBBED text (the mass a trainer would actually see). Both
    // stages are pure projections + TakeOrdered, so the composition
    // adds zero exchanges over q126; the oracle chains q121's
    // replace CTEs into q126's integer priority arithmetic.
    Q("q129_scrub_then_sample", "pipeline:text-blocklist-sampling",
      scrubThenSampleOracle(k = 25),
      (s, dir) => Sampling.prioritySample(
        TextAnalysis.blocklistScrub(docsF(s, dir), ScrubPhrases)
          .select(col("doc_id"), col("scrubbed").as("text")),
        k = 25).orderBy("rank")))

  /** q133's oracle: the planted-quote corpus (first max(3, ⌊2n/5⌋)
    * tokens of every doc_id % 25 = 0 doc, id +5,000,000 — integer
    * arithmetic and a single-space token join, so the text replays
    * byte-identically), then the df-capped containment chain: both
    * direction scores as (1000·common) div n, keep when
    * 1000·common ≥ minCx1000·min(n_a, n_b) — common ≤ min(n_a, n_b),
    * so the min side carries the larger containment and testing it
    * tests "either direction". */
  private def containmentOracle(minCx1000: Long, maxDf: Long): String =
    s"""WITH qw AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      |  FROM documents WHERE doc_id % 25 = 0),
      |quotes AS (
      |  SELECT doc_id + 5000000 AS doc_id,
      |    array_to_string(w[1:CAST(greatest(3, (2 * len(w)) // 5) AS BIGINT)],
      |      ' ') AS text
      |  FROM qw),
      |d AS (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id, text FROM quotes),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM d),
      |kept AS MATERIALIZED (
      |  SELECT doc_id, s FROM sh
      |  WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > $maxDf)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, common,
      |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
      |  (1000 * common) // x.n AS cont_ab_x1000,
      |  (1000 * common) // y.n AS cont_ba_x1000
      |FROM pairs JOIN cnt x ON x.doc_id = doc_a
      |JOIN cnt y ON y.doc_id = doc_b
      |WHERE 1000 * common >= $minCx1000 * least(x.n, y.n)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q115's oracle — the same integer bits via length(bin(x)) − 1. */
  private def unigramSurprisalOracle: String =
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM documents),
      |cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS w_total FROM cnt),
      |vocab AS (
      |  SELECT t, CAST(length(bin(w_total // c)) - 1 AS BIGINT) AS bits
      |  FROM cnt CROSS JOIN tot)
      |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(v.bits) AS BIGINT) AS surprisal_bits,
      |  ((1000 * CAST(sum(v.bits) AS BIGINT)) //
      |    greatest(CAST(count(*) AS BIGINT), 1)) AS bits_x1000_per_token
      |FROM tok JOIN vocab v ON v.t = tok.t
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q116's oracle — the canonical key replayed verbatim (the ASCII
    * class is RE2 ≡ Java regex; DuckDB needs the explicit 'g'
    * replace-all flag where Spark replaces all by default). */
  private def normalizedDedupOracle: String =
    """WITH ck AS (
      |  SELECT doc_id, text,
      |    md5(trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS canon_hash
      |  FROM documents)
      |SELECT canon_hash, CAST(count(*) AS BIGINT) AS n_copies,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_variants,
      |  min(doc_id) AS keep_id
      |FROM ck GROUP BY 1 ORDER BY canon_hash""".stripMargin

  /** q117's oracle — the per-lang LM bits, then quantile_cont PER
    * LANG: DuckDB's type-7 interpolation and the Spark side's
    * lang-partitioned histogram walk must produce the same bound
    * (dyadic p = exact on both). */
  private def perLangGateOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
      |  FROM documents),
      |cnt AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS w_total
      |  FROM cnt GROUP BY 1),
      |vocab AS (
      |  SELECT cnt.lang, t,
      |    CAST(length(bin(w_total // c)) - 1 AS BIGINT) AS bits
      |  FROM cnt JOIN tot ON tot.lang = cnt.lang),
      |doc AS (
      |  SELECT tok.doc_id, tok.lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(v.bits) AS BIGINT) AS sb
      |  FROM tok JOIN vocab v ON v.lang = tok.lang AND v.t = tok.t
      |  GROUP BY 1, 2),
      |sc AS (SELECT doc_id, lang, n_tokens,
      |  ((1000 * sb) // greatest(n_tokens, 1)) AS score FROM doc),
      |b AS (SELECT lang, quantile_cont(score, 0.25) AS lo,
      |             quantile_cont(score, 0.75) AS hi FROM sc GROUP BY 1)
      |SELECT doc_id, sc.lang, n_tokens, score AS bits_x1000_per_token,
      |  CASE WHEN score <= lo THEN 'head' WHEN score <= hi THEN 'middle'
      |       ELSE 'tail' END AS bucket,
      |  CAST(floor(lo * 100) AS BIGINT) AS lo_x100,
      |  CAST(floor(hi * 100) AS BIGINT) AS hi_x100
      |FROM sc JOIN b ON b.lang = sc.lang ORDER BY doc_id""".stripMargin

  /** q146's oracle — the q97 chunk derivation feeding the shared BM25
    * chain at passage granularity, composite ids decomposed by the
    * same integer arithmetic. */
  private def passageTopKOracle(terms: Seq[String], width: Int,
                                stride: Int, k: Int,
                                idSpan: Long): String =
    s"""WITH tk AS (
      |  SELECT doc_id,
      |    coalesce(list_filter(
      |      regexp_split_to_array(trim(lower(text)), '\\s+'),
      |      x -> x <> ''), []::VARCHAR[]) AS toks
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, CASE WHEN len(toks) > 0
      |      THEN CAST(floor((len(toks) - 1) / $stride.0) AS BIGINT) + 1
      |      ELSE 0 END)) AS i
      |  FROM tk),
      |passages AS (
      |  SELECT doc_id * $idSpan + i AS doc_id,
      |    array_to_string(list_slice(toks, i * $stride + 1,
      |      least(i * $stride + $width, len(toks))), ' ') AS text
      |  FROM win WHERE least($width, len(toks) - i * $stride) > 0),
      |${bm25Ctes(terms, src = "passages")},
      |top AS (SELECT * FROM doc ORDER BY bm25_x1M DESC, doc_id LIMIT $k)
      |SELECT CAST(row_number() OVER (ORDER BY bm25_x1M DESC, doc_id)
      |    AS BIGINT) AS rank,
      |  doc_id // $idSpan AS doc_id, doc_id % $idSpan AS chunk_idx,
      |  n_terms, bm25_x1M
      |FROM top ORDER BY rank""".stripMargin

  /** q143's oracle — the BATCH interval join the chronological-wave
    * drain provably equals (see [[graft.streaming.StreamingJoin]]'s
    * parity argument); gap in epoch micros, integer-exact. */
  private def streamingJoinOracle(windowMin: Int): String =
    s"""SELECT v.event_id AS view_id, c.event_id AS click_id,
      |  CAST(v.user_id AS BIGINT) AS user_id,
      |  CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
      |FROM events v JOIN events c ON c.user_id = v.user_id
      |WHERE v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL $windowMin MINUTE
      |ORDER BY view_id, click_id""".stripMargin

  /** q142's oracle — the full text-only hashed-vector chain: all 60
    * SimHash bit sums per doc, the sign signature, the n² hamming
    * gate (the oracle needs no pigeonhole — it replays the RESULT the
    * lossless blocks compute), and exact cosine over the integer
    * sums (products/sums of small ints are exact doubles, so the
    * fold order is immaterial on both engines). */
  private def hashedNearDupOracle(maxHamming: Int,
                                  minSimX1e6: Long): String = {
    val bits = Dedup.SimhashBits
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS bs_$i")
      .mkString(", ")
    val reassemble = (0 until bits).map(i =>
      s"(CASE WHEN bs_$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val dotE = (0 until bits).map(i => s"a.bs_$i * b.bs_$i")
      .mkString("(", " + ", ")")
    def nrmE(t: String) = (0 until bits).map(i => s"$t.bs_$i * $t.bs_$i")
      .mkString("sqrt(", " + ", ")")
    s"""WITH w AS (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS w FROM documents),
      |h AS (SELECT doc_id, ${h60Sql("w")} AS h FROM w),
      |s AS MATERIALIZED (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
      |sig AS (SELECT doc_id, $reassemble AS sig FROM s),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming),
      |sims AS (
      |  SELECT c.doc_a, c.doc_b, c.hamming,
      |    CAST(floor($dotE / (${nrmE("a")} * ${nrmE("b")}) * 1000000)
      |      AS BIGINT) AS sim_x1e6
      |  FROM cand c JOIN s a ON a.doc_id = c.doc_a
      |  JOIN s b ON b.doc_id = c.doc_b
      |  WHERE ${nrmE("a")} > 0 AND ${nrmE("b")} > 0)
      |SELECT doc_a, doc_b, hamming, sim_x1e6
      |FROM sims WHERE sim_x1e6 >= $minSimX1e6
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q141's oracle — both hashed-bucket LMs from one grouped count,
    * the integer-bits surprisal difference, the signed truncating
    * division (DuckDB `//` ≡ Spark IntegralDivide on negatives). */
  private def ceSelectOracle(targetSrc: String, buckets: Int,
                             thetaX1000: Long): String =
    s"""WITH tok AS (
      |  SELECT doc_id, (source = '$targetSrc') AS is_t,
      |    ${h60Sql("t")} % $buckets AS b
      |  FROM (SELECT doc_id, source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM documents)),
      |cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
      |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS t_r,
      |    CAST(sum(c_t) AS BIGINT) AS t_t FROM cnt),
      |lm AS (SELECT b,
      |    CAST(length(bin((t_t + $buckets) // (c_t + 1))) - 1 AS BIGINT)
      |      AS bits_t,
      |    CAST(length(bin((t_r + $buckets) // (c_r + 1))) - 1 AS BIGINT)
      |      AS bits_r
      |  FROM cnt CROSS JOIN tot)
      |SELECT doc_id, is_t AS is_target,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  ((1000 * CAST(sum(bits_t - bits_r) AS BIGINT)) //
      |    greatest(CAST(count(*) AS BIGINT), 1)) AS ce_diff_x1000,
      |  (((1000 * CAST(sum(bits_t - bits_r) AS BIGINT)) //
      |    greatest(CAST(count(*) AS BIGINT), 1)) <= $thetaX1000) AS keep
      |FROM tok JOIN lm USING (b)
      |GROUP BY doc_id, is_t ORDER BY doc_id""".stripMargin

  /** q140's oracle — the trained-NB chain replayed: class/doc counts
    * over the train slice, the Laplace-smoothed integer-bits table
    * (the family's length(bin(x)) − 1 = floor(log2) convention),
    * per-class defaults and priors, the held-out stream replicated
    * across classes, argmin with the class-name tie-break. */
  private def nbClassifierOracle(mod: Int, rem: Int): String =
    s"""WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM documents),
      |tr AS (SELECT * FROM tok
      |  WHERE doc_id % $mod = $rem AND lang IS NOT NULL),
      |cls AS (SELECT lang AS c_lang, CAST(count(*) AS BIGINT) AS n_c
      |  FROM documents WHERE doc_id % $mod = $rem AND lang IS NOT NULL
      |  GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id % $mod = $rem AND lang IS NOT NULL),
      |cnt AS (SELECT lang AS c_lang, t, CAST(count(*) AS BIGINT) AS c
      |  FROM tr GROUP BY 1, 2),
      |tcd AS (SELECT c_lang, CAST(sum(c) AS BIGINT) AS t_c
      |  FROM cnt GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tr),
      |bits AS (
      |  SELECT cnt.c_lang, cnt.t,
      |    CAST(length(bin((t_c + v) // (c + 1))) - 1 AS BIGINT) AS b
      |  FROM cnt JOIN tcd USING (c_lang) CROSS JOIN vv),
      |cdef AS (
      |  SELECT cls.c_lang,
      |    CAST(length(bin(coalesce(tcd.t_c, 0) + v)) - 1 AS BIGINT) AS bdef,
      |    CAST(length(bin(n // n_c)) - 1 AS BIGINT) AS bprior
      |  FROM cls LEFT JOIN tcd ON tcd.c_lang = cls.c_lang
      |  CROSS JOIN vv CROSS JOIN nn),
      |te AS (SELECT doc_id, lang, t FROM tok WHERE doc_id % $mod <> $rem),
      |scored AS (
      |  SELECT te.doc_id, te.lang, d.c_lang,
      |    d.bprior + CAST(sum(coalesce(b.b, d.bdef)) AS BIGINT)
      |      AS bits_total
      |  FROM te CROSS JOIN cdef d
      |  LEFT JOIN bits b ON b.c_lang = d.c_lang AND b.t = te.t
      |  GROUP BY te.doc_id, te.lang, d.c_lang, d.bprior),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY bits_total, c_lang) AS r FROM scored)
      |SELECT doc_id, lang, c_lang AS pred_lang, bits_total,
      |  (lang = c_lang) AS correct
      |FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin

  /** q118's oracle — the slice LM (unigram, bigram with precomputed
    * seen-bits, 1-row W), the corpus bigram-instance stream via the
    * q111 lockstep unnest, first tokens through the unigram path,
    * and the three-way CASE replayed with the same α-folded integer
    * divisions. */
  private def stupidBackoffOracle: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |ref AS (SELECT w FROM base WHERE doc_id % 10 = 7),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(w) AS tok FROM ref) GROUP BY 1),
      |wt AS (SELECT CAST(sum(c) AS BIGINT) AS w_total FROM uni),
      |rbg AS (SELECT w1 || ' ' || w2 AS bg,
      |    CAST(count(*) AS BIGINT) AS c12 FROM (
      |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |           unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
      |    FROM ref) GROUP BY 1),
      |bgv AS (SELECT bg,
      |    CAST(length(bin(u.c // c12)) - 1 AS BIGINT) AS bits_seen
      |  FROM rbg JOIN uni u ON u.tok = split_part(bg, ' ', 1)),
      |inst AS (SELECT doc_id, w1 || ' ' || w2 AS bg, w2 FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |      unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
      |    FROM base)),
      |bginst AS (
      |  SELECT doc_id,
      |    CASE WHEN v.bits_seen IS NOT NULL THEN v.bits_seen
      |         WHEN u.c IS NOT NULL THEN
      |           CAST(length(bin((10 * w_total) // (4 * u.c))) - 1 AS BIGINT)
      |         ELSE CAST(length(bin((100 * w_total) // 16)) - 1 AS BIGINT)
      |    END AS bits,
      |    CASE WHEN v.bits_seen IS NOT NULL THEN 0 ELSE 1 END AS backoff
      |  FROM inst LEFT JOIN bgv v USING (bg)
      |  LEFT JOIN uni u ON u.tok = inst.w2 CROSS JOIN wt),
      |firsttok AS (
      |  SELECT doc_id,
      |    CASE WHEN u.c IS NOT NULL THEN
      |           CAST(length(bin(w_total // u.c)) - 1 AS BIGINT)
      |         ELSE CAST(length(bin((10 * w_total) // 4)) - 1 AS BIGINT)
      |    END AS bits,
      |    CASE WHEN u.c IS NOT NULL THEN 0 ELSE 1 END AS backoff
      |  FROM (SELECT doc_id, w[1] AS t FROM base WHERE len(w) >= 1) f
      |  LEFT JOIN uni u ON u.tok = f.t CROSS JOIN wt),
      |allb AS (SELECT * FROM bginst UNION ALL SELECT * FROM firsttok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(backoff) AS BIGINT) AS n_backoff,
      |  CAST(sum(bits) AS BIGINT) AS surprisal_bits,
      |  ((1000 * CAST(sum(bits) AS BIGINT)) //
      |    greatest(CAST(count(*) AS BIGINT), 1)) AS bits_x1000_per_token
      |FROM allb GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** q119's pinned mixture weights (per-mille target shares) — ONE
    * constant feeds the registered query and the oracle's VALUES
    * list, so they cannot desynchronize. src6..src19 are deliberately
    * unmapped: their rate-0 / keep-false rows are part of the checked
    * result. */
  private lazy val MixtureTargets: Map[String, Long] = Map(
    "src0" -> 300L, "src1" -> 300L, "src2" -> 200L,
    "src3" -> 100L, "src4" -> 50L, "src5" -> 50L)

  /** q119's oracle — the binding-source budget, the per-source rates,
    * and the salted acceptance replayed integer-for-integer. */
  private def mixtureBudgetOracle: String = {
    val vals = MixtureTargets.toSeq.sortBy(_._1)
      .map { case (s0, w) => s"('$s0', $w)" }.mkString(", ")
    s"""WITH tgt(source, w_pm) AS (VALUES $vals),
      |tok AS (
      |  SELECT doc_id, source,
      |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)),
      |      '\\s+')), 0) AS BIGINT) AS n_tokens
      |  FROM documents),
      |st AS (
      |  SELECT t.source, CAST(coalesce(g.w_pm, 0) AS BIGINT) AS w_pm,
      |    CAST(sum(n_tokens) AS BIGINT) AS t_s
      |  FROM tok t LEFT JOIN tgt g USING (source) GROUP BY 1, 2),
      |b AS (SELECT min((t_s * 1000) // w_pm) AS b FROM st WHERE w_pm > 0),
      |r AS (
      |  SELECT source,
      |    CASE WHEN w_pm > 0 AND t_s > 0
      |      THEN least(1000, (w_pm * b.b) // t_s) ELSE 0 END AS rate_pm
      |  FROM st CROSS JOIN b)
      |SELECT doc_id, t.source, n_tokens,
      |  CAST(rate_pm AS BIGINT) AS rate_pm,
      |  ${h60Sql("'budget:' || CAST(doc_id AS VARCHAR)")} % 1000 < rate_pm
      |    AS keep
      |FROM tok t JOIN r USING (source) ORDER BY doc_id""".stripMargin
  }

  /** q120's pinned blocklist — ONE constant feeds the query and the
    * oracle. Deliberate structure: "fast" is a PREFIX of "fast merge"
    * (nested matches via dictionary-suffix links), "table table" can
    * self-run in "table table table" (non-overlap greedy keeps every
    * other), and the multi-word phrases cross token boundaries. */
  private lazy val BlocklistPhrases: Seq[String] = Seq(
    "fast merge", "fast", "hash value", "agg row scan",
    "table table", "slow spark", "spark window")

  /** q120's oracle — each phrase's leftmost-non-overlapping count via
    * the replace-length trick over lower(text), summed. */
  private def blocklistOracle: String = {
    val occs = BlocklistPhrases
      .map(p => occSql("lower(text)", p)).mkString("(", " + ", ")")
    s"""SELECT doc_id, $occs AS n_hits, $occs = 0 AS keep
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q121's pinned scrub list — ONE constant feeds query and oracle.
    * Order is load-bearing (priority): "fast" precedes "fast merge"
    * so the prefix shadows the longer phrase entirely; "hash value"
    * precedes "value" so standalone "value" still matches but the
    * nested one is gone; "table table" self-runs greedily. */
  private lazy val ScrubPhrases: Seq[String] = Seq(
    "fast", "fast merge", "hash value", "value",
    "table table", "spark window")

  /** q121's oracle — the sequential length-preserving replace chain
    * as chained CTEs: stage k masks phrase k in stage k−1's text and
    * records its occurrence count via the delete-replace length
    * trick (length is preserved by the mask, so every stage's count
    * is taken on the text the SEQUENTIAL semantics say it scans). */
  /** The scrub replace chain as CTE stages `s0..s<n>` — shared by
    * q121 (which also reads the per-stage counts) and q129 (which
    * feeds the final scrubbed text onward). `s<n>` carries
    * (doc_id, t = scrubbed, c0..c<n-1>). */
  private def scrubStagesSql: String = {
    val stages = ScrubPhrases.zipWithIndex.map { case (p, i) =>
      val prev = if (i == 0) "s0" else s"s$i"
      val carried = (0 until i).map(j => s"c$j").mkString("", ", ",
        if (i == 0) "" else ", ")
      val maskLit = "*" * p.length
      s"""s${i + 1} AS (SELECT doc_id, replace(t, '$p', '$maskLit') AS t,
        |  $carried${occSql("t", p)} AS c$i FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""s0 AS (SELECT doc_id, lower(text) AS t FROM documents),
      |$stages""".stripMargin
  }

  private def blocklistScrubOracle: String = {
    val n = ScrubPhrases.size
    val spanSum = (0 until n).map(i => s"c$i").mkString(" + ")
    val byteSum = (0 until n)
      .map(i => s"c$i * ${ScrubPhrases(i).length}").mkString(" + ")
    s"""WITH $scrubStagesSql
      |SELECT doc_id, t AS scrubbed,
      |  CAST($spanSum AS BIGINT) AS n_spans,
      |  CAST($byteSum AS BIGINT) AS n_masked_bytes
      |FROM s$n ORDER BY doc_id""".stripMargin
  }

  /** q129's oracle — the scrub chain feeding q126's integer priority
    * arithmetic, with w counted over the SCRUBBED text. */
  private def scrubThenSampleOracle(k: Int): String = {
    val n = ScrubPhrases.size
    s"""WITH $scrubStagesSql,
      |sw AS (
      |  SELECT doc_id,
      |    COALESCE(CAST(len(regexp_split_to_array(trim(lower(t)), '\\s+'))
      |      AS BIGINT), 0) AS w,
      |    ${h60Sql("('prio:' || CAST(doc_id AS VARCHAR))")} AS h
      |  FROM s$n),
      |p AS (SELECT doc_id, w,
      |  (w * 1073741824) // ((h >> 30) + 1) AS priority FROM sw),
      |top AS (
      |  SELECT doc_id, w, priority,
      |    row_number() OVER (ORDER BY priority DESC, doc_id) AS rank
      |  FROM p ORDER BY rank LIMIT ${k + 1}),
      |tt AS (SELECT max(CASE WHEN rank = ${k + 1} THEN priority END)
      |  AS tau FROM top)
      |SELECT rank, doc_id, w, priority,
      |  COALESCE(tt.tau, 0) AS tau,
      |  greatest(w, COALESCE(tt.tau, 0)) AS w_hat
      |FROM top, tt WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** q132's pinned batch — overlapping term sets on purpose ("spark"
    * and "merge" appear twice): df must come from the probe BEFORE
    * the query fan-out or shared terms double-count their docs. */
  private lazy val BatchQueries: Map[Long, Seq[String]] = Map(
    0L -> Bm25Terms,
    1L -> Seq("the", "data", "join", "spark"),
    2L -> Seq("fast", "merge"))

  /** q132's oracle — ONE tf/df chain over the union of terms (df
    * global, computed before the query join — the double-count trap
    * the pinned batch exercises), the (query_id, token) map as a
    * VALUES list, per-query windows. */
  private def bm25BatchOracle(qs: Map[Long, Seq[String]],
                              k: Int): String = {
    val allTerms = qs.values.flatten.toSeq.distinct
    val inList = allTerms.map(t => s"'$t'").mkString(", ")
    val valuesList = qs.toSeq.sortBy(_._1)
      .flatMap { case (q, ts) => ts.distinct.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      |  FROM documents),
      |dd AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM d),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    (1000 * CAST(sum(dl) AS BIGINT)) // CAST(count(*) AS BIGINT)
      |      AS avgdl_x1000
      |  FROM dd),
      |qt AS (SELECT * FROM (VALUES $valuesList) v(query_id, token)),
      |tf AS (
      |  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, dl, unnest(w) AS token FROM dd)
      |  WHERE token IN ($inList) GROUP BY 1, 2, 3),
      |idf AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    (((1000000 * (2 * s.n_docs - 2 * i.df + 1)) // (2 * i.df + 1))
      |     * ((1000000 * 22 * tf.tf * s.avgdl_x1000) //
      |        (10 * tf.tf * s.avgdl_x1000 + 3 * s.avgdl_x1000
      |         + 9000 * tf.dl))) // 1000000 AS term_score
      |  FROM tf JOIN qt USING (token) JOIN idf i ON i.token = tf.token
      |  CROSS JOIN stats s),
      |doc AS (
      |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(term_score) AS BIGINT) AS bm25_x1M
      |  FROM scored GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY bm25_x1M DESC, doc_id) AS rank FROM doc)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(rank AS BIGINT) AS rank, doc_id, n_terms, bm25_x1M
      |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** q131's oracle — the identical integer idf rational and tf·idf
    * product, per-doc top-m by (score desc, token). */
  private def tfidfKeywordsOracle(m: Int): String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
      |    '\\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY doc_id, token),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
      |  FROM tf GROUP BY token),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |    tf.tf * ((1000000 * (2 * n.n_docs - 2 * df.df + 1))
      |      // (2 * df.df + 1)) AS score_x1M,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ((1000000 * (2 * n.n_docs - 2 * df.df + 1))
      |        // (2 * df.df + 1)) DESC, tf.token) AS rank
      |  FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf,
      |  CAST(score_x1M AS BIGINT) AS score_x1M
      |FROM scored WHERE rank <= $m ORDER BY doc_id, rank""".stripMargin

  /** q130's pinned phrase — two-term, corpus-frequent. */
  private lazy val PhraseTerms: Seq[String] = Seq("spark", "window")

  /** q130's oracle — the q111-style lockstep-unnest (token, ord)
    * stream, self-joined on ord+1 adjacency per phrase step. */
  private def phraseSearchOracle(phrase: Seq[String]): String = {
    val joins = (2 to phrase.size).map(j =>
      s"JOIN tok t$j ON t$j.doc_id = t1.doc_id AND t$j.ord = t1.ord + ${j - 1}")
      .mkString(" ")
    val preds = phrase.zipWithIndex
      .map { case (t, i) => s"t${i + 1}.tokn = '$t'" }.mkString(" AND ")
    s"""WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w) + 1), i -> i)) AS ord,
      |    unnest(w) AS tokn
      |  FROM d)
      |SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |FROM tok t1 $joins
      |WHERE $preds
      |GROUP BY t1.doc_id ORDER BY t1.doc_id""".stripMargin
  }

  /** q127's oracle — q35's recursive-CTE component labels, then q66's
    * split arithmetic over the ROOT instead of the doc id. */
  private def leakageSafeSplitOracle: String =
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p0 AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM p0
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
      |lab AS (
      |  SELECT d.doc_id,
      |    CAST(least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS BIGINT)
      |      AS cluster_root
      |  FROM documents d LEFT JOIN reach r ON r.n = d.doc_id
      |  GROUP BY d.doc_id),
      |b AS (
      |  SELECT doc_id, cluster_root,
      |    ${h60Sql("'split:' || CAST(cluster_root AS VARCHAR)")} % 1000
      |      AS bucket
      |  FROM lab)
      |SELECT doc_id, cluster_root, CAST(bucket AS BIGINT) AS bucket,
      |  CASE WHEN bucket < 980 THEN 'train'
      |       WHEN bucket < 990 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  /** q126's oracle — the same all-integer priority arithmetic
    * (salted h60 top 30 bits, ⌊w·2³⁰/(h30+1)⌋), ranked by
    * (priority desc, doc_id), τ = the (k+1)-th priority (0 when the
    * corpus is exhausted), ŵ = greatest(w, τ). */
  private def prioritySampleOracle(k: Int): String =
    s"""WITH s AS (
      |  SELECT doc_id,
      |    COALESCE(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
      |      AS BIGINT), 0) AS w,
      |    ${h60Sql("('prio:' || CAST(doc_id AS VARCHAR))")} AS h
      |  FROM documents),
      |p AS (SELECT doc_id, w,
      |  (w * 1073741824) // ((h >> 30) + 1) AS priority FROM s),
      |top AS (
      |  SELECT doc_id, w, priority,
      |    row_number() OVER (ORDER BY priority DESC, doc_id) AS rank
      |  FROM p ORDER BY rank LIMIT ${k + 1}),
      |t AS (SELECT max(CASE WHEN rank = ${k + 1} THEN priority END)
      |  AS tau FROM top)
      |SELECT rank, doc_id, w, priority,
      |  COALESCE(t.tau, 0) AS tau,
      |  greatest(w, COALESCE(t.tau, 0)) AS w_hat
      |FROM top, t WHERE rank <= $k ORDER BY rank""".stripMargin

  /** q125's oracle — the same cross join with the q27 float
    * conventions (fold dot, norm product, floor·10⁶), aggregated per
    * train vector; the zero-norm filter mirrors the operator's
    * shared convention (vacuous on this data, kept for parity). */
  private def embeddingContaminationOracle(tauX1e6: Long): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e
      |  WHERE ${normSql("v")} > 0),
      |c AS (SELECT * FROM n WHERE vec_id % 10 != 3),
      |b AS (SELECT * FROM n WHERE vec_id % 10 = 3),
      |s AS (
      |  SELECT c.vec_id,
      |    CAST(floor(${dotSql("b.v", "c.v")} / (b.nrm * c.nrm) * 1000000)
      |      AS BIGINT) AS sim
      |  FROM c CROSS JOIN b)
      |SELECT vec_id, max(sim) AS max_sim_x1e6,
      |  CAST(sum(CASE WHEN sim >= $tauX1e6 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_over,
      |  max(sim) < $tauX1e6 AS keep
      |FROM s GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** q139's oracle — the capped-LSH candidate CTEs (the `cand` frame;
    * the fragment's unreferenced Jaccard tail is not executed) joined
    * to the texts, exact levenshtein, banded keep. DuckDB's
    * levenshtein is unbanded; equality with Spark's thresholded
    * kernel holds because the band is exact at or under `maxDist`
    * and both engines drop everything past it. */
  private def editVerifiedOracle(maxBucket: Int, maxDist: Int): String =
    s"""WITH ${cappedLshCtes(Some(maxBucket))},
      |ed AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(length(a.text) AS BIGINT) AS n_a,
      |    CAST(length(b.text) AS BIGINT) AS n_b,
      |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |  FROM cand c
      |  JOIN documents a ON a.doc_id = c.doc_a
      |  JOIN documents b ON b.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, n_a, n_b, dist,
      |  1000 - ((1000 * dist) // greatest(n_a, n_b, 1)) AS edit_sim_x1000
      |FROM ed WHERE dist <= $maxDist
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q123's oracle — the CAPPED-LSH pair CTEs (q61's chain, the
    * production pair source: band buckets over `maxBucket` drop
    * before expansion, exact-Jaccard verify after), then each
    * power-iteration sweep as a static CTE: contrib = pr div deg
    * summed over incoming edges, damped 17/20 with the +150,000
    * teleport term. `//` is DuckDB floor division ≡ Spark
    * IntegralDivide on these positive int64s. Undirected with
    * deg ≥ 1 ⇒ every node appears in every sweep — no COALESCE
    * needed anywhere. Round 14: the registered pair source moved
    * from exact q22 pairs to this capped form — the shape users run
    * at scale (PLANS' x100 ladder feeds from it); exact pairs stay
    * gated by q22 itself. Round 15: each sweep's `pr` is cast back
    * to BIGINT — DuckDB's sum(BIGINT) widens to HUGEINT (int128)
    * and the widened type would otherwise propagate through every
    * downstream sweep into the output columns, failing the driver's
    * type-sensitive hash even though the values match int64 exactly
    * (positive, bounded by 150000 + 17/20·1e6·deg). */
  private def pageRankOracle(iters: Int, maxBucket: Int): String = {
    val sweeps = (1 to iters).map { k =>
      s"""r$k AS (
        |  SELECT e.v AS doc_id,
        |    CAST(150000 + (17 * sum(r.pr // d.deg)) // 20 AS BIGINT) AS pr
        |  FROM edges e JOIN r${k - 1} r ON r.doc_id = e.u
        |  JOIN deg d ON d.u = e.u GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    val prCols = (1 to iters)
      .map(k => s"r$k.pr AS pr${k}_x1M").mkString(", ")
    val prJoins = (1 to iters)
      .map(k => s"JOIN r$k ON r$k.doc_id = d.u").mkString(" ")
    s"""WITH ${cappedLshCtes(Some(maxBucket))},
      |dup AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM dup
      |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM dup),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
      |  FROM edges GROUP BY u),
      |r0 AS (SELECT u AS doc_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
      |$sweeps
      |SELECT d.u AS doc_id, d.deg, $prCols
      |FROM deg d $prJoins ORDER BY doc_id""".stripMargin
  }

  /** q114's oracle: both strategies' ranks as plain windows over the
    * same total orders, identical integer padding arithmetic. */
  private def lengthBatchingOracle(batchSize: Int): String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    coalesce(CAST(len(regexp_split_to_array(trim(lower(text)),
      |      '\\s+')) AS BIGINT), 0) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT n_tokens,
      |    CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) - 1
      |      AS rk,
      |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1 AS ra
      |  FROM t),
      |u AS (
      |  SELECT 'length' AS strategy, rk // $batchSize AS batch_id, n_tokens
      |  FROM r
      |  UNION ALL
      |  SELECT 'arrival', ra // $batchSize, n_tokens FROM r),
      |g AS (
      |  SELECT strategy, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(max(n_tokens) AS BIGINT) AS max_len,
      |    CAST(sum(n_tokens) AS BIGINT) AS sum_len
      |  FROM u GROUP BY 1, 2)
      |SELECT strategy, batch_id, n_docs, max_len, sum_len,
      |  (n_docs * max_len - sum_len) AS pad_tokens,
      |  ((1000 * (n_docs * max_len - sum_len)) //
      |    greatest(n_docs * max_len, 1)) AS pad_x1000
      |FROM g ORDER BY strategy, batch_id""".stripMargin

  /** q113's oracle: q22's pair CTE chain + source attribution +
    * unordered-pair rollup. */
  private def sourceLeakageOracle: String =
    s"""WITH sh AS (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM documents),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |lab AS (
      |  SELECT least(da.source, db.source) AS source_a,
      |         greatest(da.source, db.source) AS source_b
      |  FROM dup JOIN documents da ON da.doc_id = dup.doc_a
      |           JOIN documents db ON db.doc_id = dup.doc_b)
      |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB twin of [[graft.ops.Sketches.cmsEstimates]] — the same
    * per-row salted h60 mod width grid, min over rows, left joins
    * zero-filling absent cells/probes. */
  private def cmsOracle(probes: Seq[String], depth: Int, width: Int): String = {
    val inList = probes.map(p => s"'$p'").mkString(", ")
    s"""WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM documents),
      |rows_ AS (SELECT CAST(i AS BIGINT) AS row_i FROM range($depth) r(i)),
      |sk AS (
      |  SELECT row_i,
      |    ((${h60Sql("t")}) + row_i * (${h60bSql("t")})) % $width AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
      |probes AS (SELECT unnest([$inList]) AS token),
      |pb AS (
      |  SELECT p.token, r.row_i,
      |    ((${h60Sql("p.token")}) + r.row_i * (${h60bSql("p.token")}))
      |      % $width AS bucket
      |  FROM probes p CROSS JOIN rows_ r),
      |est AS (
      |  SELECT token, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cms_est
      |  FROM pb LEFT JOIN sk ON sk.row_i = pb.row_i AND sk.bucket = pb.bucket
      |  GROUP BY 1),
      |ex AS (
      |  SELECT t AS token, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok
      |  WHERE t IN ($inList) GROUP BY 1)
      |SELECT e.token, coalesce(x.exact_cnt, 0) AS exact_cnt, e.cms_est,
      |  e.cms_est >= coalesce(x.exact_cnt, 0) AS no_underestimate
      |FROM est e LEFT JOIN ex x ON x.token = e.token
      |ORDER BY e.token""".stripMargin
  }

  /** q134's oracle: q112's grid, the distinct-token candidate cut at
    * the estimate, then the exact recount of candidates only — the
    * confirmed set and both counts under the hash. */
  private def heavyHittersOracle(minCount: Long, depth: Int,
                                 width: Int): String =
    s"""WITH tok AS MATERIALIZED (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM documents),
      |rows_ AS (SELECT CAST(i AS BIGINT) AS row_i FROM range($depth) r(i)),
      |sk AS MATERIALIZED (
      |  SELECT row_i,
      |    ((${h60Sql("t")}) + row_i * (${h60bSql("t")})) % $width AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
      |dt AS (SELECT DISTINCT t FROM tok),
      |pb AS (
      |  SELECT dt.t, r.row_i,
      |    ((${h60Sql("dt.t")}) + r.row_i * (${h60bSql("dt.t")}))
      |      % $width AS bucket
      |  FROM dt CROSS JOIN rows_ r),
      |cand AS MATERIALIZED (
      |  SELECT t, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cms_est
      |  FROM pb LEFT JOIN sk ON sk.row_i = pb.row_i AND sk.bucket = pb.bucket
      |  GROUP BY 1 HAVING min(coalesce(sk.cnt, 0)) >= $minCount),
      |ex AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok
      |  WHERE t IN (SELECT t FROM cand) GROUP BY 1)
      |SELECT c.t AS token, x.exact_cnt, c.cms_est
      |FROM cand c JOIN ex x ON x.t = c.t
      |WHERE x.exact_cnt >= $minCount
      |ORDER BY token""".stripMargin

  /** DuckDB twin of [[graft.ops.Retrieval.bm25TopK]] — same rational
    * constants, same `//` truncation (all terms positive). */
  /** The BM25 scoring chain (corpus stats → per-(doc, term) integer
    * Okapi scores → per-doc totals in `doc`) as a reusable CTE
    * fragment — q110/q122 rank it directly, q138 fuses it with the
    * vector list. */
  private def bm25Ctes(terms: Seq[String],
                       src: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      |  FROM $src),
      |dd AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM d),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    (1000 * CAST(sum(dl) AS BIGINT)) // CAST(count(*) AS BIGINT)
      |      AS avgdl_x1000
      |  FROM dd),
      |tf AS (
      |  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, dl, unnest(w) AS token FROM dd)
      |  WHERE token IN ($inList) GROUP BY 1, 2, 3),
      |idf AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    (((1000000 * (2 * s.n_docs - 2 * i.df + 1)) // (2 * i.df + 1))
      |     * ((1000000 * 22 * tf.tf * s.avgdl_x1000) //
      |        (10 * tf.tf * s.avgdl_x1000 + 3 * s.avgdl_x1000
      |         + 9000 * tf.dl))) // 1000000 AS term_score
      |  FROM tf JOIN idf i USING (token) CROSS JOIN stats s),
      |doc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(term_score) AS BIGINT) AS bm25_x1M
      |  FROM scored GROUP BY 1)""".stripMargin
  }

  private def bm25Oracle(terms: Seq[String], k: Int): String =
    s"""WITH ${bm25Ctes(terms)},
      |top AS (SELECT * FROM doc ORDER BY bm25_x1M DESC, doc_id LIMIT $k)
      |SELECT CAST(row_number() OVER (ORDER BY bm25_x1M DESC, doc_id)
      |    AS BIGINT) AS rank, doc_id, n_terms, bm25_x1M
      |FROM top ORDER BY rank""".stripMargin

  /** q138's oracle — hybrid retrieval: the BM25 chain's top-nLex list
    * and the exact-cosine top-nVec list (q25's float conventions, the
    * doc universe keyed vec_id = doc_id) fused by integer Reciprocal
    * Rank Fusion: contribution = 10^6 div (rrfK + rank) per list, 0
    * when absent, ties on doc_id. */
  private def hybridOracle(terms: Seq[String], qid: Long, nLex: Int,
                           nVec: Int, k: Int, rrfK: Int): String =
    s"""WITH ${bm25Ctes(terms)},
      |lexr AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_x1M DESC,
      |      doc_id) AS BIGINT) AS lex_rank
      |  FROM (SELECT * FROM doc ORDER BY bm25_x1M DESC, doc_id
      |        LIMIT $nLex)),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e
      |  WHERE ${normSql("v")} > 0),
      |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = $qid),
      |vs AS (
      |  SELECT vec_id AS doc_id,
      |    CAST(floor(${dotSql("q.qv", "n.v")} / (q.qn * n.nrm) * 1000000)
      |      AS BIGINT) AS sim_x1e6
      |  FROM n CROSS JOIN q WHERE vec_id <> $qid),
      |vecr AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY sim_x1e6 DESC,
      |      doc_id) AS BIGINT) AS vec_rank
      |  FROM (SELECT * FROM vs ORDER BY sim_x1e6 DESC, doc_id
      |        LIMIT $nVec)),
      |fused AS (
      |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
      |    coalesce(l.lex_rank, 0) AS lex_rank,
      |    coalesce(v.vec_rank, 0) AS vec_rank,
      |    (CASE WHEN l.lex_rank IS NULL THEN 0
      |          ELSE 1000000 // ($rrfK + l.lex_rank) END)
      |    + (CASE WHEN v.vec_rank IS NULL THEN 0
      |            ELSE 1000000 // ($rrfK + v.vec_rank) END) AS rrf_x1M
      |  FROM lexr l FULL OUTER JOIN vecr v ON v.doc_id = l.doc_id),
      |top AS (SELECT * FROM fused ORDER BY rrf_x1M DESC, doc_id LIMIT $k)
      |SELECT CAST(row_number() OVER (ORDER BY rrf_x1M DESC, doc_id)
      |    AS BIGINT) AS rank, doc_id, lex_rank, vec_rank, rrf_x1M
      |FROM top ORDER BY rank""".stripMargin

  /** DuckDB twin of [[TextAnalysis.collocations]] — lockstep unnest
    * builds the adjacent pairs, integer lift, same tie-break. */
  private def collocationOracle(minCount: Int, k: Int): String =
    s"""WITH tok AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      |  FROM documents),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
      |  FROM tok),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM pairs GROUP BY 1, 2),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(w) AS tok FROM tok) GROUP BY 1),
      |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM bc),
      |scored AS (
      |  SELECT bc.w1, bc.w2, bc.c12, a.c AS c1, b.c AS c2,
      |    ((1000000 * bc.c12 * t.nb) // (a.c * b.c)) AS lift_x1M
      |  FROM bc JOIN uni a ON a.tok = bc.w1 JOIN uni b ON b.tok = bc.w2
      |  CROSS JOIN tot t
      |  WHERE bc.c12 >= $minCount),
      |top AS (SELECT * FROM scored ORDER BY lift_x1M DESC, w1, w2 LIMIT $k)
      |SELECT CAST(row_number() OVER (ORDER BY lift_x1M DESC, w1, w2)
      |    AS BIGINT) AS rank, w1, w2, c12, c1, c2, lift_x1M
      |FROM top ORDER BY rank""".stripMargin

  /** q103: the drained streaming-dedup history replayed as the
    * survivor law the drain implements — per non-null text, the
    * (batch_id, doc_id)-lexicographic minimum over the planted
    * corpus; null texts always admitted. batch_id = doc_id % 3 is the
    * wave split the query writes, valid because each wave is drained
    * to completion before the next is written. */
  private def streamingDrainOracle: String =
    s"""WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 10 = 5),
      |d AS (SELECT doc_id, text, doc_id % 3 AS batch_id FROM aug),
      |ranked AS (
      |  SELECT doc_id, batch_id,
      |    row_number() OVER (PARTITION BY text ORDER BY batch_id, doc_id) AS rn
      |  FROM d WHERE text IS NOT NULL)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(batch_id AS BIGINT) AS batch_id
      |FROM ranked WHERE rn = 1
      |UNION ALL
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(batch_id AS BIGINT) AS batch_id
      |FROM d WHERE text IS NULL
      |ORDER BY doc_id""".stripMargin

  /** q105: the drained custom-state sessionizer replayed as q41's
    * batch gaps-and-islands law (lag + running conditional sum, gap >
    * 30 min opens a session), keyed in epoch micros — valid against
    * the streaming result because the waves are strict chronological
    * time ranges and the operator sorts within each micro-batch by
    * (ts, event_id), so no event can arrive out of order relative to
    * an already-emitted session. */
  private def streamingSessionizeOracle: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM o)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(epoch_us(min(ts)) AS BIGINT) AS start_micros,
      |  CAST(epoch_us(max(ts)) AS BIGINT) AS end_micros,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, start_micros""".stripMargin

  /** The (user_id, ts_micros, event_id) events projection every
    * sessionization drain starts from. */
  private def sessionEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_micros"),
        col("event_id").cast("long").as("event_id"))

  /** The NATIVE session_window drain harness (q145, and q148's
    * below-budget branch): [[WaveHarness.writeSessionWaves]]' files
    * drained through [[graft.streaming.StreamingBuilders.sessionWindowAgg]]
    * in append mode (the timestamp column rebuilt from ts_micros by
    * exact integer arithmetic; event_id is carried by the shared
    * wave files and unused here). Output shape and ordering match
    * [[sessionizeDrain]]'s so both serve streamingSessionizeOracle
    * unchanged. */
  private def sessionWindowDrain(s: SparkSession, dir: String,
                                 qTag: String): DataFrame = {
    val root = freshRoot(dir, qTag)
    WaveHarness.writeSessionWaves(sessionEvents(s, dir), s"$root/src")
    val stream = WaveHarness.waveStream(s, s"$root/src", StructType.fromDDL(
        "user_id bigint, ts_micros bigint, event_id bigint"))
      .select(col("user_id"), timestamp_micros(col("ts_micros")).as("ts"))
    WaveHarness.drain(s, StreamingBuilders.sessionWindowAgg(
        stream, gapMinutes = 30, delayMinutes = 30)
      .writeStream.format("parquet").option("path", s"$root/out")
      .outputMode("append"), s"$root/ckpt")
    s.read.parquet(s"$root/out")
      .select(col("user_id"), col("start_micros"), col("end_micros"),
        col("n_events"))
      .orderBy("user_id", "start_micros")
  }

  /** The q105/q109 drain lifecycle: [[WaveHarness.writeSessionWaves]]'
    * three mtime-ordered files drained as three micro-batches of ONE
    * [[WaveHarness.drain]] through the custom-state sessionizer
    * ([[StatefulSessionize.sessionsWithTimeout]] when `timeout`, else
    * the next-event-only [[StatefulSessionize.sessions]]), so
    * cross-batch state is genuinely exercised — a session spanning
    * the wave boundary is emitted once, by the batch whose event
    * closed it. The sentinel closes every real session and itself
    * stays open in the state store, never emitted. The sink is
    * q103's idempotent batch_id contract
    * ([[StatefulSessionize.processBatch]]). The 4-wave full-table
    * parity stays spec'd at sf0.1 in StreamingParitySpec. */
  private def sessionizeDrain(s: SparkSession, dir: String, qTag: String,
                              timeout: Boolean): DataFrame = {
    import StatefulSessionize.{Ev, Session}
    val root = freshRoot(dir, qTag)
    val src = s"$root/src"
    val wh = s"$root/wh"
    val table = s"${qTag}_sessions"
    WaveHarness.writeSessionWaves(sessionEvents(s, dir), src)
    val ev = Encoders.product[Ev]
    val in = WaveHarness.waveStream(s, src, ev.schema).as[Ev](ev)
    val sessions =
      if (timeout) StatefulSessionize.sessionsWithTimeout(in, gapMinutes = 30)
      else StatefulSessionize.sessions(in, gapMinutes = 30)
    WaveHarness.drain(s, sessions.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Session], id: Long) =>
        StatefulSessionize.processBatch(b, id, wh, table)
      }, s"$root/ckpt")
    TableStore.read(s, wh, table)
      .select(col("user_id").cast("long").as("user_id"),
        col("start_micros").cast("long").as("start_micros"),
        col("end_micros").cast("long").as("end_micros"),
        col("n_events").cast("long").as("n_events"))
      .orderBy("user_id", "start_micros")
  }

  /** q62 AND q108: every sentence survives only at its first
    * (doc_id, pos) occurrence across the whole corpus. One oracle
    * serves both the batch operator (q62, raw-string keyed) and the
    * streaming drain (q108, h60-keyed with doc_id-ascending waves, so
    * batch order extends doc order and the survivor law coincides —
    * identical results absent a 60-bit sentence-hash collision, the
    * birthday bound documented in
    * [[graft.streaming.StreamingSentenceDedup]]). */
  private def sentenceDedupOracle: String =
    """WITH parts AS (
      |  SELECT doc_id, string_split(text, '. ') AS p FROM documents),
      |e AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(p) + 1),
      |      i -> struct_pack(pos := i, sent := p[i]))) AS u
      |  FROM parts),
      |occ AS (
      |  SELECT doc_id, u.pos AS pos, u.sent AS sent,
      |    row_number() OVER (PARTITION BY u.sent
      |      ORDER BY doc_id, u.pos) AS rn
      |  FROM e)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  coalesce(string_agg(CASE WHEN rn = 1 THEN sent END, '. '
      |    ORDER BY pos), '') AS dedup_text
      |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q107: the drained incremental-upsert heatmap replayed as q02's
    * batch law — grouped count over the derived (year, month, hour)
    * periods. Valid against the streaming result because update-mode
    * aggregation re-emits the full running total for every touched
    * key and the sink replaces by key, so after the final drain the
    * table holds exactly the all-data totals. */
  private def streamingHeatmapOracle: String =
    """SELECT strftime(ts, '%Y') AS year, strftime(ts, '%b') AS month,
      |  CAST(strftime(ts, '%H') AS INT) AS hour,
      |  CAST(count(*) AS BIGINT) AS total_count
      |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Default PQ geometry for the q84–q88 family: 8 subspaces x 128
    * codes x 7 bits over 64-dim — 256 B float32 → 7 B packed (~36x).
    * ksub=128 over ksub=16 doubles measured shortlist recall on the
    * (uniform — PQ's adversarial case) test embeddings for one extra
    * oracle-side LIMIT row batch; still constant-size state. */
  // lazy: referenced from the `queries` Seq, which this object
  // initializes FIRST — a strict val here would still be null there
  private lazy val PqDefault = Pq.PqConfig(m = 8, ksub = 128,
    bitsPerCode = 7, dim = 64)

  /** DuckDB fragment: |cb slice|^2 for subspace column `j` — the same
    * 0.0-init ascending fold [[Pq]]'s kernels use for c2, unrolled to
    * one flat-arithmetic CASE arm per literal subspace (these sit in
    * corpus × ksub × m positions; the lambda form was the largest
    * single cost of the round-13 oracle replay). */
  private def pqSliceC2(cv: String, j: String, cfg: Pq.PqConfig): String = {
    val arms = (0 until cfg.m).map { jj =>
      val o = jj * cfg.dsub
      val sum = (1 to cfg.dsub)
        .map(i => s"$cv[${o + i}] * $cv[${o + i}]").mkString(" + ")
      s"WHEN $jj THEN ($sum)"
    }.mkString(" ")
    s"(CASE $j $arms END)"
  }

  /** DuckDB fragment: subspace-`j` dot of vector `a` against the
    * sample vector `cv`'s j-th slice (both indexed into the full
    * 64-dim list — same values, same ascending fold as the fused
    * kernels' slice loops), unrolled like [[pqSliceC2]]. */
  private def pqSliceDot(a: String, cv: String, j: String,
                         cfg: Pq.PqConfig): String = {
    val arms = (0 until cfg.m).map { jj =>
      val o = jj * cfg.dsub
      val sum = (1 to cfg.dsub)
        .map(i => s"$a[${o + i}] * $cv[${o + i}]").mkString(" + ")
      s"WHEN $jj THEN ($sum)"
    }.mkString(" ")
    s"(CASE $j $arms END)"
  }

  /** The shared PQ CTE chain ending in `codes (vec_id, pq_code)`:
    * sample codebook (LIMIT ksub + dense row_number code — the
    * constant-size analogue of the q74/q78 quantizer subquery),
    * per-(vector, subspace, code) distances in the c2 − 2·dot
    * sequential-fold form, first-wins argmin via ORDER BY (d, code)
    * (bit-identical d both engines, so the rn=1 row IS the kernel's
    * strict-< winner), then the little-endian integer pack — exact
    * arithmetic end-to-end from the argmin on. */
  private def pqCodesCtes(cfg: Pq.PqConfig, pfx: String = "",
      eDef: String = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")
      : String = {
    val dsub = cfg.dsub
    s"""${pfx}e AS MATERIALIZED ($eDef),
      |${pfx}cb AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
      |  FROM (SELECT vec_id, v FROM ${pfx}e ORDER BY vec_id LIMIT ${cfg.ksub})),
      |${pfx}enc_d AS (
      |  SELECT e.vec_id, j.j, cb.code,
      |    ${pqSliceC2("cb.cv", "j.j", cfg)}
      |      - 2.0 * ${pqSliceDot("e.v", "cb.cv", "j.j", cfg)} AS d
      |  FROM ${pfx}e e CROSS JOIN range(0, ${cfg.m}) j(j) CROSS JOIN ${pfx}cb cb),
      |${pfx}enc AS (
      |  SELECT vec_id, j, code FROM (
      |    SELECT vec_id, j, code,
      |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
      |    FROM ${pfx}enc_d) WHERE rn = 1),
      |${pfx}codes AS MATERIALIZED (
      |  SELECT vec_id,
      |    CAST(sum(code * (CAST(1 AS BIGINT) << (${cfg.bitsPerCode} * j))) AS BIGINT) AS pq_code
      |  FROM ${pfx}enc GROUP BY vec_id)""".stripMargin
  }

  /** q84: the packed PQ codes themselves — pure integers. */
  private def pqCodesOracle(cfg: Pq.PqConfig): String =
    s"""WITH ${pqCodesCtes(cfg)}
      |SELECT vec_id, pq_code FROM codes ORDER BY vec_id""".stripMargin

  /** The ADC CTE chain on top of [[pqCodesCtes]], ending in
    * `adc_s (query_id, vec_id, adc_x1e6)`: per-(query, corpus row,
    * subspace) the LUT distance the stored code selects (the cb join
    * on the shifted/masked code), folded in ascending-j order via the
    * j-ORDERED list aggregate — the exact fold
    * [[graft.functions.PqAdcScoreExpr]] runs — then floor-scaled. */
  private def pqAdcCtes(cfg: Pq.PqConfig, nQ: Int,
                        pfx: String = ""): String = {
    val mask = (1 << cfg.bitsPerCode) - 1
    s"""${pfx}q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM ${pfx}e
      |  WHERE vec_id < $nQ),
      |${pfx}adc_d AS (
      |  SELECT q.query_id, c.vec_id, j.j,
      |    ${pqSliceC2("cb.cv", "j.j", cfg)}
      |      - 2.0 * ${pqSliceDot("q.qv", "cb.cv", "j.j", cfg)} AS d
      |  FROM ${pfx}codes c CROSS JOIN range(0, ${cfg.m}) j(j)
      |  JOIN ${pfx}q q ON c.vec_id <> q.query_id
      |  JOIN ${pfx}cb cb ON cb.code = (c.pq_code >> (${cfg.bitsPerCode} * j.j)) & $mask),
      |${pfx}adc_s AS (
      |  SELECT query_id, vec_id,
      |    CAST(floor(list_reduce(list(d ORDER BY j), (x, y) -> x + y)
      |      * 1000000) AS BIGINT) AS adc_x1e6
      |  FROM ${pfx}adc_d GROUP BY query_id, vec_id)""".stripMargin
  }

  /** q85: ADC top-k, ranked on the floor-scaled score with vec_id
    * tie-break — the same (value, id) window both engines run. */
  private def pqAdcTopKOracle(cfg: Pq.PqConfig, nQ: Int, k: Int): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${pqAdcCtes(cfg, nQ)}
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc_x1e6 FROM (
      |  SELECT query_id, vec_id, adc_x1e6,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_x1e6, vec_id) AS rank
      |  FROM adc_s) WHERE rank <= $k
      |ORDER BY query_id, rank""".stripMargin

  /** q86: recall of the ADC top-k against the exact squared-L2 top-k
    * (the q45/q58 pattern — both sides deterministic, so the recall of
    * the 64x compression is itself under the hash check). */
  private def pqAdcRecallOracle(cfg: Pq.PqConfig, nQ: Int, k: Int): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${pqAdcCtes(cfg, nQ)},
      |adc AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_x1e6, vec_id) AS rn
      |  FROM adc_s) WHERE rn <= $k),
      |ex_d AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS d
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
      |  FROM ex_d) WHERE rn <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(adc.vec_id) AS BIGINT) AS adc_hits
      |FROM ex LEFT JOIN adc ON adc.query_id = ex.query_id
      |  AND adc.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** q99's OPQ learning fixture: a deterministic ANISOTROPIC float
    * corpus — 256 vectors, dim 64, seeded java.util.Random(11),
    * coordinate i scaled by 1/(1+i/8) so variance decays across
    * dimensions (the shape OPQ's eigenvalue allocation exists to
    * balance; the driver's test embeddings are uniform, where a
    * rotation has nothing to do). Data-independent like the q45
    * planes and q58 centroids, so it survives a testdata
    * regeneration; floats, because the distributed Gram folds
    * Seq[Float]. lazy: referenced from the `queries` Seq. */
  private lazy val opqFixture: Array[Array[Float]] = {
    val rnd = new java.util.Random(11L)
    Array.fill(256)(Array.tabulate(64)(i =>
      ((rnd.nextDouble() * 2 - 1) / (1.0 + i / 8.0)).toFloat))
  }

  /** q99: rotated-vs-unrotated ADC recall with the LEARNED rotation
    * pinned as literals. R comes from
    * [[graft.ops.Covariance.pcaRotationRRLocal]] over [[opqFixture]]
    * — the exact plain-Scala twin of the distributed learner the
    * Spark side runs, bit-identical by the fixed-point discipline —
    * and the rotated corpus is the literal mat-vec
    * Σ_t v[t]·R[i][t] per output coordinate (ascending-t fold, the
    * same sequential sum MatVecExpr generates). Both PQ chains (raw
    * and rotated, CTE prefix `r`) then replay identically, and both
    * hit counts against the unrotated exact top-k ride the hash. */
  private def pqRotRecallOracle(cfg: Pq.PqConfig, nQ: Int,
                                k: Int): String = {
    val r = Covariance.pcaRotationRRLocal(opqFixture, m = cfg.m)
    val comps = r.map(row => dotLitSql("v", row.toSeq)).mkString(",\n    ")
    val rotDef = s"SELECT vec_id, [$comps] AS v FROM e"
    s"""WITH ${pqCodesCtes(cfg)},
      |${pqAdcCtes(cfg, nQ)},
      |${pqCodesCtes(cfg, pfx = "r", eDef = rotDef)},
      |${pqAdcCtes(cfg, nQ, pfx = "r")},
      |adc AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_x1e6, vec_id) AS rn
      |  FROM adc_s) WHERE rn <= $k),
      |radc AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_x1e6, vec_id) AS rn
      |  FROM radc_s) WHERE rn <= $k),
      |ex_d AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS d
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
      |  FROM ex_d) WHERE rn <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(adc.vec_id) AS BIGINT) AS adc_hits,
      |  CAST(count(radc.vec_id) AS BIGINT) AS rot_hits
      |FROM ex
      |LEFT JOIN adc ON adc.query_id = ex.query_id
      |  AND adc.vec_id = ex.vec_id
      |LEFT JOIN radc ON radc.query_id = ex.query_id
      |  AND radc.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** q104: rotated-vs-unrotated IVF-PQ SERVING recall with the
    * learned rotation pinned as literals — q99's pattern composed
    * into the full serving path. R comes from the plain-Scala
    * fixed-point twin over [[opqFixture]] (bit-identical to the
    * distributed learner the Spark side runs); the rotated corpus is
    * the literal mat-vec over `e`, and the ENTIRE auto-sized IVF-PQ
    * chain (coarse quantizer cut, placement, PQ codes, probes, ADC,
    * shortlist, rerank) replays twice — raw and prefix-`r` rotated —
    * with the cell size rederived from each chain's own corpus count
    * (the q101 law). Both hit counts ride against the unrotated exact
    * top-k. */
  private def ivfPqRotRecallOracle(cfg: Pq.PqConfig, nProbe: Int,
                                   nQ: Int, k: Int,
                                   shortlist: Int): String = {
    val r = Covariance.pcaRotationRRLocal(opqFixture, m = cfg.m)
    val comps = r.map(row => dotLitSql("v", row.toSeq)).mkString(",\n    ")
    val rotDef = s"SELECT vec_id, [$comps] AS v FROM e"
    val cellSql = s"greatest(1, floor(sqrt(count(*)) / $nProbe + 0.5))"
    s"""WITH ${pqCodesCtes(cfg)},
      |${ivfPqCtes(cfg, cellSql, nProbe, nQ, shortlist)},
      |${pqCodesCtes(cfg, pfx = "r", eDef = rotDef)},
      |${ivfPqCtes(cfg, cellSql, nProbe, nQ, shortlist, pfx = "r")},
      |ivk AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rn
      |  FROM irr) WHERE rn <= $k),
      |rvk AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rn
      |  FROM rirr) WHERE rn <= $k),
      |ex_d AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS d
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
      |  FROM ex_d) WHERE rn <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(ivk.vec_id) AS BIGINT) AS ivfpq_hits,
      |  CAST(count(rvk.vec_id) AS BIGINT) AS rot_hits
      |FROM ex
      |LEFT JOIN ivk ON ivk.query_id = ex.query_id
      |  AND ivk.vec_id = ex.vec_id
      |LEFT JOIN rvk ON rvk.query_id = ex.query_id
      |  AND rvk.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** The ADC shortlist CTE (`cand`, rn <= shortlist) plus the exact
    * rerank of the finalists — shared by q87 (the reranked top-k) and
    * q88 (its recall). */
  private def pqRerankCtes(cfg: Pq.PqConfig, nQ: Int,
                           shortlist: Int): String =
    s"""cand AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_x1e6, vec_id) AS rn
      |  FROM adc_s) WHERE rn <= $shortlist),
      |rr AS (
      |  SELECT c.query_id, c.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS l2_x1e6
      |  FROM cand c JOIN e ON e.vec_id = c.vec_id
      |  JOIN q ON q.query_id = c.query_id)""".stripMargin

  /** q87: ADC shortlist → exact rerank → top-k. */
  private def pqRerankTopKOracle(cfg: Pq.PqConfig, nQ: Int, k: Int,
                                 shortlist: Int): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${pqAdcCtes(cfg, nQ)},
      |${pqRerankCtes(cfg, nQ, shortlist)}
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, l2_x1e6 FROM (
      |  SELECT query_id, vec_id, l2_x1e6,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rank
      |  FROM rr) WHERE rank <= $k
      |ORDER BY query_id, rank""".stripMargin

  /** q88: recall of the two-stage top-k against the exact top-k. */
  private def pqRerankRecallOracle(cfg: Pq.PqConfig, nQ: Int, k: Int,
                                   shortlist: Int): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${pqAdcCtes(cfg, nQ)},
      |${pqRerankCtes(cfg, nQ, shortlist)},
      |rrk AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rn
      |  FROM rr) WHERE rn <= $k),
      |ex_d AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS d
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
      |  FROM ex_d) WHERE rn <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(rrk.vec_id) AS BIGINT) AS rerank_hits
      |FROM ex LEFT JOIN rrk ON rrk.query_id = ex.query_id
      |  AND rrk.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** q91: [[TextAnalysis.referenceOverlapScore]] replayed — the
    * reference vocabulary from the same df-floored slice aggregate,
    * per-doc distinct-trigram overlap, the identical
    * (1000.0 · hits) / n IEEE division under floor, fixed bucket
    * thresholds. Docs with < 3 tokens come back through the left
    * join with n_tri = 0, score 0, bucket 'tail'. */
  /** The q91 CTE chain ending in
    * `scb (doc_id, n_tri, ref_hits, score_x1000, bucket)` — shared
    * with q95, which filters it through the bucket-rate acceptance. */
  private def referenceOverlapCtes(refSource: String,
                                   minDf: Int): String =
    s"""refsh AS (
      |  SELECT s FROM (
      |    SELECT doc_id, unnest(${shingles3Sql("text")}) AS s
      |    FROM documents WHERE source = '$refSource')
      |  GROUP BY s HAVING count(*) >= $minDf),
      |sh AS (SELECT doc_id,
      |    unnest(list_concat(coalesce(${shingles3Sql("text")},
      |      []::VARCHAR[]), [CAST(NULL AS VARCHAR)])) AS s
      |  FROM documents),
      |agg AS (
      |  SELECT sh.doc_id, CAST(count(sh.s) AS BIGINT) AS n_tri,
      |    CAST(count(r.s) AS BIGINT) AS ref_hits
      |  FROM sh LEFT JOIN refsh r ON r.s = sh.s
      |  GROUP BY sh.doc_id),
      |sc AS (
      |  SELECT doc_id, n_tri, ref_hits,
      |    CAST(CASE WHEN n_tri > 0
      |      THEN floor(1000.0 * ref_hits / n_tri) ELSE 0 END AS BIGINT)
      |      AS score_x1000
      |  FROM agg),
      |scb AS (
      |  SELECT doc_id, n_tri, ref_hits, score_x1000,
      |    CASE WHEN score_x1000 >= 667 THEN 'head'
      |         WHEN score_x1000 >= 334 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM sc)""".stripMargin

  private def referenceOverlapOracle(refSource: String,
                                     minDf: Int): String =
    s"""WITH ${referenceOverlapCtes(refSource, minDf)}
      |SELECT doc_id, n_tri, ref_hits, score_x1000, bucket
      |FROM scb ORDER BY doc_id""".stripMargin

  /** q95: [[graft.ops.Sampling.bucketSample]] over the q91 buckets —
    * the same salted-hash acceptance as q75's mix (h60 is
    * non-negative, so `%` equals pmod). */
  private def referenceSampleOracle(refSource: String, minDf: Int,
                                    headPpm: Long, middlePpm: Long,
                                    tailPpm: Long): String = {
    val h = graft.ops.Hashing.h60Sql(
      "'bucketmix:' || CAST(doc_id AS VARCHAR)")
    s"""WITH ${referenceOverlapCtes(refSource, minDf)}
      |SELECT doc_id, score_x1000, bucket,
      |  CAST(CASE bucket WHEN 'head' THEN $headPpm
      |       WHEN 'middle' THEN $middlePpm
      |       ELSE $tailPpm END AS BIGINT) AS rate_ppm
      |FROM scb
      |WHERE $h % 1000000 < CASE bucket WHEN 'head' THEN $headPpm
      |  WHEN 'middle' THEN $middlePpm ELSE $tailPpm END
      |ORDER BY doc_id""".stripMargin
  }

  /** q92: [[graft.ops.Bpe.trainMerges]] replayed — the driver loop
    * unrolled into `steps` CTE stages. Each stage: adjacent-pair
    * counts over the spaced symbol encoding, the (total DESC, pair)
    * argmax via ORDER BY LIMIT 1, and reference BPE's greedy
    * left-to-right token-scan merge. The scan is sequential per word,
    * which SQL can't loop — but its SELECTION is closed-form: an
    * occurrence (t[i], t[i+1]) = (a, b) merges iff it is at an even
    * offset within its island of consecutive occurrence positions
    * (for a ≠ b occurrences are never adjacent — that would force
    * b = a — so every occurrence merges; for a = b, greedy keeps
    * every other one per run). Windows express that exactly:
    * lead() flags occurrences, a cumulative-count gaps-and-islands
    * id groups them, min-per-island gives the offset parity, lag()
    * drops the consumed right halves, and string_agg (NULLs skipped)
    * rebuilds the spaced encoding. Early exhaustion matches by
    * construction: an empty argmax CTE contributes no output row and
    * empties every later stage through its cross join. */
  /** The shared BPE CTE chain: wv (word vocab), v0 (spaced chars) and
    * `steps` (p_i, b_i, v_i) stages; v_i carries the word column so
    * q93 can join subword counts back to the corpus. */
  /** The shared BPE header: wv (word vocab) and v0 (spaced chars).
    * lazy: referenced (via the oracle defs) from the `queries` Seq,
    * which this object initializes FIRST. */
  private lazy val bpeHeaderCtes: String =
    s"""wv AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      |    FROM documents) t(w) WHERE w <> '' GROUP BY w),
      |v0 AS MATERIALIZED (
      |  SELECT w, ' ' || array_to_string(list_transform(range(1, len(w) + 1),
      |    i -> w[i]), ' ') || ' ' AS s, cnt FROM wv)""".stripMargin

  private def bpeCtes(steps: Int): String = {
    val header = bpeHeaderCtes
    val stages = (1 to steps).map { i =>
      s"""p$i AS (
        |  ${bpePairCountsSql(s"v${i - 1}")}),
        |b$i AS MATERIALIZED (
        |  SELECT pair, total, split_part(pair, ' ', 1) AS a,
        |    split_part(pair, ' ', 2) AS b
        |  FROM p$i ORDER BY total DESC, pair LIMIT 1),
        |${bpeScanStage(i.toString, s"v${i - 1}", s"v$i", s"b$i",
             leftJoin = false)}""".stripMargin
    }.mkString(",\n")
    s"$header,\n$stages"
  }

  /** Weighted adjacent-pair counts of a vocab CTE (w, s, cnt). */
  private def bpePairCountsSql(inV: String): String =
    s"""SELECT pair, CAST(sum(cnt) AS BIGINT) AS total FROM (
      |    SELECT unnest(list_transform(range(1, len(sy)),
      |      j -> sy[j] || ' ' || sy[j + 1])) AS pair, cnt
      |    FROM (SELECT regexp_split_to_array(trim(s), ' ') AS sy, cnt
      |          FROM $inV))
      |  GROUP BY pair""".stripMargin

  /** One greedy token-scan merge as a CTE chain: `selCte` holds the
    * (a, b) pair (one row, or zero), `inV`(w, s, cnt) is rewritten to
    * `outV`. Emits t/g/e/r$tag + $outV. See the q92 scaladoc for why
    * the windowed gaps-and-islands selection IS the sequential scan.
    * `leftJoin=false`: an empty selCte empties the vocab (the strict
    * trainer's early-exhaustion contract). `leftJoin=true`: an empty
    * selCte passes the vocab through unchanged (a batched round that
    * kept fewer than `batch` merges). */
  private def bpeScanStage(tag: String, inV: String, outV: String,
                           selCte: String, leftJoin: Boolean): String = {
    val join =
      if (leftJoin) s"LEFT JOIN $selCte k ON TRUE"
      else s"CROSS JOIN $selCte k"
    s"""t$tag AS (
      |  SELECT w, cnt, tok, pos,
      |    coalesce(tok = k.a AND
      |      lead(tok) OVER (PARTITION BY w ORDER BY pos) = k.b,
      |      FALSE) AS is_occ
      |  FROM (SELECT w, cnt, unnest(sy) AS tok,
      |          unnest(range(1, len(sy) + 1)) AS pos
      |        FROM (SELECT w, cnt, regexp_split_to_array(trim(s), ' ') AS sy
      |              FROM $inV))
      |  $join),
      |g$tag AS (
      |  SELECT w, cnt, tok, pos, is_occ,
      |    pos - count(*) FILTER (WHERE is_occ) OVER
      |      (PARTITION BY w ORDER BY pos
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM t$tag),
      |e$tag AS (
      |  SELECT w, cnt, tok, pos,
      |    is_occ AND (pos - min(pos) FILTER (WHERE is_occ) OVER
      |      (PARTITION BY w, isl)) % 2 = 0 AS sel
      |  FROM g$tag),
      |r$tag AS (
      |  SELECT w, cnt, tok, pos, sel,
      |    coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
      |      FALSE) AS prev_sel
      |  FROM e$tag),
      |$outV AS MATERIALIZED (
      |  SELECT r.w,
      |    ' ' || string_agg(
      |      CASE WHEN r.sel THEN k.a || k.b
      |           WHEN r.prev_sel THEN NULL
      |           ELSE r.tok END, ' ' ORDER BY r.pos) || ' ' AS s,
      |    r.cnt
      |  FROM r$tag r $join
      |  GROUP BY r.w, r.cnt)""".stripMargin
  }

  private def bpeMergesOracle(steps: Int): String = {
    val union = (1 to steps).map(i =>
      s"SELECT CAST($i AS INT) AS step, pair, total FROM b$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(steps)}
      |SELECT step, pair, total FROM (
      |$union) ORDER BY step""".stripMargin
  }

  /** q100: [[graft.ops.Bpe.trainMergesBatched]] replayed as a static
    * CTE schedule. Round structure is fixed up front (ceil(steps/
    * batch) rounds, round r capped at min(batch, steps−(r−1)·batch)),
    * so the whole train unrolls: per round, one pair-count CTE, one
    * top-`pool` candidate CTE (the same bounded ranking the driver
    * collects), `cap` chained greedy-selection CTEs (s_j = the
    * best-ranked candidate touching no symbol in any earlier kept
    * pair's {a, b, ab} closure — a NOT EXISTS over the kept union,
    * exactly the driver's walk), and
    * `cap` LEFT-JOIN scan stages applying the kept merges in rank
    * order (LEFT so an empty slot — conflict-shrunk round — passes
    * the vocab through). Output: (step, round, pair, total) with
    * step = row_number over (round, slot). */
  private def bpeBatchedOracle(steps: Int, batch: Int, pool: Int): String = {
    val rounds = (steps + batch - 1) / batch
    val roundSql = (1 to rounds).map { r =>
      val cap = math.min(batch, steps - (r - 1) * batch)
      val prevV = if (r == 1) "v0" else s"v${r - 1}"
      val sel = (1 to cap).map { j =>
        val guard = if (j == 1) "" else {
          val kept = (1 until j)
            .map(x => s"SELECT a, b FROM s${r}_$x")
            .mkString(" UNION ALL ")
          // the FUSED symbol kk.a || kk.b blocks too (the driver's
          // {a, b, ab} closure): a candidate touching it would merge
          // occurrences the earlier kept merge CREATES this round
          s"""
            |  WHERE NOT EXISTS (SELECT 1 FROM ($kept) kk
            |    WHERE c.a IN (kk.a, kk.b, kk.a || kk.b)
            |       OR c.b IN (kk.a, kk.b, kk.a || kk.b))""".stripMargin
        }
        s"""s${r}_$j AS MATERIALIZED (
          |  SELECT pair, total, a, b FROM c$r c$guard
          |  ORDER BY total DESC, pair LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val scans = (1 to cap).map { j =>
        val inV = if (j == 1) prevV else s"u${r}_${j - 1}"
        val outV = if (j == cap) s"v$r" else s"u${r}_$j"
        bpeScanStage(s"${r}_$j", inV, outV, s"s${r}_$j", leftJoin = true)
      }.mkString(",\n")
      s"""pb$r AS (
        |  ${bpePairCountsSql(prevV)}),
        |c$r AS MATERIALIZED (
        |  SELECT pair, total, split_part(pair, ' ', 1) AS a,
        |    split_part(pair, ' ', 2) AS b
        |  FROM pb$r ORDER BY total DESC, pair LIMIT $pool),
        |$sel,
        |$scans""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).flatMap { r =>
      val cap = math.min(batch, steps - (r - 1) * batch)
      (1 to cap).map(j =>
        s"SELECT $r AS rnd, $j AS slot, pair, total FROM s${r}_$j")
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeHeaderCtes},
      |$roundSql
      |SELECT CAST(row_number() OVER (ORDER BY rnd, slot) AS INT) AS step,
      |  CAST(rnd AS INT) AS round, pair, total
      |FROM (
      |$union)
      |ORDER BY step""".stripMargin
  }

  /** q93: the learned merges applied — per-word subword counts from
    * the final v_steps encodings, joined back to the corpus word
    * stream, summed per doc; wordless docs at (0, 0) via the left
    * join. */
  private def bpeSubwordsOracle(steps: Int): String =
    s"""WITH ${bpeCtes(steps)},
      |vm AS (
      |  SELECT w, CAST(len(regexp_split_to_array(trim(s), ' ')) AS BIGINT)
      |    AS n_sub
      |  FROM v$steps),
      |dw AS (
      |  SELECT doc_id, unnest(list_concat(
      |    coalesce(list_filter(
      |      regexp_split_to_array(trim(lower(text)), '\\s+'),
      |      x -> x <> ''), []::VARCHAR[]),
      |    [CAST(NULL AS VARCHAR)])) AS w
      |  FROM documents),
      |agg AS (
      |  SELECT dw.doc_id, CAST(count(dw.w) AS BIGINT) AS n_words,
      |    CAST(coalesce(sum(vm.n_sub), 0) AS BIGINT) AS n_subwords
      |  FROM dw LEFT JOIN vm ON vm.w = dw.w
      |  GROUP BY dw.doc_id)
      |SELECT doc_id, n_words, n_subwords FROM agg
      |ORDER BY doc_id""".stripMargin

  /** q98: [[Covariance.gramFixedPoint]] replayed — per (vector,
    * i<=j) the identical floor(v_i·v_j·2^b + 0.5) quantization, then
    * integer sums (associative in any order, so however Spark's
    * Aggregator partitioned the fold, the totals match). */
  private def gramMatrixOracle(scaleBits: Int): String = {
    val scale = (1L << scaleBits).toDouble
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cells AS (
      |  SELECT i.i AS i, j.j AS j,
      |    CAST(floor(v[i.i] * v[j.j] * $scale + 0.5) AS BIGINT) AS q
      |  FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
      |  WHERE j.j >= i.i)
      |SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
      |  CAST(count(*) AS BIGINT) AS n_vec, CAST(sum(q) AS BIGINT) AS s_fp
      |FROM cells GROUP BY 1, 2 ORDER BY i, j""".stripMargin
  }

  /** q97: [[Packing.slidingWindows]] replayed — the same normalized
    * token stream, window count floor((T−1)/stride)+1, inclusive-end
    * list_slice mirroring Spark's length-based slice, and the
    * space-rejoined chunk text. Token-less docs emit no window
    * (range(0, 0) is empty). */
  private def slidingChunksOracle(width: Int, stride: Int): String =
    s"""WITH tk AS (
      |  SELECT doc_id,
      |    coalesce(list_filter(
      |      regexp_split_to_array(trim(lower(text)), '\\s+'),
      |      x -> x <> ''), []::VARCHAR[]) AS toks
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, CASE WHEN len(toks) > 0
      |      THEN CAST(floor((len(toks) - 1) / $stride.0) AS BIGINT) + 1
      |      ELSE 0 END)) AS i
      |  FROM tk)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(least($width, len(toks) - i * $stride) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(toks, i * $stride + 1,
      |    least(i * $stride + $width, len(toks))), ' ') AS chunk_text
      |FROM w ORDER BY doc_id, chunk_idx""".stripMargin

  /** q96: [[Similarity.semDedupKeep]] replayed — q46's recursive-reach
    * component roots, per-(cluster, dim) fixed-point integer sums
    * (order-independent, so hash-stable), the pos-ORDERED centroid
    * list with the identical s/(n·2^b) division, and the
    * sequential-fold distance under floor before the (d, vec_id)
    * rank. */
  private def semDedupKeepOracle(minSim: Double, scaleBits: Int): String = {
    val scale = (1L << scaleBits).toDouble
    s"""WITH RECURSIVE e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $minSim),
      |edges AS (SELECT va AS a, vb AS b FROM pairs
      |          UNION SELECT vb, va FROM pairs),
      |reach(x, y) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.x, e2.b FROM reach r JOIN edges e2 ON e2.a = r.y),
      |roots AS (
      |  SELECT d.vec_id,
      |    CAST(least(d.vec_id, coalesce(min(r.y), d.vec_id)) AS BIGINT)
      |      AS cluster_root
      |  FROM embeddings d LEFT JOIN reach r ON r.x = d.vec_id
      |  GROUP BY d.vec_id),
      |mem AS (SELECT e.vec_id, r.cluster_root, e.v
      |        FROM e JOIN roots r ON r.vec_id = e.vec_id),
      |dims AS (
      |  SELECT cluster_root, i.i AS pos,
      |    CAST(floor(v[i.i] * $scale + 0.5) AS BIGINT) AS q
      |  FROM mem CROSS JOIN range(1, 65) i(i)),
      |sums AS (
      |  SELECT cluster_root, pos, CAST(sum(q) AS BIGINT) AS s_fp,
      |    CAST(count(*) AS BIGINT) AS nm
      |  FROM dims GROUP BY 1, 2),
      |cents AS MATERIALIZED (
      |  SELECT cluster_root,
      |    list_transform(list(struct_pack(p := pos, s := s_fp, n := nm)
      |        ORDER BY pos),
      |      x -> CAST(x.s AS DOUBLE) / (CAST(x.n AS DOUBLE) * $scale))
      |      AS c
      |  FROM sums GROUP BY cluster_root),
      |scored AS (
      |  SELECT m.vec_id, m.cluster_root,
      |    CAST(floor((${dotSql("m.v", "m.v")}
      |      - 2.0 * ${dotSql("m.v", "c.c")}
      |      + ${dotSql("c.c", "c.c")}) * 1000000) AS BIGINT) AS d_x1e6
      |  FROM mem m JOIN cents c ON c.cluster_root = m.cluster_root)
      |SELECT vec_id, cluster_root, d_x1e6,
      |  (row_number() OVER (PARTITION BY cluster_root
      |    ORDER BY d_x1e6, vec_id) = 1) AS keep
      |FROM scored ORDER BY vec_id""".stripMargin
  }

  /** The IVF-PQ CTE chain on top of [[pqCodesCtes]] (needs its `e`,
    * `cb`, `codes`), ending in `irr (query_id, vec_id, l2_x1e6)`:
    * coarse centroids as the q74 LIMIT subquery over the nonzero-norm
    * base (= [[IvfIndex.sampleQuantizerDf]], relabeling-invariant),
    * corpus placement = argmin cell (r = 1), query probes = r <=
    * nProbe, candidates by cell co-residence, ADC over candidates
    * only (the shifted/masked-code join + j-ordered fold, as q85),
    * shortlist, exact rerank. */
  private def ivfPqCtes(cfg: Pq.PqConfig, cellSizeSql: String, nProbe: Int,
                        nQ: Int, shortlist: Int,
                        pfx: String = "",
                        deletePred: Option[String] = None): String = {
    val mask = (1 << cfg.bitsPerCode) - 1
    // like pqCodesCtes, the chain is prefixable so q104 can run it
    // TWICE in one statement (raw + rotated corpus, prefix `r`); it
    // reads `e`/`cb`/`codes` from the same-prefix pqCodesCtes chain
    val p = pfx
    s"""${p}q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM ${p}e WHERE vec_id < $nQ),
      |${p}nn AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM ${p}e),
      |${p}nz AS MATERIALIZED (SELECT vec_id, v FROM ${p}nn WHERE nrm > 0),
      |${p}ccents AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv,
      |    ${sqSumSql("v")} AS c2
      |  FROM (SELECT vec_id, v FROM ${p}nz ORDER BY vec_id
      |        LIMIT (SELECT CAST(ceil(count(*) / ($cellSizeSql)) AS BIGINT)
      |               FROM ${p}nz))),
      |${p}cdist AS (
      |  SELECT z.vec_id, c.cid,
      |    c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
      |  FROM ${p}e z CROSS JOIN ${p}ccents c),
      |${p}crk AS MATERIALIZED (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      |  FROM ${p}cdist),
      |${p}placed AS (SELECT vec_id, cid AS cell FROM ${p}crk
      |  WHERE r = 1${deletePred.map(d => s" AND NOT ($d)").getOrElse("")}),
      |${p}qprob AS (SELECT vec_id AS query_id, cid AS cell FROM ${p}crk
      |          WHERE r <= $nProbe AND vec_id < $nQ),
      |${p}icand AS (
      |  SELECT qp.query_id, p.vec_id
      |  FROM ${p}placed p JOIN ${p}qprob qp ON p.cell = qp.cell
      |  WHERE p.vec_id <> qp.query_id),
      |${p}iadc_d AS (
      |  SELECT cd.query_id, cd.vec_id, j.j,
      |    ${pqSliceC2("cb.cv", "j.j", cfg)}
      |      - 2.0 * ${pqSliceDot("q.qv", "cb.cv", "j.j", cfg)} AS d
      |  FROM ${p}icand cd CROSS JOIN range(0, ${cfg.m}) j(j)
      |  JOIN ${p}codes c ON c.vec_id = cd.vec_id
      |  JOIN ${p}q q ON q.query_id = cd.query_id
      |  JOIN ${p}cb cb ON cb.code = (c.pq_code >> (${cfg.bitsPerCode} * j.j)) & $mask),
      |${p}iadc_s AS (
      |  SELECT query_id, vec_id,
      |    CAST(floor(list_reduce(list(d ORDER BY j), (x, y) -> x + y)
      |      * 1000000) AS BIGINT) AS adc_x1e6
      |  FROM ${p}iadc_d GROUP BY query_id, vec_id),
      |${p}isl AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_x1e6, vec_id) AS rn
      |  FROM ${p}iadc_s) WHERE rn <= $shortlist),
      |${p}irr AS (
      |  SELECT c.query_id, c.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS l2_x1e6
      |  FROM ${p}isl c JOIN ${p}e e ON e.vec_id = c.vec_id
      |  JOIN ${p}q q ON q.query_id = c.query_id)""".stripMargin
  }

  /** q135's oracle: q89's serving chain with the deleted ids excluded
    * at placement (a tombstoned/purged vector leaves the candidate
    * universe; quantizer, codebooks and query set stay full-corpus —
    * the pinned-quantizer contract), the SAME ranking emitted twice
    * under phase tags — the Spark side serves once through the
    * tombstone anti-join and once from the purged rewrite, and both
    * must equal this chain row-for-row. */
  private def ivfPqDeleteOracle(cfg: Pq.PqConfig, cellSize: Int,
                                nProbe: Int, nQ: Int, k: Int,
                                shortlist: Int,
                                deletePred: String): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${ivfPqCtes(cfg, s"$cellSize.0", nProbe, nQ, shortlist,
          deletePred = Some(deletePred))},
      |ranked AS (
      |  SELECT query_id, CAST(rank AS INT) AS rank, vec_id, l2_x1e6 FROM (
      |    SELECT query_id, vec_id, l2_x1e6,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY l2_x1e6, vec_id) AS rank
      |    FROM irr) WHERE rank <= $k)
      |SELECT p.phase, r.query_id, r.rank, r.vec_id, r.l2_x1e6
      |FROM ranked r CROSS JOIN (
      |  SELECT unnest(['purged', 'tombstoned']) AS phase) p
      |ORDER BY p.phase, r.query_id, r.rank""".stripMargin

  /** q137's oracle — metadata-filtered ANN with BOTH dispatch
    * branches replayed and the branch CONDITION itself in SQL: each
    * predicate's chain computes the same (n, m) selectivity counts
    * the Spark side dispatches on, derives the exact pre-filter
    * ranking AND the IVF post-filter ranking, and emits whichever
    * the shared arithmetic picks — so a dispatch disagreement
    * between the engines is a hash mismatch, not a silent plan
    * difference. The IVF half replays the sample-quantizer
    * conventions of [[ivfPairsOracleWithCell]] (lowest-id LIMIT cut,
    * (d, cid) assignment ties, cid = vec_id per the
    * [[graft.ops.IvfIndex.sampleQuantizerDf]] relabeling argument).
    * `preds` are (tag, alias => SQL) so the predicate can be
    * qualified at each of its three positions. */
  private def filteredAnnOracle(preds: Seq[(String, String => String)],
                                nQ: Int, k: Int, cellSize: Int,
                                nProbe: Int, thrPermille: Int): String = {
    val (shared, chains) =
      filteredAnnCtes(preds, nQ, cellSize, nProbe)
    val sels = preds.zipWithIndex.map { case ((tag, _), i) =>
      s"""SELECT '$tag' AS pred_id, 'prefilter' AS mode, query_id,
        |  CAST(r AS INT) AS rank, vec_id, label, sim_x1e6
        |FROM prerk_$i WHERE r <= $k
        |  AND (SELECT 1000 * m <= $thrPermille * n_all FROM st_$i)
        |UNION ALL
        |SELECT '$tag', 'postfilter', query_id, CAST(r AS INT), vec_id,
        |  label, sim_x1e6
        |FROM postrk_$i WHERE r <= $k
        |  AND (SELECT 1000 * m > $thrPermille * n_all FROM st_$i)""".stripMargin
    }
    s"""WITH $shared,
      |${chains.mkString(",\n")}
      |${sels.mkString("\nUNION ALL\n")}
      |ORDER BY pred_id, query_id, rank""".stripMargin
  }

  /** The shared q137/q144 CTE text: quantizer, assignment, query
    * probes, and per-predicate pre/post ranked chains (suffixed _i). */
  private def filteredAnnCtes(preds: Seq[(String, String => String)],
                              nQ: Int, cellSize: Int, nProbe: Int)
    : (String, Seq[String]) = {
    val shared =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |n AS (SELECT vec_id, v, label, ${normSql("v")} AS nrm FROM e),
        |nz AS MATERIALIZED (SELECT * FROM n WHERE nrm > 0),
        |qs AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |  FROM nz WHERE vec_id < $nQ),
        |cents AS MATERIALIZED (
        |  SELECT vec_id AS cid, v AS cv, ${sqSumSql("v")} AS c2
        |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id
        |        LIMIT (SELECT CAST(ceil(count(*) / $cellSize.0) AS BIGINT)
        |               FROM nz))),
        |dist AS (
        |  SELECT z.vec_id, c.cid, c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
        |  FROM nz z CROSS JOIN cents c),
        |rk AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |  FROM dist),
        |home AS MATERIALIZED (SELECT vec_id, cid AS cell FROM rk WHERE r <= 1),
        |qc AS (SELECT vec_id AS query_id, cid AS cell FROM rk
        |  WHERE r <= $nProbe AND vec_id < $nQ)""".stripMargin
    val chains = preds.zipWithIndex.map { case ((_, p), i) =>
      s"""st_$i AS (SELECT count(*) AS n_all,
          |    coalesce(sum(CASE WHEN ${p("nz")} THEN 1 ELSE 0 END), 0) AS m
          |  FROM nz),
          |pre_$i AS (
          |  SELECT q.query_id, z.vec_id, z.label,
          |    CAST(floor(${dotSql("q.qv", "z.v")} / (q.qn * z.nrm) * 1000000)
          |      AS BIGINT) AS sim_x1e6
          |  FROM nz z CROSS JOIN qs q
          |  WHERE z.vec_id <> q.query_id AND (${p("z")})),
          |prerk_$i AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY sim_x1e6 DESC, vec_id) AS r FROM pre_$i),
          |post_$i AS (
          |  SELECT qc.query_id, z.vec_id, z.label,
          |    CAST(floor(${dotSql("q.qv", "z.v")} / (q.qn * z.nrm) * 1000000)
          |      AS BIGINT) AS sim_x1e6
          |  FROM qc JOIN home h ON h.cell = qc.cell
          |  JOIN nz z ON z.vec_id = h.vec_id
          |  JOIN qs q ON q.query_id = qc.query_id
          |  WHERE z.vec_id <> qc.query_id AND (${p("z")})),
          |postrk_$i AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY sim_x1e6 DESC, vec_id) AS r FROM post_$i)""".stripMargin
    }
    (shared, chains)
  }

  /** q144's oracle — the recall-accounting twin of q137's post-filter
    * branch (the q45/q58 pattern: every approximate path carries a
    * hash-checked recall row): the exact filtered top-k LEFT JOINs
    * the IVF filtered top-k, integer hits per query. */
  private def filteredAnnRecallOracle(pred: String => String, nQ: Int,
                                      k: Int, cellSize: Int,
                                      nProbe: Int): String = {
    val (shared, chains) =
      filteredAnnCtes(Seq(("x", pred)), nQ, cellSize, nProbe)
    s"""WITH $shared,
      |${chains.mkString(",\n")},
      |ex AS (SELECT query_id, vec_id FROM prerk_0 WHERE r <= $k),
      |an AS (SELECT query_id, vec_id FROM postrk_0 WHERE r <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(an.vec_id) AS BIGINT) AS ann_hits
      |FROM ex LEFT JOIN an
      |  ON an.query_id = ex.query_id AND an.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** q89: the IVF-PQ serving path end-to-end. */
  private def ivfPqTopKOracle(cfg: Pq.PqConfig, cellSize: Int, nProbe: Int,
                              nQ: Int, k: Int, shortlist: Int): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${ivfPqCtes(cfg, s"$cellSize.0", nProbe, nQ, shortlist)}
      |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, l2_x1e6 FROM (
      |  SELECT query_id, vec_id, l2_x1e6,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rank
      |  FROM irr) WHERE rank <= $k
      |ORDER BY query_id, rank""".stripMargin

  /** q90: IVF-PQ recall vs the exact top-k — cell-probing loss and
    * code-fidelity loss folded into one hash-checked number. */
  private def ivfPqRecallOracle(cfg: Pq.PqConfig, cellSize: Int,
                                nProbe: Int, nQ: Int, k: Int,
                                shortlist: Int): String =
    s"""WITH ${pqCodesCtes(cfg)},
      |${ivfPqCtes(cfg, s"$cellSize.0", nProbe, nQ, shortlist)},
      |ivk AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rn
      |  FROM irr) WHERE rn <= $k),
      |ex_d AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS d
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
      |  FROM ex_d) WHERE rn <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(ivk.vec_id) AS BIGINT) AS ivfpq_hits
      |FROM ex LEFT JOIN ivk ON ivk.query_id = ex.query_id
      |  AND ivk.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** q101: [[ivfPqRecallOracle]] with the cell size REDERIVED from
    * the oracle's own corpus count — the q81 pattern:
    * c = greatest(1, floor(√n/nProbe + 0.5)) is Spark's
    * max(1, round(√n/nProbe)) ([[graft.ops.IvfIndex.ivfCellConfig]]),
    * evaluated over the same nonzero-norm base the quantizer cut
    * uses, so the serving default's sizing law itself is under the
    * hash. */
  private def ivfPqRecallAutoOracle(cfg: Pq.PqConfig, nProbe: Int,
                                    nQ: Int, k: Int,
                                    shortlist: Int): String = {
    val cellSql = s"greatest(1, floor(sqrt(count(*)) / $nProbe + 0.5))"
    s"""WITH ${pqCodesCtes(cfg)},
      |${ivfPqCtes(cfg, cellSql, nProbe, nQ, shortlist)},
      |ivk AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY l2_x1e6, vec_id) AS rn
      |  FROM irr) WHERE rn <= $k),
      |ex_d AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(floor((${dotSql("e.v", "e.v")}
      |      - 2.0 * ${dotSql("q.qv", "e.v")}) * 1000000) AS BIGINT) AS d
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ex AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
      |  FROM ex_d) WHERE rn <= $k)
      |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS exact_k,
      |  CAST(count(ivk.vec_id) AS BIGINT) AS ivfpq_hits
      |FROM ex LEFT JOIN ivk ON ivk.query_id = ex.query_id
      |  AND ivk.vec_id = ex.vec_id
      |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** DuckDB SQL replaying [[Packing.packChunks]]'s chunk ids (the q49
    * prefix-sum CTEs) then [[Sharding.epochShards]]: the same
    * epoch-salted [[Hashing.h60]], `mod nShards` (h is non-negative,
    * so `%` equals pmod), and the (h, chunk_id) in-shard total
    * order. */
  private def epochShardsOracle(contextLen: Int, nShards: Int,
                                epoch: Int): String = {
    val h = graft.ops.Hashing.h60Sql(
      s"'shuffle:$epoch:' || CAST(chunk_id AS VARCHAR)")
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 0) AS BIGINT) AS n_tokens
      |  FROM documents),
      |off AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_offset
      |  FROM tok),
      |ch AS (
      |  SELECT DISTINCT CAST(floor(start_offset / $contextLen.0) AS BIGINT)
      |    AS chunk_id
      |  FROM off),
      |hs AS (SELECT chunk_id, $h AS h FROM ch)
      |SELECT chunk_id, h % $nShards AS shard,
      |  CAST(row_number() OVER (PARTITION BY h % $nShards
      |    ORDER BY h, chunk_id) - 1 AS BIGINT) AS shard_pos
      |FROM hs ORDER BY shard, shard_pos""".stripMargin
  }

  /** DuckDB SQL replaying [[IvfIndex.lloydCellStats]] over the
    * [[IvfIndex.sampleQuantizerDf]] quantizer (cid = vec_id — the
    * relabeling-invariant form, here VISIBLE in the output, so the
    * oracle must label cells identically, not just equivalently).
    * Assignment is the q74 replay at nProbe=1; the update statistics
    * are exact integer arithmetic end-to-end: float→double widening,
    * a power-of-two scale multiply, floor — each bit-exact IEEE ops —
    * then an integer sum, associative in any order. */
  private def lloydStatsOracle(cellSize: Int, scaleBits: Int): String = {
    val scale = (1L << scaleBits).toDouble
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |nz AS (SELECT vec_id, v FROM n WHERE nrm > 0),
      |cents AS MATERIALIZED (
      |  SELECT vec_id AS cid, v AS cv,
      |    ${sqSumSql("v")} AS c2
      |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id
      |        LIMIT (SELECT CAST(ceil(count(*) / $cellSize.0) AS BIGINT)
      |               FROM nz))),
      |dist AS (
      |  SELECT z.vec_id, c.cid,
      |    c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
      |  FROM nz z CROSS JOIN cents c),
      |rk AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      |  FROM dist),
      |av AS (SELECT vec_id, cid AS cell FROM rk WHERE r = 1),
      |qv AS (
      |  SELECT a.cell, CAST(p.i AS INT) AS pos,
      |    CAST(floor(z.v[p.i] * $scale + 0.5) AS BIGINT) AS q
      |  FROM av a JOIN nz z USING (vec_id)
      |  CROSS JOIN range(1, 65) p(i))
      |SELECT cell, pos, CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(sum(q) AS BIGINT) AS s_fp
      |FROM qv GROUP BY cell, pos ORDER BY cell, pos""".stripMargin
  }

  /** q102: [[IvfIndex.lloydTrainStats]] replayed — the whole Lloyd
    * TRAJECTORY as chained static CTEs. Per iteration i: assignment
    * to c_{i−1} (the q82 argmin replay — c2 − 2·dot fold, (d, cid)
    * tie-break), the quantized integer sufficient statistics st_i,
    * and the update c_i = means (one exact division per entry,
    * list-assembled in pos order) with empty cells retaining their
    * prior centroid through the left-join coalesce. Every st_i rides
    * the output with its iteration number, so a divergence at ANY
    * sweep — assignment, accumulation, or update — breaks the hash. */
  private def lloydTrainOracle(cellSize: Int, scaleBits: Int,
                               iters: Int): String = {
    val scale = (1L << scaleBits).toDouble
    def c2Of(v: String): String = sqSumSql(v)
    val header =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
        |nz AS MATERIALIZED (SELECT vec_id, v FROM n WHERE nrm > 0),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cid, v AS cv, ${c2Of("v")} AS c2
        |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id
        |        LIMIT (SELECT CAST(ceil(count(*) / $cellSize.0) AS BIGINT)
        |               FROM nz)))""".stripMargin
    val stages = (1 to iters).map { i =>
      val update = if (i == iters) "" else s""",
        |c$i AS (
        |  SELECT cid, cv, ${c2Of("cv")} AS c2
        |  FROM (
        |    SELECT c.cid, coalesce(m.mv, c.cv) AS cv
        |    FROM c${i - 1} c LEFT JOIN (
        |      SELECT cell AS cid,
        |        list((CAST(s_fp AS DOUBLE) / $scale) /
        |          CAST(n_members AS DOUBLE) ORDER BY pos) AS mv
        |      FROM st$i GROUP BY cell) m USING (cid)))""".stripMargin
      s"""d$i AS (
        |  SELECT z.vec_id, c.cid,
        |    c.c2 - 2.0 * ${dotSql("z.v", "c.cv")} AS d
        |  FROM nz z CROSS JOIN c${i - 1} c),
        |rk$i AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |  FROM d$i),
        |av$i AS (SELECT vec_id, cid AS cell FROM rk$i WHERE r = 1),
        |st$i AS (
        |  SELECT cell, pos, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(q) AS BIGINT) AS s_fp
        |  FROM (
        |    SELECT a.cell, CAST(p.i AS INT) AS pos,
        |      CAST(floor(z.v[p.i] * $scale + 0.5) AS BIGINT) AS q
        |    FROM av$i a JOIN nz z USING (vec_id)
        |    CROSS JOIN range(1, 65) p(i))
        |  GROUP BY cell, pos)$update""".stripMargin
    }.mkString(",\n")
    val union = (1 to iters)
      .map(i => s"SELECT CAST($i AS INT) AS iter, cell, pos, n_members, s_fp FROM st$i")
      .mkString("\nUNION ALL ")
    s"""WITH $header,
      |$stages
      |SELECT iter, cell, pos, n_members, s_fp FROM (
      |$union)
      |ORDER BY iter, cell, pos""".stripMargin
  }

  /** DuckDB SQL replaying [[TextAnalysis.piiScrub]] — the same pattern
    * literals (RE2-compatible subset, no lookarounds/backreferences)
    * with DuckDB's explicit 'g' flag for global replacement. */
  private def piiOracle: String = {
    val (em, ph, ip) = (TextAnalysis.EmailRe, TextAnalysis.PhoneRe,
      TextAnalysis.IpRe)
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(
      |    regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ph')) AS BIGINT)
      |    AS n_phones,
      |  CAST(len(regexp_extract_all(
      |    regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'),
      |      '$ph', '<PHONE>', 'g'), '$ip')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(text,
      |    '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'),
      |    '$ip', '<IP>', 'g') AS scrubbed_text
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain replaying the MinHash-LSH candidate pipeline
    * exactly — shingle h31s, the 16 universal-hash minima, band
    * assembly, and (when `maxBucket` is set) bucket sizing + the cap,
    * then candidate expansion and the shingle-overlap counts.
    * `maxBucket = None` replays the UNCAPPED band join — the same
    * machinery minus the `sized`/cap CTEs — so q65's oracle replays
    * the Spark path's own banding decisions exactly like q67's does
    * (no LSH-recall pin on either). `src` is the relation providing
    * (doc_id, text) — `documents`, or a curated upstream CTE (q73).
    * Parameterized by the SAME [[Hashing.minhashCoeffs]] constants as
    * the Spark side (the simhashOracle lockstep pattern), so widening
    * the signature regenerates every oracle built on it. Ends with
    * CTEs `pairs` (doc_a, doc_b, common) and `cnt` (doc_id, n). */
  private def cappedLshCtes(maxBucket: Option[Int],
                            src: String = "documents"): String = {
    val P = Hashing.P31
    val mins = Hashing.minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS mh_$i"
    }.mkString(",\n      |    ")
    val bandRows = (0 until 8).map { j =>
      s"SELECT doc_id, $j AS bi, mh_${2 * j} * $P + mh_${2 * j + 1} AS bv FROM mh"
    }.mkString("\n      |  UNION ALL ")
    val keptCtes = maxBucket match {
      case Some(cap) =>
        s"""sized AS (
      |  SELECT bi, bv, count(*) AS bsz FROM bands GROUP BY bi, bv),
      |kept AS (
      |  SELECT b.doc_id, b.bi, b.bv FROM bands b
      |  JOIN sized z ON z.bi = b.bi AND z.bv = b.bv
      |  WHERE z.bsz <= $cap)"""
      case None =>
        "kept AS (SELECT doc_id, bi, bv FROM bands)"
    }
    s"""sh AS MATERIALIZED (
      |  SELECT doc_id, unnest(${shingles3Sql("text")}) AS s FROM $src),
      |hh AS (SELECT doc_id, ${h31Sql("s")} AS h FROM sh),
      |mh AS (
      |  SELECT doc_id,
      |    $mins
      |  FROM hh GROUP BY doc_id),
      |bands AS MATERIALIZED (
      |  $bandRows),
      |$keptCtes,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM kept a JOIN kept b
      |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS common
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
      |  GROUP BY 1, 2)""".stripMargin
  }

  /** Recursive-CTE connected components over a CTE `jp` (doc_a,
    * doc_b): edges both ways, reachability closure, min-label roots
    * over `universe` (the relation carrying every doc_id — singletons
    * root themselves), cluster sizes. Shared by the materialization
    * oracles (q65/q67) and the curation capstone (q73). Must be
    * spliced under a `WITH RECURSIVE`. */
  private def ccCtes(universe: String): String =
    s"""edges AS (SELECT doc_a AS a, doc_b AS b FROM jp
      |          UNION SELECT doc_b, doc_a FROM jp),
      |reach(n, m) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
      |lab AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS root
      |  FROM $universe d LEFT JOIN reach r ON r.n = d.doc_id
      |  GROUP BY d.doc_id),
      |siz AS (SELECT root, count(*) AS cluster_size FROM lab GROUP BY root)""".stripMargin

  /** DuckDB SQL replaying [[Similarity.nearDupPairsLsh]] exactly —
    * the q45 pattern widened to the pair join: the nPlanes seed-fixed
    * hyperplanes embed as literals (shortest-decimal repr round-trips
    * to the identical double), each vector gets nPlanes sign bits,
    * band j's value is `Σ_k 2^k · b_{bitsPerBand·j+k}` (what the Spark
    * side's word extraction `shiftright(sigw[1 + 16j/64], 16j%64) &
    * mask` computes — the multi-word packing assigns plane p to bit
    * p%64 of word p/64, so a band's planes are contiguous in one word
    * and the bit-sum below is representation-independent; DuckDB
    * raises on `1 << 63` and its shift semantics differ, hence bits
    * not words here), candidates are the distinct band-sharing
    * pairs, and the rerank is the same sequential-fold dot. `planted`
    * = nPlanted prepends the [[Similarity.plantNearDups]]
    * derivation — the +0.1 double add and the float32 round-trip are
    * both exact IEEE operations, so the clone vectors are replayed
    * bit-for-bit. Every stage deterministic, so the equality holds on
    * any dataset — no LSH-recall pin. */
  private def lshPairsOracle(minSim: Double, bitsPerBand: Int = 2,
                             planted: Option[Int] = None,
                             nPlanes: Int = 64): String = {
    require(64 % bitsPerBand == 0 && nPlanes % bitsPerBand == 0,
      "bitsPerBand must divide 64 and nPlanes")
    val planes = Similarity.hyperplanes(nPlanes, 64)
    def dotLit(p: Array[Double]): String = dotLitSql("v", p.toSeq)
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotLit(p)} >= 0 THEN 1 ELSE 0 END) AS b$i"
    }.mkString(",\n      |    ")
    val bandRows = (0 until nPlanes / bitsPerBand).map { j =>
      val terms = (0 until bitsPerBand).map { k =>
        val bit = s"b${bitsPerBand * j + k}"
        if (k == 0) bit else s"${1L << k} * $bit"
      }.mkString(" + ")
      s"SELECT vec_id, $j AS bi, $terms AS bv FROM sb"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH ${plantedEmbCtes(planted)},
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |nz AS MATERIALIZED (SELECT * FROM n WHERE nrm > 0),
      |sb AS MATERIALIZED (
      |  SELECT vec_id,
      |    $bitCols
      |  FROM nz),
      |bands AS MATERIALIZED (
      |  $bandRows),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b
      |    ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id < b.vec_id),
      |sims AS (
      |  SELECT c.vec_a, c.vec_b,
      |    ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS sim
      |  FROM cand c
      |  JOIN nz x ON x.vec_id = c.vec_a
      |  JOIN nz y ON y.vec_id = c.vec_b)
      |SELECT vec_a, vec_b, CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1e6
      |FROM sims WHERE sim >= $minSim
      |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** DuckDB SQL replaying [[Similarity.nearDupPairsLshAuto]] — the
    * [[lshPairsOracle]] pattern with the band config DERIVED from the
    * corpus instead of pinned: the oracle recomputes n = count of the
    * (planted) corpus, replays [[Similarity.lshBitsForCorpus]]'s
    * integer tier switch in SQL (smallest l with 2^l >= n, then the
    * 8/16 word-aligned width — exact integer math, no cross-engine
    * float risk), and selects the matching band arms. The per-tier
    * band COUNTS are constants of the law (pure functions of the
    * pinned recallSim/maxMiss — [[Similarity.lshBandsForBits]]), so
    * the builder evaluates that shared Scala function once per tier
    * and emits the counts the way it emits the plane literals
    * themselves. Planes for the smaller tier are a PREFIX of the
    * larger tier's (one seeded LCG stream fills row-major), so one
    * literal set serves both arms. Corpora past the 16-bit tier
    * (n > 2^16) raise in the oracle rather than silently diverging —
    * the Spark side continues through the 32-bit tier. */
  private def lshAutoPairsOracle(minSim: Double,
                                 planted: Option[Int] = None): String = {
    val bands8 = Similarity.lshBandsForBits(8)
    val bands16 = Similarity.lshBandsForBits(16)
    val nPlanesMax = math.max(8 * bands8, 16 * bands16)
    val planes = Similarity.hyperplanes(nPlanesMax, 64)
    def dotLit(p: Array[Double]): String = dotLitSql("v", p.toSeq)
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotLit(p)} >= 0 THEN 1 ELSE 0 END) AS b$i"
    }.mkString(",\n      |    ")
    def bandArms(bits: Int, nBands: Int): String = (0 until nBands).map { j =>
      val terms = (0 until bits).map { k =>
        val bit = s"b${bits * j + k}"
        if (k == 0) bit else s"${1L << k} * $bit"
      }.mkString(" + ")
      s"SELECT vec_id, $j AS bi, $terms AS bv FROM sb WHERE (SELECT bits FROM cfg) = $bits"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH ${plantedEmbCtes(planted)},
      |cfg AS (
      |  SELECT CASE WHEN l2 <= 8 THEN 8 WHEN l2 <= 16 THEN 16
      |         ELSE error('corpus beyond the 16-bit oracle tier') END AS bits
      |  FROM (SELECT min(l) AS l2 FROM range(1, 48) t(l)
      |        WHERE (CAST(1 AS BIGINT) << l) >= (SELECT count(*) FROM e))),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |nz AS MATERIALIZED (SELECT * FROM n WHERE nrm > 0),
      |sb AS MATERIALIZED (
      |  SELECT vec_id,
      |    $bitCols
      |  FROM nz),
      |bands AS MATERIALIZED (
      |  ${bandArms(8, bands8)}
      |  UNION ALL ${bandArms(16, bands16)}),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b
      |    ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id < b.vec_id),
      |sims AS (
      |  SELECT c.vec_a, c.vec_b,
      |    ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS sim
      |  FROM cand c
      |  JOIN nz x ON x.vec_id = c.vec_a
      |  JOIN nz y ON y.vec_id = c.vec_b)
      |SELECT vec_a, vec_b, CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1e6
      |FROM sims WHERE sim >= $minSim
      |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** CTE chain replaying [[Multimodal.blockHash]] exactly over
    * relation `src` (doc_id, text): the stub decode is utf-8 code
    * points (Spark `ascii` == DuckDB `unicode` per char), block index
    * is integer `(pos * 60) // n`, and the bit test is the
    * cross-multiplied integer mean comparison (DuckDB's sum() widens
    * to int128, matching the Spark side's Decimal(38,0) products —
    * see [[graft.ops.Multimodal.meanBitTest]]). Ends with CTE `ph`
    * (doc_id, phash), empty payloads included at signature 0. */
  private def phashSigCtes(src: String): String =
    s"""w AS (
      |  SELECT doc_id, string_split(text, '') AS a,
      |    CAST(length(text) AS BIGINT) AS n
      |  FROM $src WHERE length(text) > 0),
      |px AS (
      |  SELECT doc_id, n,
      |    unnest(list_transform(range(1, n + 1),
      |      i -> struct_pack(pos := i - 1,
      |                       p := CAST(unicode(a[i]) AS BIGINT)))) AS u
      |  FROM w),
      |blocks AS (
      |  SELECT doc_id, CAST((u.pos * 60) // n AS INT) AS blk,
      |    sum(u.p) AS sb, count(*) AS cb, max(n) AS n
      |  FROM px GROUP BY doc_id, 2),
      |tot AS (SELECT doc_id, sum(sb) AS total FROM blocks GROUP BY doc_id),
      |sig AS (
      |  SELECT b.doc_id,
      |    sum(CASE WHEN b.sb * b.n >= t.total * b.cb
      |      THEN (CAST(1 AS BIGINT) << b.blk) ELSE 0 END) AS phash
      |  FROM blocks b JOIN tot t ON t.doc_id = b.doc_id
      |  GROUP BY b.doc_id),
      |ph AS (
      |  SELECT d.doc_id, coalesce(s.phash, 0) AS phash
      |  FROM $src d LEFT JOIN sig s ON s.doc_id = d.doc_id)""".stripMargin

  private def phashOracle: String =
    s"""WITH ${phashSigCtes("documents")}
      |SELECT doc_id, CAST(phash AS BIGINT) AS phash
      |FROM ph ORDER BY doc_id""".stripMargin

  /** DuckDB SQL replaying [[Multimodal.phashDupPairs]] over the
    * payload corpus augmented with alignment-preserving plants (q72):
    * clone ids offset by max(doc_id)+1 with the FIRST CHARACTER substituted — a
    * same-length edit, so blockhash's positional blocks stay aligned
    * and the clone lands within small hamming distance of its source
    * (contrast this corpus's organic near-dups, which are
    * length-SHIFTING token edits that alignment-sensitive blockhash
    * correctly does not pair). The pigeonhole block join is lossless
    * for hamming <= 3 (the q24 argument), so the oracle pairs
    * signatures by brute force. */
  private def phashPairsOracle: String =
    s"""WITH docs_aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
      |    'Q' || substr(text, 2)
      |  FROM documents WHERE doc_id < 50 AND length(text) >= 2),
      |${phashSigCtes("docs_aug")}
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB SQL replaying [[Dedup.minhashDupPairsCapped]] exactly. */
  private def cappedLshOracle(maxBucket: Int): String =
    s"""WITH ${cappedLshCtes(Some(maxBucket))}
      |SELECT doc_a, doc_b, common,
      |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
      |  CAST(floor(CAST(common AS DOUBLE) / (x.n + y.n - common) * 1000) AS BIGINT) AS jacc_x1000
      |FROM pairs JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB SQL replaying the end-to-end dedup materialization (q65
    * uncapped, q67 capped): the [[cappedLshCtes]] pair pipeline, then
    * connected components as a recursive reachability closure, then
    * the keeper/size projection. Every stage replays the Spark plan's
    * own deterministic decisions — signatures, banding, (optional)
    * cap, exact verify, min-label components — so the equality is
    * exact BY CONSTRUCTION on any dataset; neither variant carries an
    * LSH-recall pin. */
  /** DuckDB SQL replaying the q73 curation capstone end-to-end:
    * quality-gate keep (the q52 predicate), length gate (q70's
    * quantile_cont percentiles over the GATE SURVIVORS), PII scrub
    * (q63's replace chain), the capped dedup materialization
    * ([[cappedLshCtes]] + [[ccCtes]] over the scrubbed relation
    * `cur`), and the q66 hash split — every stage the same
    * deterministic decisions the Spark plan makes, so equality is
    * exact by construction on any dataset. */
  /** The quality-gate → length-gate → PII-scrub prefix of the
    * curation chain, ending in CTE `cur` (doc_id, scrubbed text,
    * n_tokens). Split out of [[curationCoreCtes]] in round 15 so the
    * capstone (q147) can splice its model gates BETWEEN the scrub and
    * the dedup the way the Spark side does. */
  private def curationCurCtes: String = {
    val (em, ph, ip) = (TextAnalysis.EmailRe, TextAnalysis.PhoneRe,
      TextAnalysis.IpRe)
    s"""qb AS ($qualityBodySql),
      |gkeep AS (
      |  SELECT doc_id FROM qb
      |  WHERE NOT ((n_words < 20) OR (n_words > 1000)
      |    OR (n_stopwords * 20 < n_words) OR (n_punct * 5 > n_words)
      |    OR (avg_word_len_x1000 < 3000 OR avg_word_len_x1000 > 15000))),
      |gdocs AS (
      |  SELECT d.doc_id, d.text FROM documents d JOIN gkeep USING (doc_id)),
      |gtok AS (
      |  SELECT doc_id,
      |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 0) AS BIGINT) AS n_tokens
      |  FROM gdocs),
      |lb AS (SELECT quantile_cont(n_tokens, 0.01) AS lo,
      |              quantile_cont(n_tokens, 0.99) AS hi FROM gtok),
      |cur AS MATERIALIZED (
      |  SELECT g.doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(g.text,
      |      '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'),
      |      '$ip', '<IP>', 'g') AS text,
      |    t.n_tokens
      |  FROM gdocs g JOIN gtok t ON t.doc_id = g.doc_id CROSS JOIN lb
      |  WHERE t.n_tokens >= lb.lo AND t.n_tokens <= lb.hi)""".stripMargin
  }

  /** The shared q73/q77 curation CTE chain: quality gates → corpus
    * length gate → PII scrub (CTE `cur`: doc_id, scrubbed text,
    * n_tokens) → capped LSH pairs → connected components (CTEs
    * `lab`/`siz`). Must be spliced under `WITH RECURSIVE`. */
  private def curationCoreCtes: String =
    s"""$curationCurCtes,
      |${cappedLshCtes(Some(16), "cur")},
      |jp AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |${ccCtes("cur")}""".stripMargin

  private def curationOracle: String = {
    s"""WITH RECURSIVE $curationCoreCtes,
      |sp AS (
      |  SELECT doc_id,
      |    ${h60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
      |  FROM cur)
      |SELECT l.doc_id, c.n_tokens,
      |  CAST(l.root AS BIGINT) AS cluster_root,
      |  CAST(z.cluster_size AS BIGINT) AS cluster_size,
      |  CAST(sp.bucket AS BIGINT) AS bucket,
      |  CASE WHEN sp.bucket < 980 THEN 'train'
      |       WHEN sp.bucket < 990 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM lab l JOIN siz z ON z.root = l.root
      |JOIN cur c ON c.doc_id = l.doc_id
      |JOIN sp ON sp.doc_id = l.doc_id
      |WHERE l.doc_id = l.root
      |ORDER BY l.doc_id""".stripMargin
  }

  /** DuckDB SQL replaying the FULL pretraining pipe (q77): the
    * [[curationCoreCtes]] chain, then the train-split roots,
    * temperature-mix rates derived over that post-dedup train corpus
    * (q75's sqrt/division math — correctly-rounded IEEE ops in both
    * engines), the mix-hash acceptance, token counts over the
    * SCRUBBED text, and q49's offset/chunk math under a running-sum
    * window. Every stage deterministic → exact on any dataset. */
  private def pretrainOracle: String =
    s"""WITH RECURSIVE $curationCoreCtes,
      |tr AS (
      |  SELECT l.doc_id FROM lab l
      |  WHERE l.doc_id = l.root
      |    AND ${h60Sql("'split:' || CAST(l.doc_id AS VARCHAR)")} % 1000 < 980),
      |ld AS (
      |  SELECT t.doc_id, d.lang, c.text FROM tr t
      |  JOIN documents d ON d.doc_id = t.doc_id
      |  JOIN cur c ON c.doc_id = t.doc_id),
      |lc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM ld GROUP BY lang),
      |rt AS (
      |  SELECT lang, CAST(floor(sqrt((SELECT min(n) FROM lc) / n)
      |    * 1000000.0) AS BIGINT) AS rate_ppm
      |  FROM lc),
      |mx AS (
      |  SELECT ld.doc_id, ld.lang, ld.text, r.rate_ppm
      |  FROM ld JOIN rt r USING (lang)
      |  WHERE ${h60Sql("'mix:' || CAST(ld.doc_id AS VARCHAR)")} % 1000000
      |    < r.rate_ppm),
      |tok2 AS (
      |  SELECT doc_id, lang, rate_ppm,
      |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 0) AS BIGINT) AS n_tokens
      |  FROM mx),
      |off AS (
      |  SELECT doc_id, lang, rate_ppm, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_offset
      |  FROM tok2)
      |SELECT doc_id, n_tokens, start_offset,
      |  CAST(floor(start_offset / 512.0) AS BIGINT) AS chunk_id,
      |  (floor(greatest(start_offset + n_tokens - 1, start_offset) / 512.0)
      |     > floor(start_offset / 512.0)) AS spans_boundary,
      |  CAST(floor(greatest(start_offset + n_tokens - 1, start_offset) / 512.0)
      |     - floor(start_offset / 512.0) AS BIGINT) AS chunks_crossed,
      |  lang, rate_ppm
      |FROM off ORDER BY doc_id""".stripMargin

  /** q147's oracle — the whole ten-stage capstone cascade replayed:
    * [[curationCurCtes]] (quality → length → scrub, CTE `cur`), the
    * q125 decontamination cross join over the CURATED vectors (`ctm`
    * = contaminated ids; bench slice from the full embeddings table),
    * the q140 NB chain trained on the post-decontam doc_id%10=7 slice
    * (CTEs n*: counts, bits, defaults, priors, argmin with the
    * class-name tie-break; the gate keeps the train slice plus
    * correctly-classified held-out docs), the q141 Moore–Lewis CE
    * chain with both 256-bucket LMs from the post-NB survivors (CTEs
    * ce*), then q77's tail verbatim over `sel2`: capped LSH pairs →
    * recursive CC → root split → temperature mix derived from the
    * post-dedup train corpus → 512-token packing. Every stage's
    * statistics come from the previous stage's survivors — no pins,
    * exact at any sf. */
  private def capstoneOracle: String = {
    val tau = 900000L
    s"""WITH RECURSIVE $curationCurCtes,
      |ee AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM ee
      |  WHERE ${normSql("v")} > 0),
      |bb AS (SELECT * FROM en WHERE vec_id % 10 = 3),
      |corp AS (SELECT en.vec_id, en.v, en.nrm FROM en
      |  JOIN cur ON cur.doc_id = en.vec_id WHERE en.vec_id % 10 != 3),
      |ctm AS (SELECT DISTINCT c.vec_id FROM corp c CROSS JOIN bb b
      |  WHERE CAST(floor(${dotSql("b.v", "c.v")} / (b.nrm * c.nrm)
      |    * 1000000) AS BIGINT) >= $tau),
      |dec AS MATERIALIZED (
      |  SELECT cur.doc_id, cur.text, d.lang, d.source
      |  FROM cur JOIN documents d USING (doc_id)
      |  WHERE cur.doc_id % 10 != 3
      |    AND cur.doc_id NOT IN (SELECT vec_id FROM ctm)),
      |ntok AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM dec),
      |ntr AS (SELECT * FROM ntok
      |  WHERE doc_id % 10 = 7 AND lang IS NOT NULL),
      |ncls AS (SELECT lang AS c_lang, CAST(count(*) AS BIGINT) AS n_c
      |  FROM dec WHERE doc_id % 10 = 7 AND lang IS NOT NULL GROUP BY 1),
      |nnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dec
      |  WHERE doc_id % 10 = 7 AND lang IS NOT NULL),
      |ncnt AS (SELECT lang AS c_lang, t, CAST(count(*) AS BIGINT) AS c
      |  FROM ntr GROUP BY 1, 2),
      |ntcd AS (SELECT c_lang, CAST(sum(c) AS BIGINT) AS t_c
      |  FROM ncnt GROUP BY 1),
      |nvv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM ntr),
      |nbits AS (
      |  SELECT ncnt.c_lang, ncnt.t,
      |    CAST(length(bin((t_c + v) // (c + 1))) - 1 AS BIGINT) AS b
      |  FROM ncnt JOIN ntcd USING (c_lang) CROSS JOIN nvv),
      |ncdef AS (
      |  SELECT ncls.c_lang,
      |    CAST(length(bin(coalesce(ntcd.t_c, 0) + v)) - 1 AS BIGINT) AS bdef,
      |    CAST(length(bin(n // n_c)) - 1 AS BIGINT) AS bprior
      |  FROM ncls LEFT JOIN ntcd ON ntcd.c_lang = ncls.c_lang
      |  CROSS JOIN nvv CROSS JOIN nnn),
      |nte AS (SELECT doc_id, lang, t FROM ntok WHERE doc_id % 10 <> 7),
      |nsc AS (
      |  SELECT nte.doc_id, nte.lang, d.c_lang,
      |    d.bprior + CAST(sum(coalesce(b.b, d.bdef)) AS BIGINT)
      |      AS bits_total
      |  FROM nte CROSS JOIN ncdef d
      |  LEFT JOIN nbits b ON b.c_lang = d.c_lang AND b.t = nte.t
      |  GROUP BY nte.doc_id, nte.lang, d.c_lang, d.bprior),
      |nrk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY bits_total, c_lang) AS r FROM nsc),
      |nbkeep AS (
      |  SELECT doc_id FROM dec WHERE doc_id % 10 = 7
      |  UNION ALL
      |  SELECT doc_id FROM nrk WHERE r = 1 AND lang = c_lang),
      |sel1 AS (SELECT dec.* FROM dec JOIN nbkeep USING (doc_id)),
      |cetok AS (
      |  SELECT doc_id, (source = 'src0') AS is_t, ${h60Sql("t")} % 256 AS b
      |  FROM (SELECT doc_id, source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      |  FROM sel1)),
      |cecnt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
      |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
      |  FROM cetok GROUP BY 1),
      |cetot AS (SELECT CAST(sum(c_r) AS BIGINT) AS t_r,
      |    CAST(sum(c_t) AS BIGINT) AS t_t FROM cecnt),
      |celm AS (SELECT b,
      |    CAST(length(bin((t_t + 256) // (c_t + 1))) - 1 AS BIGINT)
      |      AS bits_t,
      |    CAST(length(bin((t_r + 256) // (c_r + 1))) - 1 AS BIGINT)
      |      AS bits_r
      |  FROM cecnt CROSS JOIN cetot),
      |cesc AS (
      |  SELECT doc_id,
      |    ((1000 * CAST(sum(bits_t - bits_r) AS BIGINT)) //
      |      greatest(CAST(count(*) AS BIGINT), 1)) AS ce
      |  FROM cetok JOIN celm USING (b)
      |  GROUP BY doc_id),
      |cethr AS (SELECT CAST(sum(ce) AS BIGINT) //
      |    greatest(CAST(count(*) AS BIGINT), 1) AS thr FROM cesc),
      |cekeep AS (
      |  SELECT doc_id FROM cesc CROSS JOIN cethr WHERE ce <= thr),
      |sel2 AS MATERIALIZED (
      |  SELECT sel1.* FROM sel1 JOIN cekeep USING (doc_id)),
      |${cappedLshCtes(Some(16), "sel2")},
      |jp AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |${ccCtes("sel2")},
      |tr AS (
      |  SELECT l.doc_id FROM lab l
      |  WHERE l.doc_id = l.root
      |    AND ${h60Sql("'split:' || CAST(l.doc_id AS VARCHAR)")} % 1000 < 980),
      |ld AS (
      |  SELECT t.doc_id, s.lang, s.text FROM tr t
      |  JOIN sel2 s ON s.doc_id = t.doc_id),
      |lc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM ld GROUP BY lang),
      |rt AS (
      |  SELECT lang, CAST(floor(sqrt((SELECT min(n) FROM lc) / n)
      |    * 1000000.0) AS BIGINT) AS rate_ppm
      |  FROM lc),
      |mx AS (
      |  SELECT ld.doc_id, ld.lang, ld.text, r.rate_ppm
      |  FROM ld JOIN rt r USING (lang)
      |  WHERE ${h60Sql("'mix:' || CAST(ld.doc_id AS VARCHAR)")} % 1000000
      |    < r.rate_ppm),
      |tok2 AS (
      |  SELECT doc_id, lang, rate_ppm,
      |    CAST(coalesce(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 0) AS BIGINT) AS n_tokens
      |  FROM mx),
      |off AS (
      |  SELECT doc_id, lang, rate_ppm, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_offset
      |  FROM tok2)
      |SELECT doc_id, n_tokens, start_offset,
      |  CAST(floor(start_offset / 512.0) AS BIGINT) AS chunk_id,
      |  (floor(greatest(start_offset + n_tokens - 1, start_offset) / 512.0)
      |     > floor(start_offset / 512.0)) AS spans_boundary,
      |  CAST(floor(greatest(start_offset + n_tokens - 1, start_offset) / 512.0)
      |     - floor(start_offset / 512.0) AS BIGINT) AS chunks_crossed,
      |  lang, rate_ppm
      |FROM off ORDER BY doc_id""".stripMargin
  }

  /** q136's oracle: q67's capped cluster chain (signatures → bands →
    * cap → verify → recursive CC), then q131's integer tf·idf keyed
    * by cluster root — N = distinct roots (every doc labels, so this
    * is the cluster count), df = clusters containing the token, the
    * family's one smoothed rational. */
  private def clusterKeywordsOracle(m: Int): String =
    s"""WITH RECURSIVE ${cappedLshCtes(Some(16))},
      |jp AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |${ccCtes("documents")},
      |tok AS (
      |  SELECT l.root AS k,
      |    unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS token
      |  FROM documents d JOIN lab l ON l.doc_id = d.doc_id),
      |tf AS MATERIALIZED (
      |  SELECT k, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2),
      |ng AS (SELECT CAST(count(DISTINCT root) AS BIGINT) AS n FROM lab),
      |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
      |        GROUP BY 1),
      |sc AS (
      |  SELECT t.k, t.token, t.tf,
      |    t.tf * ((1000000 * (2 * ng.n - 2 * q.df + 1)) // (2 * q.df + 1))
      |      AS score_x1M
      |  FROM tf t JOIN dfq q USING (token) CROSS JOIN ng),
      |rk AS (
      |  SELECT k, token, tf, score_x1M,
      |    CAST(row_number() OVER (PARTITION BY k
      |      ORDER BY score_x1M DESC, token) AS BIGINT) AS rank
      |  FROM sc)
      |SELECT CAST(k AS BIGINT) AS cluster_root, rank, token, tf, score_x1M
      |FROM rk WHERE rank <= $m
      |ORDER BY cluster_root, rank""".stripMargin

  private def lshMaterializeOracle(maxBucket: Option[Int]): String =
    s"""WITH RECURSIVE ${cappedLshCtes(maxBucket)},
      |jp AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= 0.8),
      |${ccCtes("documents")}
      |SELECT l.doc_id, CAST(l.root AS BIGINT) AS cluster_root,
      |  CAST(s.cluster_size AS BIGINT) AS cluster_size,
      |  CAST(length(d.text) AS BIGINT) AS n_chars
      |FROM lab l JOIN siz s ON s.root = l.root
      |JOIN documents d ON d.doc_id = l.doc_id
      |WHERE l.doc_id = l.root
      |ORDER BY l.doc_id""".stripMargin
}
