package graft.streaming

import graft.SparkSpec
import graft.ops.{IvfIndex, Pq}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** Streaming IVF-PQ ingestion: staged batches are replay-idempotent,
  * compaction absorbs them into the bucketed serving index, and the
  * grown index serves EXACTLY what a from-scratch build over the full
  * corpus would — on the same pinned quantizer. */
class StreamingVectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Pq.PqConfig(m = 8, ksub = 16, bitsPerCode = 4, dim = 64)
  private val rnd = new scala.util.Random(23)

  private def vecs(ids: Range): Seq[(Long, Seq[Float])] =
    ids.map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("stream -> stage -> compact grows the index to serve exactly the " +
    "full-corpus result; staged batches replay idempotently") {
    val initial = vecs(0 until 60)
    val delta1 = vecs(100 until 120)
    val delta2 = vecs(200 until 220)
    val full = initial ++ delta1 ++ delta2
    val dInit = df(initial)
    val dFull = df(full)

    val wh = tmpDir("svi-wh")
    val src = tmpDir("svi-src")
    val ckpt = tmpDir("svi-ckpt")

    // build the serving index over the initial corpus; the quantizer
    // and codebooks PIN here — every later batch and query uses them
    val idx = Pq.buildIvfPqIndex(dInit, cfg, cellSize = 8, wh, "pqidx",
      nBuckets = 4)
    val (cents, kCells) = IvfIndex.sampleQuantizerDf(dInit, 8)
    val cb = Pq.sampleCodebooks(dInit, cfg)

    // two delta waves drain through the stream into staging
    def drain(): Unit = WaveHarness.drain(spark,
      WaveHarness.waveStream(spark, src, dInit.schema).writeStream
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          StreamingVectorIngest.processBatch(b, id, wh, "pqstage",
            cents, kCells, cb, cfg)
        }, ckpt)
    df(delta1).repartition(1).write.mode("append").parquet(src)
    drain()
    df(delta2).repartition(1).write.mode("append").parquet(src)
    drain()
    val stagedIds = StreamingVectorIngest.staged(spark, wh, "pqstage")
      .select("vec_id").as[Long].collect().toSet
    assert(stagedIds == (delta1 ++ delta2).map(_._1).toSet)

    // replaying a batch (post-failure foreachBatch) must not duplicate
    val before = StreamingVectorIngest.staged(spark, wh, "pqstage").count()
    StreamingVectorIngest.processBatch(df(delta1), 0L, wh, "pqstage",
      cents, kCells, cb, cfg)
    assert(StreamingVectorIngest.staged(spark, wh, "pqstage").count()
      == before, "replayed batch duplicated staged rows")

    // compact into the bucketed index, then serve over the full corpus
    val moved = StreamingVectorIngest.compact(spark, wh, "pqstage", idx)
    assert(moved == 40L)
    val served = Pq.ivfPqServe(spark.table(idx), dFull, cents, kCells,
        cb, cfg, nProbe = 2, nQueries = 4, k = 3, shortlist = 10)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq

    // the truth: the same pinned quantizer applied to the full corpus
    // from scratch
    val base = dFull.select(col("vec_id"), col("embedding").as("v"))
    val placed = IvfIndex.assignViaJoin(base, cents, nProbe = 1,
      kEstimate = Some(kCells))
    val indexed = Pq.encode(dFull, cb, cfg.bitsPerCode).join(placed, "vec_id")
    val direct = Pq.ivfPqServe(indexed, dFull, cents, kCells, cb, cfg,
        nProbe = 2, nQueries = 4, k = 3, shortlist = 10)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq

    assert(served == direct,
      "grown index diverges from the from-scratch build")
    assert(served.nonEmpty)
  }
}
