package graft.ops

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based cross-checks of the exact-substring operators against
  * straight-line in-memory reference implementations over random
  * corpora: the distributed plans (window-hash df + islands merge,
  * corpus-global first-occurrence window) must agree with the obvious
  * sequential algorithm on every generated input. */
class TextOpsPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling in place of the scalatest-scalacheck bridge
    * (not in the offline dependency cache). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.apply(Gen.Parameters.default, Seed(1042L + i)).get)

  // tiny vocabulary so repeated windows and sentences actually occur
  private val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd")
  private val sentence: Gen[String] =
    Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val doc: Gen[String] =
    Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, sentence)).map(_.mkString(". "))
  private val corpus: Gen[Seq[(Long, String)]] =
    Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  /** Reference repeatedSpans: windows by hand, df across docs, islands
    * by scanning sorted positions. */
  private def refSpans(docs: Seq[(Long, String)], L: Int, minDf: Int)
      : Set[(Long, Long, Long, Long, Long)] = {
    val wins = docs.flatMap { case (id, t) =>
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      if (w.size < L) Seq.empty
      else (0 to w.size - L).map(p => (id, p.toLong, w.slice(p, p + L).mkString(" ")))
    }
    val df = wins.groupBy(_._3).map { case (s, g) => s -> g.map(_._1).distinct.size }
    val rep = wins.filter { case (_, _, s) => df(s) >= minDf }
    rep.groupBy(_._1).flatMap { case (id, g) =>
      val ps = g.map(_._2).sorted
      // islands: consecutive positions merge
      val runs = ps.foldLeft(List.empty[List[Long]]) {
        case (run :: rest, p) if run.head == p - 1 => (p :: run) :: rest
        case (acc, p) => List(p) :: acc
      }.map(_.reverse).reverse
      runs.map { r =>
        val maxDf = g.filter(x => r.contains(x._2)).map(x => df(x._3)).max
        (id, r.head, r.size.toLong + L - 1, r.size.toLong, maxDf.toLong)
      }
    }.toSet
  }

  /** Reference corpus-global sentence dedup. */
  private def refSentenceDedup(docs: Seq[(Long, String)])
      : Set[(Long, Long, Long, String)] = {
    val all = docs.flatMap { case (id, t) =>
      t.split("\\. ", -1).zipWithIndex.map { case (s, p) => (id, p.toLong, s) }
    }
    val firstAt = all.groupBy(_._3)
      .map { case (s, g) => s -> g.map(x => (x._1, x._2)).min }
    docs.map { case (id, t) =>
      val sents = t.split("\\. ", -1).zipWithIndex
      val kept = sents.filter { case (s, p) => firstAt(s) == ((id, p.toLong)) }
      (id, sents.size.toLong, kept.size.toLong, kept.map(_._1).mkString(". "))
    }.toSet
  }

  /** In-memory distinct 3-gram shingle set of one text. */
  private def shingles(t: String): Set[String] = {
    val w = t.trim.toLowerCase.split("\\s+").toSeq
    if (w.size < 3) Set.empty
    else (0 to w.size - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  /** Reference exact Jaccard: all pairs, in-memory shingle sets. */
  private def refJaccard(docs: Seq[(Long, String)], minJ: Double)
      : Set[(Long, Long, Long)] = {
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size
      if c > 0 && c.toDouble / (sa.size + sb.size - c) >= minJ
    } yield (a, b, c.toLong)).toSet
  }

  // longer docs so 3-gram shingles exist; duplicated docs guarantee
  // high-Jaccard pairs, the tiny vocabulary guarantees mid ones
  private val longDoc: Gen[String] =
    Gen.chooseNum(3, 14).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val dupCorpus: Gen[Seq[(Long, String)]] = for {
    base <- Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, longDoc))
    dup <- Gen.someOf(base)
  } yield (base ++ dup).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("prefix-filtered exact Jaccard agrees with brute force across " +
    "thresholds on random corpora") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      samples(dupCorpus, 8).foreach { docs =>
        val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), t)
          .select("doc_a", "doc_b", "common")
          .as[(Long, Long, Long)].collect().toSet
        val want = refJaccard(docs, t)
        assert(got == want, s"t=$t corpus=$docs\ngot=$got\nwant=$want")
      }
    }
  }

  // beside the random corpora: one where no band collides, so the
  // candidate set and the endpoints' index are empty, and one where
  // document 0 is an endpoint of several pairs
  private val noCollision = Seq((0L, "aa bb cc dd"), (1L, "ee ff gg hh"),
    (2L, "ii jj kk ll mm"))
  private val hubText = "aa bb cc dd ee ff gg hh ii jj"
  private val hub = Seq((0L, hubText), (1L, hubText), (2L, hubText),
    (3L, s"$hubText kk"), (4L, "ll mm nn oo pp"))

  test("MinHash pairs, capped and uncapped, carry brute-force (common, " +
    "n_a, n_b) and never miss a pair of identical shingle sets") {
    assert(Dedup.minhashCandidatesCapped(noCollision.toDF("doc_id", "text"), 16)
      .count() == 0L)
    for (t <- Seq(0.3, 0.8)) {
      (samples(dupCorpus, 8) :+ noCollision :+ hub).foreach { docs =>
        val sets = docs.map { case (id, txt) => id -> shingles(txt) }.toMap
        val df = docs.toDF("doc_id", "text")
        Seq("uncapped" -> Dedup.minhashDupPairs(df, t),
          "capped" -> Dedup.minhashDupPairsCapped(df, t, 16)).foreach {
          case (name, pairs) =>
            val got = pairs.select("doc_a", "doc_b", "common", "n_a", "n_b")
              .as[(Long, Long, Long, Long, Long)].collect()
            if (docs eq noCollision) assert(got.isEmpty, s"$name t=$t")
            if (docs eq hub)
              assert(got.count(r => r._1 == 0L) >= 3, s"$name t=$t hub pairs")
            got.foreach { case (a, b, c, na, nb) =>
              val want = ((sets(a) & sets(b)).size.toLong,
                sets(a).size.toLong, sets(b).size.toLong)
              assert((c, na, nb) == want,
                s"$name t=$t pair ($a, $b) corpus=$docs")
            }
            val found = got.map(r => (r._1, r._2)).toSet
            for ((a, sa) <- sets; (b, sb) <- sets
                 if a < b && sa.nonEmpty && sa == sb)
              assert(found((a, b)),
                s"$name t=$t missed identical pair ($a, $b) corpus=$docs")
        }
      }
    }
  }

  test("repeatedSpans agrees with the sequential reference on random corpora") {
    samples(corpus, 12).foreach { docs =>
      val got = TextAnalysis.repeatedSpans(docs.toDF("doc_id", "text"), 3, 2)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = refSpans(docs, 3, 2)
      assert(got == want, s"corpus=$docs\ngot=$got\nwant=$want")
    }
  }

  test("corpusSentenceDedup agrees with the sequential reference on " +
    "random corpora") {
    samples(corpus, 12).foreach { docs =>
      val got = TextAnalysis.corpusSentenceDedup(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long, String)].collect().toSet
      val want = refSentenceDedup(docs)
      assert(got == want, s"corpus=$docs\ngot=$got\nwant=$want")
    }
  }

  /** Sequential blockhash reference: same integer-exact block-mean
    * comparison as [[Multimodal.blockHash]]'s scaladoc defines it. */
  private def refBlockHash(s: String, nBits: Int): Long = {
    if (s.isEmpty) return 0L
    val px = s.map(_.toLong)
    val n = px.length.toLong
    val total = px.sum
    val byBlock = px.zipWithIndex
      .groupBy { case (_, i) => (i.toLong * nBits / n).toInt }
    byBlock.foldLeft(0L) { case (acc, (blk, ps)) =>
      val sb = ps.map(_._1).sum
      val cb = ps.size.toLong
      if (sb * n >= total * cb) acc | (1L << blk) else acc
    }
  }

  test("blockHash agrees with the sequential reference on random ASCII " +
    "payloads, including shorter-than-nBits and empty ones") {
    val payload: Gen[String] = Gen.chooseNum(0, 200)
      .flatMap(n => Gen.listOfN(n, Gen.choose(32.toChar, 126.toChar)))
      .map(_.mkString)
    samples(Gen.listOfN(12, payload), 8).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Multimodal.blockHash(
          Multimodal.withPayload(docs.toDF("doc_id", "text")))
        .as[(Long, Long)].collect().toMap
      val want = docs.map { case (id, t) => id -> refBlockHash(t, 60) }.toMap
      assert(got == want, s"texts=$texts\ngot=$got\nwant=$want")
    }
  }

  test("blockHash multi-byte payloads: Spark's per-char codepoints match " +
    "the sequential reference (BMP chars, the oracle's unicode())") {
    // mixed ASCII / accented / CJK — all BMP, where a Scala Char IS the
    // code point, Spark's ascii() returns it, and DuckDB's unicode()
    // agrees; q68's oracle equality at three sfs rests on this
    val texts = Seq("héllo wörld", "世界你好 abc", "ß∂ƒ©˙∆˚¬…æ", "")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = Multimodal.blockHash(
        Multimodal.withPayload(docs.toDF("doc_id", "text")))
      .as[(Long, Long)].collect().toMap
    val want = docs.map { case (id, t) => id -> refBlockHash(t, 60) }.toMap
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("hammingBlockPairs finds exactly the brute-force hamming<=3 pairs " +
    "on random 60-bit signatures (pigeonhole losslessness)") {
    // mix of near-identical signatures (small perturbations of a base)
    // and independent ones, so pairs exist at every distance 0..4
    val sig: Gen[Long] = Gen.choose(0L, (1L << 60) - 1)
    val corpus: Gen[Seq[Long]] = for {
      bases <- Gen.listOfN(4, sig)
      perturbed <- Gen.listOfN(12, for {
        b <- Gen.oneOf(bases)
        nFlips <- Gen.chooseNum(0, 4)
        bits <- Gen.listOfN(nFlips, Gen.chooseNum(0, 59))
      } yield bits.foldLeft(b)((v, i) => v ^ (1L << i)))
    } yield bases ++ perturbed
    samples(corpus, 8).foreach { sigs =>
      val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "sig")
      val got = Dedup.hammingBlockPairs(df, "sig", 3)
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        i <- sigs.indices; j <- sigs.indices if i < j
        h = java.lang.Long.bitCount(sigs(i) ^ sigs(j)) if h <= 3
      } yield (i.toLong, j.toLong, h)).toSet
      assert(got == want, s"sigs=$sigs\ngot=$got\nwant=$want")
    }
  }
}
