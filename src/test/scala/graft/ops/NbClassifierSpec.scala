package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[TextAnalysis.nbLangClassifier]] — hand-worked integer-bits NB on
  * a corpus WITH lexical class signal (the driver corpus's lang labels
  * are independent of its text, so the gated q140 exercises mechanics;
  * this spec shows the classifier actually separates classes when the
  * evidence exists), plus the unseen-token tie-break, the
  * broadcast/shuffle join-branch equality, and the pivot/fallback
  * branch equality of [[TextAnalysis.nbScore]] on an edge-case
  * corpus. */
class NbClassifierSpec extends SparkSpec {

  private def corpus = {
    val sp = spark
    import sp.implicits._
    // train slice (doc_id % 10 = 7): one doc per class.
    //   class aa: "xx xx xx"; class bb: "yy yy yy"
    // model: N = 2, n_c = 1 → prior = ⌊log2(2)⌋ = 1 for both;
    //   V = 2, T_c = 3 → bits(seen) = ⌊log2(5 div 4)⌋ = 0,
    //   default = ⌊log2(5)⌋ = 2
    Seq(
      (7L, "aa", "xx xx xx"),
      (17L, "bb", "yy yy yy"),
      (0L, "aa", "xx xx"),   // aa: 1+0+0 = 1 beats bb: 1+2+2 = 5
      (1L, "bb", "yy"),      // bb: 1+0 = 1 beats aa: 1+2 = 3
      (2L, "bb", "zz"))      // unseen token: 3 = 3 tie → 'aa' wins
      .toDF("doc_id", "lang", "text")
  }

  private def handCorpus = {
    val sp = spark
    import sp.implicits._
    // multiplicity-heavy texts, a zero-token TRAIN doc (27, NULL
    // text — tokens() of ""/blank is a single "" token, only NULL is
    // truly token-free: priors must count it though it has no
    // count-frame row), a zero-token held-out doc (3, NULL text: no
    // output row from either kernel), a whitespace-only held-out doc
    // (4: one "" token, scored by both), and a NULL-lang train doc
    // (37: dropped from the class set by both)
    Seq(
      (7L, Option("aa"), Option("xx xx xx yy xx"), Option("src0")),
      (17L, Option("bb"), Option("yy yy zz yy yy yy"), Option("src1")),
      (27L, Option("aa"), Option.empty[String], Option("src0")),
      (37L, Option.empty[String], Option("zz zz"), Option("src1")),
      (0L, Option("aa"), Option("xx xx yy"), Option("src0")),
      (1L, Option("bb"), Option("yy zz yy"), Option("src1")),
      (2L, Option("bb"), Option("ww"), Option("src0")),
      (3L, Option("aa"), Option.empty[String], Option("src1")),
      (4L, Option("bb"), Option("   "), Option("src0")))
      .toDF("doc_id", "lang", "text", "source")
  }

  test("hand-worked scores: seen evidence wins, unseen-token ties go " +
    "to the lexicographically smallest class, correctness flags") {
    val got = TextAnalysis.nbLangClassifier(corpus)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got === Seq(
      (0L, "aa", "aa", 1L, true),
      (1L, "bb", "bb", 1L, true),
      (2L, "bb", "aa", 3L, false)))
  }

  test("a NULL-lang train doc is excluded from the class set (a NULL " +
    "class would tie-break NULLS FIRST in Spark and NULLS LAST in the " +
    "DuckDB oracle)") {
    val sp = spark
    import sp.implicits._
    // the NULL-lang train doc shares doc 2's unseen token 'zz': were a
    // NULL class trained, it would score 'zz' as SEEN and win doc 2
    val withNull = corpus.union(
      Seq((27L, Option.empty[String], Option("zz zz"))).toDF(
        "doc_id", "lang", "text"))
    val got = TextAnalysis.nbLangClassifier(withNull)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(2)))
    // same predictions as the null-free corpus; no NULL class anywhere
    assert(got === Seq((0L, "aa"), (1L, "bb"), (2L, "aa")))
  }

  test("forced shuffle-hash vocabulary branch produces the identical " +
    "result (the VocabJoin dispatch contract)") {
    val broadcastRows = spark.conf
      .getOption("graft.vocab.broadcastMaxRows")
    try {
      val a = TextAnalysis.nbLangClassifier(corpus)
        .orderBy("doc_id").collect().toSeq.map(_.toString)
      spark.conf.set("graft.vocab.broadcastMaxRows", "0")
      val b = TextAnalysis.nbLangClassifier(corpus)
        .orderBy("doc_id").collect().toSeq.map(_.toString)
      assert(a === b)
    } finally {
      broadcastRows match {
        case Some(v) => spark.conf.set("graft.vocab.broadcastMaxRows", v)
        case None => spark.conf.unset("graft.vocab.broadcastMaxRows")
      }
    }
  }

  test("nbScore trust-split law: the mod-slice classifier is exactly " +
    "nbScore over the slice split") {
    val docs = handCorpus
    val seven = pmod(col("doc_id"), lit(10L)) === 7
    val viaScore = TextAnalysis.nbScore(docs.filter(seven),
        docs.filter(!seven))
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    val classic = TextAnalysis.nbLangClassifier(docs)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    assert(viaScore === classic)
  }

  test("nbScore's pivot and past-budget fallback branches are " +
    "row-identical on the edge corpus, and argmin ties break to the " +
    "lexicographically smallest class in both") {
    val docs = handCorpus
    def run() = TextAnalysis.nbLangClassifier(docs)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    val pivot = run() // default budget (128) → pivot branch
    spark.conf.set(TextAnalysis.NbPivotMaxClassesKey, "0")
    val fallback = try run()
      finally spark.conf.unset(TextAnalysis.NbPivotMaxClassesKey)
    assert(pivot === fallback, "pivot vs fallback diverged")
    // constructed exact tie: identical per-class stats (both classes
    // train on the same text, same doc count), so every held-out
    // score ties across classes and the argmin must pick the
    // lexicographically smallest class — in the pivot branch that is
    // array_min's struct comparison, in the fallback min(struct)
    val sp = spark
    import sp.implicits._
    val train = Seq((1L, "aa", "xx"), (2L, "bb", "xx"))
      .toDF("doc_id", "lang", "text")
    val test_ = Seq((10L, "bb", "xx"), (11L, "aa", "yy unseen"))
      .toDF("doc_id", "lang", "text")
    def preds() = TextAnalysis.nbScore(train, test_)
      .orderBy("doc_id").collect().toSeq
    val pPiv = preds()
    spark.conf.set(TextAnalysis.NbPivotMaxClassesKey, "0")
    val pCls = try preds()
      finally spark.conf.unset(TextAnalysis.NbPivotMaxClassesKey)
    assert(pPiv.map(_.toString) === pCls.map(_.toString))
    assert(pPiv.forall(_.getString(2) == "aa"),
      s"tie must break to the smallest class: $pPiv")
  }
}
