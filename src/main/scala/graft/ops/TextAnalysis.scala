package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Checkpoints
import Hashing._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All arithmetic that reaches a checked result is integer or
  * floor-scaled (no round-half anywhere), so results are portable to the
  * DuckDB oracle exactly.
  */
object TextAnalysis {

  /** Occurrences of literal `needle` via the replace-length trick —
    * identical semantics in every SQL engine. */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), "")))
      / needle.length).cast("long")

  private def occ(text: Column, needle: String): Column =
    ((length(text) - length(replace(text, lit(needle)))) / needle.length).cast("long")

  /** The [[quality]]/[[qualityKeep]] stopword list — public because
    * tools that must PRESERVE the gate signal on transformed text
    * (ScaleGen carries these tokens through unsuffixed) must derive
    * from this list, not keep a copy that silently drifts when the
    * gate changes (the round-9 empty-scaled-corpus failure mode). */
  val QualityStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in")

  /** [[langId]]'s marker words per language, in score-column order —
    * public for the same no-drift reason as [[QualityStopwords]]. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"))

  /** Marker-word language scores + argmax prediction. A deliberately
    * simple n-gram/stopword heuristic (the container has no langid
    * model); deterministic and portable. */
  def langId(docs: DataFrame): DataFrame = {
    val t = concat(lit(" "), lower(col("text")), lit(" "))
    def score(lang: String): Column = {
      val ws = LangMarkers.toMap.apply(lang)
      ws.map(w => occ(t, s" $w ")).reduce(_ + _).as(s"score_$lang")
    }
    val en = score("en")
    val es = score("es")
    val de = score("de")
    val fr = score("fr")
    val scored = docs.select(col("doc_id"), col("lang"), en, es, de, fr,
      (octet_length(col("text")) > length(col("text"))).as("non_ascii"))
    val best = greatest(col("score_en"), col("score_es"), col("score_de"),
      col("score_fr"))
    scored.withColumn("predicted",
      when(col("non_ascii"), lit("cjk"))
        .when(best === 0, lit("unknown"))
        .when(col("score_en") === best, lit("en"))
        .when(col("score_es") === best, lit("es"))
        .when(col("score_de") === best, lit("de"))
        .otherwise(lit("fr")))
  }

  /** Quality metrics: char/word counts, punctuation count, stopword
    * count, avg word length (floor-scaled x1000). Round 18: computed
    * by the fused byte-scan kernel
    * ([[graft.functions.QualityKernel]]) instead of the ~14-pass
    * Column chain (lower+concat, 8 full-copy `replace` passes, a
    * token-array `split`, a regex count — per row); the chain
    * survives as [[qualityColumns]], the spec-pinned equivalence twin
    * (QualityKernelSpec: row-identical incl. unicode-lowercase,
    * tab/newline boundary and shared-delimiter-stopword edges). */
  def quality(docs: DataFrame): DataFrame = {
    val s = graft.functions.QualityFunctions
      .qualityStats(col("text"), QualityStopwords)
    docs.select(
      col("doc_id"),
      s.getField("n_chars").as("n_chars"),
      s.getField("n_words").as("n_words"),
      s.getField("n_punct").as("n_punct"),
      s.getField("n_stopwords").as("n_stopwords"),
      s.getField("avg_word_len_x1000").as("avg_word_len_x1000"))
  }

  /** The pre-round-18 Column-chain [[quality]] — kept ONLY as the
    * kernel's equivalence twin (QualityKernelSpec). */
  private[graft] def qualityColumns(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nWords = size(tokens(t)).cast("long")
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stop = QualityStopwords.map(w => occ(padded, s" $w ")).reduce(_ + _)
    docs.select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      nWords.as("n_words"),
      regexp_count(t, lit("[.,!?;:]")).cast("long").as("n_punct"),
      stop.as("n_stopwords"),
      floor(length(t).cast("double") * 1000 / greatest(nWords, lit(1L)))
        .cast("long").as("avg_word_len_x1000"))
  }

  /** Composite quality gates (Gopher-style rule filter) over the
    * [[quality]] signals: per-gate booleans so a pipeline reports WHY a
    * document dropped, plus the final keep. All thresholds are
    * integer-exact (ratio comparisons cross-multiplied) so the oracle
    * matches bit-for-bit. Per-row, no shuffle — composes with any scan. */
  def qualityGates(docs: DataFrame): DataFrame = {
    val q = quality(docs)
    val tooShort = (col("n_words") < 20).as("too_short")
    val tooLong = (col("n_words") > 1000).as("too_long")
    // stopword ratio < 5%: n_stopwords / n_words < 1/20
    val lowStop = (col("n_stopwords") * 20 < col("n_words")).as("low_stopword")
    // punctuation-heavy: n_punct / n_words > 1/5
    val highPunct = (col("n_punct") * 5 > col("n_words")).as("high_punct")
    val weirdLen = (col("avg_word_len_x1000") < 3000 ||
      col("avg_word_len_x1000") > 15000).as("weird_word_len")
    q.select(col("doc_id"), tooShort, tooLong, lowStop, highPunct, weirdLen)
      .withColumn("keep",
        !(col("too_short") || col("too_long") || col("low_stopword") ||
          col("high_punct") || col("weird_word_len")))
  }

  /** The [[qualityGates]] keep-predicate as ONE per-row Column over a
    * text column — the composition form: a pipeline that FILTERS by
    * quality (q73) applies a predicate the optimizer can push against
    * the scan, where joining the qualityGates report back by doc_id
    * would re-shuffle the corpus. Same expressions, same integer-exact
    * thresholds; QualityKeepSpec asserts row-for-row agreement with
    * `qualityGates(docs).keep`. */
  def qualityKeep(t: Column): Column =
    graft.functions.QualityFunctions.qualityKeep(t, QualityStopwords)

  /** The pre-round-18 Column-chain [[qualityKeep]] — the kernel's
    * equivalence twin (QualityKernelSpec only). */
  private[graft] def qualityKeepColumns(t: Column): Column = {
    val nWords = size(tokens(t)).cast("long")
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stop = QualityStopwords.map(w => occ(padded, s" $w ")).reduce(_ + _)
    val nPunct = regexp_count(t, lit("[.,!?;:]")).cast("long")
    val avgLen = floor(length(t).cast("double") * 1000 /
      greatest(nWords, lit(1L))).cast("long")
    !((nWords < 20) || (nWords > 1000) || (stop * 20 < nWords) ||
      (nPunct * 5 > nWords) || (avgLen < 3000 || avgLen > 15000))
  }

  /** The [[piiScrub]] redaction chain as ONE Column (email → phone →
    * IP, same order, same RE2-subset patterns) — the composition form
    * for pipelines that scrub without the count columns. Round 18:
    * fused into [[graft.functions.RegexScrubExpr]] — one
    * UTF8String↔String round trip instead of three, and a pass whose
    * pattern finds no match (most documents carry no PII) reuses its
    * input with zero copies; the chain survives as
    * [[scrubTextColumns]], the spec-pinned equivalence twin. */
  def scrubText(t: Column): Column =
    graft.functions.QualityFunctions.regexScrub(t,
      Seq(EmailRe, PhoneRe, IpRe), Seq("<EMAIL>", "<PHONE>", "<IP>"))
      .getField("scrubbed")

  /** The pre-round-18 chained-`regexp_replace` [[scrubText]] — the
    * kernel's equivalence twin (QualityKernelSpec only). */
  private[graft] def scrubTextColumns(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(t,
      EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")

  /** Token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-alphanumeric marks). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.QualityFunctions.nTokens(col("text")).as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
        .cast("long").as("bpe_ish_tokens"))

  /** Repetition statistics — the "repeated boilerplate" quality signal:
    * per doc, total (non-distinct) shingles, the most frequent
    * shingle's count, and their floor-scaled ratio. A high ratio flags
    * template/spam text. */
  def repetition(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shinglesAllFromWords(col("w"))).as("s"))
    val freq = sh.groupBy("doc_id", "s").agg(count(lit(1)).as("f"))
    freq.groupBy("doc_id")
      .agg(sum(col("f")).as("n_shingles"), max(col("f")).as("max_freq"))
      .select(col("doc_id"), col("n_shingles"), col("max_freq"),
        floor(col("max_freq").cast("double") * 1000 / col("n_shingles"))
          .cast("long").as("rep_ratio_x1000"))
  }

  /** Corpus mixing report: per (source, lang) stratum — doc count,
    * total chars, floor-scaled mean doc length. The bookkeeping view a
    * data-mixing pipeline drives its sampling weights from. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("total_chars"),
        floor(col("total_chars").cast("double") * 1000 / col("n_docs"))
          .cast("long").as("mean_chars_x1000"))

  /** Document fingerprint: min h60 over word-3-gram shingles (a 1-hash
    * MinHash — robust to local edits); md5 of the whole text as the
    * exact-content fingerprint; falls back to the text hash for docs
    * with < 3 words. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shinglesFromWords(col("w"))).as("s"))
      .groupBy("doc_id").agg(min(h60(col("s"))).as("shingle_fp"))
    docs.select(col("doc_id"), md5(col("text").cast("string")).as("content_fp"),
        h60(col("text")).as("text_h60"))
      .join(sh, Seq("doc_id"), "left")
      .select(col("doc_id"), col("content_fp"),
        coalesce(col("shingle_fp"), col("text_h60")).as("shingle_fp"))
  }

  /** Intra-document dedup: drop repeated sentences within each doc
    * (the boilerplate-stripping cleanup step), keeping the FIRST
    * occurrence and the original order of survivors. One
    * posexplode + per-doc window + re-aggregation — no cross-doc term,
    * embarrassingly parallel at corpus scale.
    *
    * Split is on the literal ". " with trailing empties KEPT
    * (`split(_, _, -1)`): Java's default split drops trailing empty
    * strings while SQL engines keep them, and the oracle compares the
    * reassembled text byte-for-byte. */
  def intraDocDedup(docs: DataFrame): DataFrame = {
    val sent = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ", -1)))
      .toDF("doc_id", "pos", "sent")
    // first-occurrence flag from ONE doc_id-partitioned sort: in
    // (sent, pos) order a sentence is first iff it differs from the
    // previous row's — equivalent to row_number()==1 over
    // (doc_id, sent), but partitioned by doc_id alone so the final
    // per-doc aggregation reuses the exchange (one shuffle total, not
    // two; verified in the plan)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("sent", "pos")
    val prev = lag(col("sent"), 1).over(w)
    val firstSeen = sent.withColumn("first",
      prev.isNull || prev =!= col("sent"))
    firstSeen.groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_sentences"),
        sum(when(col("first"), 1L).otherwise(0L)).as("n_unique"),
        array_sort(collect_list(
          when(col("first"), struct(col("pos"), col("sent")))))
          .as("kept"))
      .select(col("doc_id"), col("n_sentences"), col("n_unique"),
        array_join(transform(col("kept"), k => k.getField("sent")), ". ")
          .as("dedup_text"))
  }

  /** Train/test contamination: for each benchmark document (`doc_id %
    * benchMod == benchRem` — a deterministic holdout), the fraction of
    * its distinct word-3-gram shingles that also occur in ANY other
    * document of the corpus. A benchmark shingle is contaminated iff
    * >= 2 distinct docs contain it (the one doc containing a
    * df-1 shingle is necessarily the benchmark doc itself).
    *
    * Scale: one explode + a shingle-keyed aggregate (the same inverted
    * index as the Jaccard dedup family — the df-cap guard from
    * q47 applies verbatim if boilerplate shingles blow up the index),
    * then one join keyed on shingle and one doc-keyed re-aggregate. No
    * doc-pair term anywhere, so cost is linear in corpus shingles. */
  def contamination(docs: DataFrame, benchMod: Int = 10,
                    benchRem: Int = 7): DataFrame =
      Checkpoints.scoped { scope =>
    // cached: both the df-stats aggregate and the bench join re-derive
    // from the exploded index, and self-derived branches do not share
    // exchanges (same reason ngramJaccardPairs caches its index)
    val sh = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shinglesFromWords(col("w"))).as("s"))
      .transform(scope.cache)
    val dfStats = sh.groupBy("s")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val bench = sh.filter(col("doc_id") % benchMod === benchRem)
    val perDoc = bench.join(dfStats, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_contaminated"))
    docs.filter(col("doc_id") % benchMod === benchRem)
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_x1000",
        floor(col("n_contaminated") * lit(1000.0) /
          greatest(col("n_shingles"), lit(1L))).cast("long"))
      // materialize the (small, per-bench-doc) result before the scope
      // releases the shingle index: a long-lived library session must
      // not accrue a block-store entry per contamination() call
      .transform(Checkpoints.materialize)
  }

  /** Cross-document repeated-span detection — the exact-substring layer
    * of training-data dedup (boilerplate headers/footers, license
    * blocks, templated passages) that document-level MinHash/Jaccard
    * dedup cannot LOCALIZE: it tells you two docs are similar, not
    * which token range is the shared text. Emits every maximal token
    * span whose every `spanTokens`-token window occurs in >= `minDf`
    * distinct documents.
    *
    * Output: (doc_id, span_start, span_len_tokens, n_windows, max_df),
    * span_start 0-based in tokens; a span of n_windows consecutive
    * repeated windows covers n_windows + spanTokens - 1 tokens.
    *
    * Scale shape — no pair term anywhere, cost linear in corpus tokens
    * regardless of how many docs share a span (the failure mode of
    * pair-expansion designs measured in PLANS.md "Scale-law
    * validation"):
    *  1. ONE explode into (doc_id, pos, window-h60) — Σ tokens rows,
    *     the window string hashed to a long immediately so nothing
    *     wider than 24 bytes is ever shuffled;
    *  2. window df by hash — map-side partial combine absorbs
    *     within-partition repeats (boilerplate is locally dense);
    *  3. the df >= minDf hash set joined back against the window
    *     stream — at real boilerplate rates that side is a sliver of
    *     the index (AQE broadcasts it; beyond that a plain shuffle
    *     equi-join on the hash);
    *  4. gaps-and-islands merge of consecutive repeated positions into
    *     maximal spans: one doc_id-partitioned sort, `pos -
    *     row_number()` constant within a run of consecutive positions.
    * h60 is the portable md5-derived hash ([[Hashing.h60]]), so window
    * identity is replayable in any engine with md5 — collisions need
    * 2^30 distinct windows (birthday at 60 bits) before they matter,
    * and this operator only REPORTS spans, so a rare collision costs a
    * spurious report row, never text. The destructive twin
    * [[repeatedSpanRemoval]] widens to 120 bits. */
  def repeatedSpans(docs: DataFrame, spanTokens: Int = 5,
                    minDf: Int = 2): DataFrame =
      Checkpoints.scoped { scope =>
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val L = spanTokens
    // cached: the df aggregate and the join-back both re-derive from
    // the exploded window stream (same reason contamination caches)
    val wins = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      // L-gram windows via the codegen shingle kernel (the transform/
      // slice/concat_ws formulation was CodegenFallback on this
      // corpus-sized projection)
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.wordShingles(col("w"), L,
          distinct = false)))
      .toDF("doc_id", "pos", "s")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        h60(col("s")).as("h"))
      .transform(scope.cache)
    val rep = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDf)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    wins.join(rep, Seq("h"))
      .withColumn("grp", col("pos") - row_number().over(wnd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (count(lit(1)) + lit(L - 1).cast("long")).as("span_len_tokens"),
        count(lit(1)).as("n_windows"),
        max(col("n_docs")).cast("long").as("max_df"))
      .select(col("doc_id"), col("span_start"), col("span_len_tokens"),
        col("n_windows"), col("max_df"))
      .transform(Checkpoints.materialize)
  }

  /** Repeated-span REMOVAL — the editing counterpart of
    * [[repeatedSpans]] (which only reports): every token covered by a
    * repeated `spanTokens`-window occurrence that is NOT the span's
    * first corpus occurrence (min (doc_id, pos) per window hash) is
    * excised, and each document's surviving tokens are reassembled in
    * order. The canonical "deduplicating training data" transform:
    * one copy of every duplicated passage survives, later copies are
    * cut, unique text is untouched.
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text).
    *
    * Scale shape, all skew-safe: window df AND first-occurrence come
    * from ONE hash-keyed aggregate (countDistinct + min(struct) —
    * map-side partial combine, no per-hash window partition); the
    * join-back is AQE-skew-splittable; covered token positions come
    * from an explode of at most spanTokens per bad window, deduped by
    * (doc_id, pos); the final anti-join and doc-keyed reassembly are
    * linear. No pair term anywhere.
    *
    * == Collision hardening (destructive operator!) ==
    *
    * Window identity is the 120-bit pair ([[Hashing.h60]],
    * [[Hashing.h60b]]) — both halves of ONE md5 digest, so the cost
    * over a single 60-bit key is 8 shuffled bytes, not a second hash.
    * 60 bits alone is fine for REPORTING ([[repeatedSpans]] keeps it)
    * but not for excision at design scale: a 100 TB corpus has ~10^12
    * windows, where E[60-bit collisions] ≈ (10^12)^2 / 2^61 ≈ 4x10^5 —
    * each deleting `spanTokens` innocent tokens from a random document.
    * At 120 bits the same expectation is ~4x10^-13: no innocent token
    * is ever removed in practice. Residual tolerance: a full-md5-prefix
    * collision (~2^-120 per pair) would still excise wrongly; we accept
    * that in exchange for never shuffling the window string itself.
    *
    * == Memory bound ==
    *
    * Reassembling `clean_text` collects each doc's surviving (pos, tok)
    * structs into ONE in-task array before `array_join` — inherent to
    * emitting a text column, so task memory is bounded by the LARGEST
    * document, not the partition. `maxTokens = Some(n)` caps that
    * array by ORIGINAL token position (a filter before the collect, so
    * the bound holds inside the aggregation buffer, not after): a
    * pathological multi-GB document degrades to a truncated clean_text
    * plus `truncated = true` instead of OOMing the task. The flag
    * column is only added when the clamp is on, so the default output
    * schema (and the q64 oracle) is unchanged. n_tokens/n_removed
    * always count the FULL document either way. */
  def repeatedSpanRemoval(docs: DataFrame, spanTokens: Int = 5,
                          minDf: Int = 2,
                          maxTokens: Option[Int] = None): DataFrame =
    repeatedSpanRemovalKeyed(docs, spanTokens, minDf, h60, h60b, maxTokens)

  /** Test seam for [[repeatedSpanRemoval]]: the two window-key halves
    * are injectable so a spec can PLANT a first-half collision (e.g.
    * `key1 = _ => lit(0L)`, making every window collide on 60 bits) and
    * prove the second half still prevents any innocent excision —
    * engineering a real md5 60-bit collision would need ~2^30 digests.
    * Production always uses (h60, h60b) via the public method. */
  private[graft] def repeatedSpanRemovalKeyed(
      docs: DataFrame, spanTokens: Int, minDf: Int,
      key1: Column => Column, key2: Column => Column,
      maxTokens: Option[Int] = None): DataFrame =
      Checkpoints.scoped { scope =>
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    maxTokens.foreach(n =>
      require(n >= 1, s"maxTokens must be >= 1, got $n"))
    val L = spanTokens
    // cached: scanned by the anti-join AND the per-doc total (same
    // tokenize-once discipline as the window index below)
    val toks = docs.select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .withColumn("pos", col("pos").cast("long"))
      .transform(scope.cache)
    val wins = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      // L-gram windows via the codegen shingle kernel (the transform/
      // slice/concat_ws formulation was CodegenFallback on this
      // corpus-sized projection)
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.wordShingles(col("w"), L,
          distinct = false)))
      .toDF("doc_id", "pos", "s")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        key1(col("s")).as("h"), key2(col("s")).as("h2"))
      .transform(scope.cache)
    val stats = wins.groupBy("h", "h2").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .filter(col("n_docs") >= minDf)
    val bad = wins.join(stats, Seq("h", "h2"))
      .filter(!(col("f.doc_id") === col("doc_id") && col("f.pos") === col("pos")))
    val covered = bad
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val total = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    // the clamp filters INSIDE collect_list's input (collect_list skips
    // nulls), so the per-doc aggregation buffer itself never exceeds
    // maxTokens entries — the memory bound, not a post-hoc truncation
    val collectible = maxTokens.fold(struct(col("pos"), col("tok"))) { n =>
      when(col("pos") < n, struct(col("pos"), col("tok")))
    }
    val keptAgg = maxTokens.fold(
      kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_sort(collect_list(collectible)).as("ks"))) { n =>
      kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_sort(collect_list(collectible)).as("ks"),
        max(col("pos") >= n).as("trunc"))
    }
    val outCols = Seq(
      col("doc_id"), col("n_tokens"),
      (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
      coalesce(array_join(
        transform(col("ks"), k => k.getField("tok")), " "), lit(""))
        .as("clean_text")) ++
      maxTokens.map(_ => coalesce(col("trunc"), lit(false)).as("truncated"))
    total
      .join(keptAgg, Seq("doc_id"), "left")
      .select(outCols: _*)
      .transform(Checkpoints.materialize)
  }

  /** Corpus-global sentence dedup — the sub-document twin of
    * [[intraDocDedup]] and the RefinedWeb/Falcon-style exact layer:
    * every sentence is kept only at its FIRST occurrence in the whole
    * corpus (ordered by (doc_id, position)); later docs repeating it —
    * syndicated passages, quoted boilerplate, mirrored pages — lose
    * that sentence, and each doc's survivors are reassembled in
    * original order.
    *
    * Output: (doc_id, n_sentences, n_kept, dedup_text).
    *
    * Scale shape: one explode (Σ sentences rows), then the
    * first-occurrence decision as an AGGREGATE — `min(struct(doc_id,
    * pos))` per sentence — joined back, then one doc-keyed re-aggregate
    * for reassembly. The aggregate formulation is deliberate: a
    * `row_number() over (partition by sentence)` window puts every
    * occurrence of a mega-repeated sentence (empty string, boilerplate
    * line shared by half the corpus) into ONE window partition that
    * AQE cannot split, while the aggregate gets map-side partial
    * combine (skewed keys collapse to one row per map task before the
    * shuffle) and the join-back is AQE-skew-splittable. No pair term,
    * no driver state.
    *
    * Split convention matches [[intraDocDedup]]: literal ". " with
    * trailing empties KEPT (`split(_, _, -1)`) so reassembly is
    * byte-faithful and the oracle can compare texts exactly.
    *
    * Memory bound: like [[repeatedSpanRemoval]], reassembly collects
    * each doc's surviving (pos, sent) structs into one in-task array —
    * bounded by the largest document. `maxSentences = Some(n)` caps
    * the aggregation buffer by original sentence position and appends
    * a `truncated` flag column; the default schema (and the q62
    * oracle) is unchanged, and n_sentences/n_kept always count the
    * full document. */
  def corpusSentenceDedup(docs: DataFrame,
                          maxSentences: Option[Int] = None): DataFrame = {
    maxSentences.foreach(n =>
      require(n >= 1, s"maxSentences must be >= 1, got $n"))
    val sent = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ", -1)))
      .toDF("doc_id", "pos", "sent")
    // struct min is lexicographic (doc_id, then pos) — identical to
    // the first row of an (doc_id, pos)-ordered window, without the
    // unsplittable per-sentence sort partition
    val firstAt = sent.groupBy("sent")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    // the clamp filters INSIDE collect_list's input (nulls skipped),
    // so the per-doc buffer never exceeds maxSentences entries
    val collectible = maxSentences.fold(
      when(col("first"), struct(col("pos"), col("sent")))) { n =>
      when(col("first") && col("pos") < n, struct(col("pos"), col("sent")))
    }
    val aggs = Seq(
      count(lit(1)).as("n_sentences"),
      sum(when(col("first"), 1L).otherwise(0L)).as("n_kept"),
      array_sort(collect_list(collectible)).as("kept")) ++
      maxSentences.map(n =>
        coalesce(max(col("first") && col("pos") >= n), lit(false))
          .as("truncated"))
    val outCols = Seq(
      col("doc_id"), col("n_sentences"), col("n_kept"),
      array_join(transform(col("kept"), k => k.getField("sent")), ". ")
        .as("dedup_text")) ++
      maxSentences.map(_ => col("truncated"))
    sent.join(firstAt, Seq("sent"))
      .withColumn("first",
        col("f.doc_id") === col("doc_id") && col("f.pos") === col("pos"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(outCols: _*)
  }

  /** Boilerplate mining: the `k` most document-frequent word-3-gram
    * shingles with their document frequencies — the diagnostics query
    * that PRODUCES the stop-shingle lists the df-capped Jaccard join
    * consumes (its cap exists precisely because these shingles blow up
    * Σdf²; mining them first lets a pipeline cap or strip them
    * deliberately).
    *
    * Output: (shingle, df, rank), rank 1..k by df descending with the
    * shingle string as the deterministic tie-break.
    *
    * Scale shape: one explode (Σ shingles rows), one (shingle) df
    * aggregate with map-side partial combine (a corpus-wide
    * boilerplate shingle collapses to one row per map task before the
    * shuffle), then a global top-k — Spark plans TakeOrdered over the
    * vocabulary-sized aggregate, a bounded per-partition heap + one
    * k-row merge on the driver, never a full sort. */
  def topShingles(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // (doc_id, s) rows are unique by construction (shinglesFromWords
    // is per-doc distinct), so plain count IS the document frequency —
    // no countDistinct state needed
    val df = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shinglesFromWords(col("w"))).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .select(col("s").as("shingle"), col("df"))
    val wnd = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").desc, col("shingle"))
    // row_number over an unpartitioned window WOULD be a single-task
    // sort of the whole vocabulary; orderBy+limit instead keeps the
    // top-k selection distributed (TakeOrdered), and the rank column
    // is re-derived on the k-row result only (bounded window, the
    // Packing.bases pattern)
    df.orderBy(col("df").desc, col("shingle")).limit(k)
      .withColumn("rank", row_number().over(wnd).cast("long"))
  }

  /** CCNet-style reference-overlap quality score: grade every document
    * by how much of it is "reference-like", where the reference is a
    * designated slice of the corpus itself (CCNet scores Common Crawl
    * against a Wikipedia LM; here the `source = refSource` slice
    * stands in, so the whole derivation is data-derived and
    * oracle-replayable — no trained model to pin).
    *
    * score = floor(1000 · |doc's distinct trigrams present in the
    * reference vocabulary| / |doc's distinct trigrams|), where the
    * reference vocabulary is every trigram appearing in ≥ minDf
    * DISTINCT reference documents (the df floor drops idiosyncratic
    * n-grams, the same role as CCNet's LM smoothing). Documents with
    * no trigrams (< 3 tokens) score 0. Buckets mirror CCNet's
    * head/middle/tail split at fixed thresholds (head ≥ 667,
    * middle ≥ 334 of the 0–1000 scale).
    *
    * Scale: the vocabulary is an aggregate over the REFERENCE slice
    * only — curated references are orders smaller than the corpus, so
    * the (shingle) set broadcasts and the corpus-side shingle stream
    * joins it map-side (zero corpus shuffles); the only exchange is
    * the per-doc count aggregation on (doc_id) narrow rows. The join
    * is [[VocabJoin]]'s counted dispatch: a reference too big to
    * broadcast takes the shuffle-hash branch keyed on the shingle
    * automatically — still one pass over the corpus. All arithmetic
    * integer or floor-scaled.
    *
    * Round 17: the ref vocabulary goes through
    * [[VocabJoin.joinCached]] — its lineage is DISJOINT from the
    * corpus shingle stream, so no exchange reuse covered it and the
    * ref-slice aggregation ran once for the dispatch count and again
    * for the join's build side (PLANS.md round 17, interleaved A/B
    * at sf0.1: 1.22 s → 0.85 s, rows checksum-identical).
    *
    * Output: (doc_id, n_tri, ref_hits, score_x1000, bucket). */
  def referenceOverlapScore(docs: DataFrame, refSource: String = "src0",
                            minDf: Int = 2): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    // every doc emits its trigrams PLUS one null sentinel row: count(s)
    // then equals the trigram count, a null s matches nothing in the
    // vocab join (SQL null equality), and — the point — every doc is
    // present in the per-doc aggregate, so no corpus-sized left
    // join-back of the doc list is needed afterwards. The ONE exchange
    // in the whole operator is the (doc_id) count aggregation.
    val sh = docs.select(col("doc_id"),
      explode(concat(
        coalesce(shingles3(col("text")),
          array().cast("array<string>")),
        array(lit(null).cast("string")))).as("s"))
    // (doc_id, s) rows are per-doc distinct (shingles3), so count(*)
    // per shingle IS the reference document frequency
    val refVocab = docs.filter(col("source") === refSource)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("s"), lit(1).as("hit"))
    val agg = VocabJoin.joinCached(sh, refVocab, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(col("s")).as("n_tri"), count(col("hit")).as("ref_hits"))
    val score = when(col("n_tri") > 0,
      floor(lit(1000.0) * col("ref_hits") / col("n_tri")))
      .otherwise(lit(0L)).cast("long")
    agg.select(col("doc_id"), col("n_tri"), col("ref_hits"),
        score.as("score_x1000"))
      .withColumn("bucket",
        when(col("score_x1000") >= 667, lit("head"))
          .when(col("score_x1000") >= 334, lit("middle"))
          .otherwise(lit("tail")))
  }

  /** Corpus length-outlier gate (the C4/Gopher-style "trim the tails"
    * stage): every document is flagged keep iff its token count lies
    * within the corpus's [pLo, pHi] exact interpolated percentiles.
    *
    * Output: (doc_id, n_tokens, keep, lo_x100, hi_x100) — the bounds
    * floor-scaled so the oracle compares integers.
    *
    * The percentile is computed from the (length, count) HISTOGRAM,
    * not Spark's `percentile()` aggregate: `percentile()` buffers
    * every input value in one aggregation buffer (10^10 doc lengths at
    * design scale = driver-sized OOM in a single agg state), while the
    * histogram is bounded by the number of DISTINCT lengths —
    * thousands — whatever the corpus size. Rank arithmetic is the same
    * type-7 linear interpolation `percentile()`/`quantile_cont`
    * evaluate (r = p(N-1); v = v0 + (r - floor r)(v1 - v0)), so the
    * result is identical, and LengthGateSpec asserts that equality
    * against Spark's own `percentile()` on randomized corpora.
    *
    * Plan shape: one token-count projection (reused for the gate), a
    * histogram aggregate (map-side combine), ONE unpartitioned window
    * over the tiny histogram (bounded rows — intentional and safe, the
    * Packing.bases pattern), and a single-row broadcast back onto the
    * doc stream. No sort of the corpus, no per-doc state. */
  def lengthGate(docs: DataFrame, pLo: Double = 0.01,
                 pHi: Double = 0.99): DataFrame =
    lengthGateRetained(docs, pLo, pHi)
      .select("doc_id", "n_tokens", "keep", "lo_x100", "hi_x100")

  /** The (n_tokens, cnt) histogram that bounds [[lengthGate]]'s state:
    * the ONLY input the global percentile window ever sees. Exposed so
    * LengthGateSpec can pin the invariant (window input rows =
    * DISTINCT token counts, not corpus rows) against refactors that
    * would silently put the corpus under an unpartitioned window. */
  private[graft] def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(coalesce(
        graft.functions.QualityFunctions.nTokens(col("text")), lit(0L))
        .as("n_tokens"))
      .groupBy("n_tokens").agg(count(lit(1)).as("cnt"))

  /** [[lengthGate]] retaining EVERY input column (plus n_tokens, keep,
    * lo_x100, hi_x100) — the composition form: downstream stages (PII
    * scrub, dedup in q73) need the text, and re-attaching it by
    * doc_id would shuffle the corpus for a value this stage already
    * held. Input must not already carry the appended column names. */
  def lengthGateRetained(docs: DataFrame, pLo: Double = 0.01,
                         pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val toks = docs.withColumn("n_tokens",
      coalesce(graft.functions.QualityFunctions.nTokens(col("text")),
        lit(0L)))
    val hist = lengthHistogram(docs)
    val w = org.apache.spark.sql.expressions.Window.orderBy("n_tokens")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val cumN = cum.crossJoin(hist.agg(sum(col("cnt")).as("N")))
    def rank(p: Double): Column = lit(p) * (col("N") - 1).cast("double")
    def k0(p: Double): Column = floor(rank(p)).cast("long")
    def k1(p: Double): Column = least(k0(p) + 1, col("N") - 1)
    // value at 0-indexed rank k = the smallest length whose cumulative
    // count exceeds k
    def vAt(k: Column): Column = min(when(col("cum") > k, col("n_tokens")))
    val agg = cumN.agg(
      vAt(k0(pLo)).as("lo0"), vAt(k1(pLo)).as("lo1"),
      vAt(k0(pHi)).as("hi0"), vAt(k1(pHi)).as("hi1"),
      max(col("N")).as("N"))
    def interp(p: Double, v0: Column, v1: Column): Column =
      v0.cast("double") +
        (rank(p) - floor(rank(p))) * (v1 - v0).cast("double")
    val bounds = agg.select(
      interp(pLo, col("lo0"), col("lo1")).as("lo"),
      interp(pHi, col("hi0"), col("hi1")).as("hi"))
    toks.crossJoin(broadcast(bounds))
      .withColumn("keep",
        col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .withColumn("lo_x100", floor(col("lo") * 100).cast("long"))
      .withColumn("hi_x100", floor(col("hi") * 100).cast("long"))
      .drop("lo", "hi")
  }

  /** PII scrubbing: count and redact emails, dash/dot-delimited phone
    * numbers, and IPv4 literals. Patterns are the RE2-compatible
    * subset (character classes, bounded repetition, \b) so the SAME
    * pattern string runs identically under Java regex (Spark) and RE2
    * (DuckDB/oracle) — no lookarounds, no backreferences.
    *
    * Output: (doc_id, n_emails, n_phones, n_ips, scrubbed_text) with
    * matches replaced by <EMAIL>/<PHONE>/<IP> in that order (email
    * first: an email's domain must not be half-eaten by the IP rule).
    *
    * Scale: pure per-row map work — no shuffle at all; the scan cost
    * is the regex automaton over each text exactly once per pattern.
    * Embarrassingly parallel at any corpus size. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiScrub(docs: DataFrame): DataFrame = {
    // Round 18: one fused kernel pass — each count IS the number of
    // replacements its pass made (regexp_count(t_i, p_i) over pass i's
    // input, for free), where the Column chain paid one regexp_replace
    // AND one regexp_count NFA scan per pattern per row. Twin:
    // [[piiScrubColumns]] (QualityKernelSpec row-identity).
    val s = graft.functions.QualityFunctions.regexScrub(col("text"),
      Seq(EmailRe, PhoneRe, IpRe), Seq("<EMAIL>", "<PHONE>", "<IP>"))
    docs.select(col("doc_id"),
      s.getField("n_0").as("n_emails"),
      s.getField("n_1").as("n_phones"),
      s.getField("n_2").as("n_ips"),
      s.getField("scrubbed").as("scrubbed_text"))
  }

  /** The pre-round-18 Column-chain [[piiScrub]] — the kernel's
    * equivalence twin (QualityKernelSpec only). */
  private[graft] def piiScrubColumns(docs: DataFrame): DataFrame = {
    val (email, phone, ip) = (EmailRe, PhoneRe, IpRe)
    val t0 = col("text")
    val t1 = regexp_replace(t0, email, "<EMAIL>")
    val t2 = regexp_replace(t1, phone, "<PHONE>")
    val t3 = regexp_replace(t2, ip, "<IP>")
    docs.select(col("doc_id"),
      regexp_count(t0, lit(email)).cast("long").as("n_emails"),
      regexp_count(t1, lit(phone)).cast("long").as("n_phones"),
      regexp_count(t2, lit(ip)).cast("long").as("n_ips"),
      t3.as("scrubbed_text"))
  }

  /** Vocabulary-frequency quality score: how "in-distribution" a doc's
    * vocabulary is relative to the corpus. Rare-token-heavy documents
    * (OCR garbage, mojibake, hex dumps) score low; fluent text whose
    * tokens appear across many documents scores high. The unigram-LM
    * quality filter of pretraining pipelines, reformulated over doc
    * frequencies with integer/floor-only arithmetic — a log-prob
    * variant is NOT portable because ln() is not correctly-rounded and
    * differs across engines in the last ulp.
    *
    * Output: (doc_id, n_tokens, n_hapax, common_score_x1000) where
    * n_hapax counts tokens whose corpus DOCUMENT frequency is 1 (they
    * occur nowhere outside this doc), and common_score_x1000 =
    * floor(1000 * Σ min(df, dfCap) / (n_tokens * dfCap)) — 1000 means
    * every token is corpus-common at the cap, 10 means essentially
    * every token is unique to the doc.
    *
    * Scale: one explode (Σ tokens rows, strings bounded by word
    * length), one token-keyed df aggregate (vocabulary-sized output —
    * Heaps' law, sublinear in corpus), one join back keyed on token
    * (the vocabulary side broadcasts at any realistic corpus size),
    * one doc-keyed re-aggregate. Linear, no pair term. */
  def vocabQuality(docs: DataFrame, dfCap: Int = 100): DataFrame =
      Checkpoints.scoped { scope =>
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .transform(scope.cache)
    val dfStats = tok.groupBy("t")
      .agg(countDistinct(col("doc_id")).as("df"))
    tok.join(dfStats, Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(least(col("df"), lit(dfCap.toLong))).as("capped_df_sum"))
      .select(col("doc_id"), col("n_tokens"), col("n_hapax"),
        floor(col("capped_df_sum") * lit(1000.0) /
          (col("n_tokens") * lit(dfCap.toLong)))
          .cast("long").as("common_score_x1000"))
      .transform(Checkpoints.materialize)
  }

  /** Unigram-LM surprisal scoring — the perplexity-style quality
    * filter (CCNet / Gopher's LM stage) in integer-exact form: a
    * token appearing c times in a W-token corpus carries
    * −log₂(c/W) ≈ ⌊log₂(W div c)⌋ bits of surprise, and
    * ⌊log₂ x⌋ = length(bin(x)) − 1 EXACTLY on both engines — no
    * transcendental ever touches a checked value (ln is not
    * correctly-rounded-guaranteed cross-engine; binary string length
    * is). A doc of corpus-typical tokens scores low bits/token;
    * rare-token gibberish scores high — threshold the top tail the
    * way CCNet thresholds LM perplexity.
    *
    * Plan: one vocabulary aggregate (Heaps-sized; [[VocabJoin]]'s
    * counted dispatch broadcasts it while it fits and shuffle-hash
    * joins on the token past that — still one corpus pass), one
    * corpus-stream join against it, one per-doc sum — the only
    * corpus-sized exchange is the (doc_id) aggregation of 3-int rows
    * (the q91 shape). Every doc appears: tokens('') = [''] is itself
    * a counted vocabulary token, and null text contributes no rows
    * (dropped by the explode on both engines... callers with null
    * text get no row, same as the oracle).
    *
    * Output: (doc_id, n_tokens, surprisal_bits,
    * bits_x1000_per_token = (1000·bits) div n_tokens). */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    // CACHED across the dispatch action and the serving join: the
    // driver aggregate below is a second ACTION, and actions share no
    // exchange reuse — uncached, the corpus tokenize+groupBy ran once
    // per action (measured +0.34 s at sf0.1, PLANS.md round 16; the
    // round-13 single-action form was exchange-reused). The cache is
    // vocabulary-sized (Heaps-bounded — the same budget argument as
    // the broadcast branch), recomputable on eviction, materialized
    // by the aggregate action itself, and lingers until the session
    // clears it — the q140 cnt-cache precedent; Bench/Verify clear
    // between queries.
    val counts = tok.groupBy("t").agg(count(lit(1)).as("c")).cache()
    // ONE driver action yields BOTH the LM total W and the vocabulary
    // size: W rides into the bits expression as a literal (replacing
    // the 1-row crossJoin's separate broadcast subjob) and the row
    // count feeds VocabJoin's dispatch via planFromCount — so the
    // counted dispatch costs zero extra passes here (round 14 priced
    // plan()'s own count() at ~1.8× on this sub-second query).
    val agg = counts.agg(sum(col("c")).as("w"), count(lit(1)).as("nv")).head()
    val (wTotal, nVocab) =
      (if (agg.isNullAt(0)) 0L else agg.getLong(0), agg.getLong(1))
    val vocab = counts.select(col("t"),
      (length(bin(idiv(lit(wTotal), col("c")))) - 1)
        .cast("long").as("bits"))
    tok.join(VocabJoin.planFromCount(vocab, nVocab)(vocab), Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
        idiv(lit(1000L) * col("surprisal_bits"),
          greatest(col("n_tokens"), lit(1L))).as("bits_x1000_per_token"))
  }

  /** Collocation mining: the adjacent word pairs most over-represented
    * against the independence assumption — PMI's argument carried as
    * integer "lift" instead of its log, so the ranking is identical
    * (log is monotone) and the score replays integer-exact in the
    * oracle:
    *
    *   lift_x1M(w1,w2) = (10^6 · c12 · W) div (c1 · c2)
    *
    * where c12 = bigram count, c1/c2 = unigram counts, W = total
    * bigram occurrences. In a training-data pipeline this surfaces
    * boilerplate phrases and multi-word expressions (tokenizer vocab
    * candidates, the seed step of phrase-aware dedup); `minCount`
    * plays PMI's usual low-frequency guard. 64-bit bound:
    * c12·W < 9.2·10^12 — a corpus past it scales the constant down
    * or moves the product to DECIMAL(38,0).
    *
    * Plan: bigrams come from the [[graft.functions.WordShinglesExpr]]
    * codegen kernel (n = 2, non-distinct — duplicates are the count),
    * split back to words by `substring_index` (tokens are
    * whitespace-split, so words never contain the join space). Two
    * corpus-sized explodes feeding two vocabulary-keyed aggregates
    * (Heaps-law-sized outputs); unigram counts and the 1-row total
    * join back by broadcast (at a vocabulary past broadcast scale,
    * drop the hint — the same plan becomes a bigram-vocab-keyed
    * shuffle join, still corpus-free); top-k is TakeOrdered + a
    * k-row rank window (the [[topShingles]] pattern). No pair term
    * anywhere —
    * candidate bigrams are only the ADJACENT pairs the corpus
    * actually contains. */
  def collocations(docs: DataFrame, minCount: Int = 3, k: Int = 50): DataFrame =
      Checkpoints.scoped { scope =>
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(tokens(col("text")).as("w"))
    // both vocabulary aggregates are cached for the operator's
    // lifetime: uncached, the unigram frame re-ran its corpus
    // aggregation for EACH broadcast build (w1 side, w2 side) plus
    // VocabJoin's dispatch count, and the bigram frame once for the
    // W-total subjob and once for the probe — five corpus-sized
    // aggregations where two suffice. The dispatch count and the
    // driver-collected W total are what materialize the caches; the
    // k-row output is materialized so both caches release before the
    // frame is returned (the annTopK cache-release convention).
    val c12 = toks
      .select(explode(graft.functions.TextFunctions
        .wordShingles(col("w"), 2, distinct = false)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .transform(scope.cache)
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .transform(scope.cache)
    val totRow = c12.agg(sum(col("c12"))).head()
    val nBigrams = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    // one counted dispatch for the unigram frame, reused by both joins
    val uniHint = VocabJoin.plan(uni)
    val scored = c12.filter(col("c12") >= minCount.toLong)
      .join(uniHint(uni.select(col("tok").as("w1"), col("c").as("c1"))), "w1")
      .join(uniHint(uni.select(col("tok").as("w2"), col("c").as("c2"))), "w2")
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        idiv(lit(1000000L) * col("c12") * lit(nBigrams),
          col("c1") * col("c2")).as("lift_x1M"))
    val wnd = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift_x1M").desc, col("w1"), col("w2"))
    scored.orderBy(col("lift_x1M").desc, col("w1"), col("w2"))
      .limit(k)
      .withColumn("rank", row_number().over(wnd).cast("long"))
      .select(col("rank"), col("w1"), col("w2"), col("c12"),
        col("c1"), col("c2"), col("lift_x1M"))
      .transform(Checkpoints.materialize)
  }

  /** CCNet's per-language LM-quality bucketing (Wenzek et al. 2020)
    * with the whole chain integer-exact: a per-LANGUAGE unigram LM
    * ([[unigramSurprisal]]'s bin-length bits, but vocabulary and
    * totals keyed by lang — zh gibberish is judged against zh, not
    * against the en-dominated global token stream), then each doc's
    * bits_x1000_per_token bucketed head/middle/tail against its
    * language's OWN [pHead, pTail] interpolated percentiles. q91's
    * fixed 667/334 thresholds were the global-constant stand-in;
    * this is the real adaptive per-group form CCNet runs per
    * language.
    *
    * pHead/pTail default to 0.25/0.75: DYADIC percentiles, so the
    * type-7 rank p·(N−1), its fractional part, and the
    * v0 + frac·(v1−v0) interpolation are all IEEE-EXACT (dyadic
    * rationals times small integers) — the bucket boundary is the
    * same bit pattern on any engine under any evaluation order. A
    * non-dyadic p still matches DuckDB's quantile_cont (q70's rank
    * math, proven at 0.01/0.99) but would lean on ulp-for-ulp
    * agreement of the frac product; the dyadic default removes even
    * that.
    *
    * Plan: the q115 exchange shape with lang added to the keys —
    * per-(lang, token) vocabulary (Heaps-sized; [[VocabJoin]]'s
    * counted dispatch broadcasts while it fits and shuffle-hash
    * joins past that), one corpus-stream join, one per-doc
    * aggregation. The percentile machinery then sees only the
    * (lang, score) HISTOGRAM — bounded by langs × distinct scores at
    * any corpus size — under a lang-partitioned running-sum window,
    * and the |langs|-row bounds frame broadcasts back onto the
    * scored docs. The corpus is exchanged exactly twice (token join,
    * doc agg); the gate itself adds zero corpus-sized shuffles. */
  def perLangSurprisalGate(docs: DataFrame, pHead: Double = 0.25,
                           pTail: Double = 0.75): DataFrame = {
    require(pHead > 0 && pTail < 1 && pHead < pTail,
      s"need 0 < pHead < pTail < 1, got ($pHead, $pTail)")
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("t"))
    // cached across the totals action and the serving join — the
    // q115 single-pass discipline (see unigramSurprisal's comment):
    // uncached, the per-(lang, token) corpus aggregation evaluated
    // once for the collect and again inside the caller's action
    val counts = tok.groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .cache()
    // ONE |langs|-row driver action yields the per-lang LM totals AND
    // the vocabulary size (the q115 fusion, grouped): the totals
    // frame the bits expression joins is rebuilt as a local literal
    // frame, and VocabJoin's dispatch reads the row count off the
    // same action instead of paying plan()'s second count() job.
    val perLang = counts.groupBy("lang")
      .agg(sum(col("c")).as("w_total"), count(lit(1)).as("nv"))
      .collect()
    val nVocab = perLang.map(_.getLong(2)).sum
    val sp = docs.sparkSession
    import sp.implicits._
    val totals = perLang.toSeq
      .map(r => (r.getString(0), r.getLong(1)))
      .toDF("lang", "w_total")
    val vocab = counts.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("t"),
        (length(bin(idiv(col("w_total"), col("c")))) - 1)
          .cast("long").as("bits"))
    val scored = tok.join(
        VocabJoin.planFromCount(vocab, nVocab)(vocab), Seq("lang", "t"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        idiv(lit(1000L) * col("surprisal_bits"),
          greatest(col("n_tokens"), lit(1L)))
          .as("bits_x1000_per_token"))
    val hist = scored
      .select(col("lang"), col("bits_x1000_per_token").as("s"))
      .groupBy("lang", "s").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy("s")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val withN = cum.join(
      broadcast(hist.groupBy("lang").agg(sum(col("cnt")).as("N"))),
      Seq("lang"))
    def rank(p: Double): Column = lit(p) * (col("N") - 1).cast("double")
    def k0(p: Double): Column = floor(rank(p)).cast("long")
    def k1(p: Double): Column = least(k0(p) + 1, col("N") - 1)
    // value at 0-indexed rank k within the lang = the smallest score
    // whose cumulative count exceeds k (the q70 histogram-rank trick,
    // grouped)
    def vAt(k: Column): Column = min(when(col("cum") > k, col("s")))
    val agg = withN.groupBy("lang").agg(
      vAt(k0(pHead)).as("h0"), vAt(k1(pHead)).as("h1"),
      vAt(k0(pTail)).as("t0"), vAt(k1(pTail)).as("t1"),
      max(col("N")).as("N"))
    def interp(p: Double, v0: Column, v1: Column): Column =
      v0.cast("double") +
        (rank(p) - floor(rank(p))) * (v1 - v0).cast("double")
    val bounds = agg.select(col("lang"),
      interp(pHead, col("h0"), col("h1")).as("lo"),
      interp(pTail, col("t0"), col("t1")).as("hi"))
    scored.join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("bits_x1000_per_token") <= col("lo"), lit("head"))
          .when(col("bits_x1000_per_token") <= col("hi"), lit("middle"))
          .otherwise(lit("tail")))
      .withColumn("lo_x100", floor(col("lo") * 100).cast("long"))
      .withColumn("hi_x100", floor(col("hi") * 100).cast("long"))
      .select("doc_id", "lang", "n_tokens", "bits_x1000_per_token",
        "bucket", "lo_x100", "hi_x100")
  }

  /** Blocklist filtering (the UT1-blocklist / bad-phrase curation
    * stage): per doc, the total count of blocklist-phrase occurrences
    * — each phrase counted independently as leftmost non-overlapping
    * matches in the ASCII-casefolded text (exactly what the oracle's
    * per-phrase replace-length trick over lower(text) counts) — and
    * keep = no hits. One [[graft.functions.AhoCorasick]] pass per row
    * whatever the phrase count; a 10k-entry blocklist is one scan,
    * where the per-phrase Column fold is 10k scans AND an unplannable
    * 10k-deep expression tree (spec-measured). Pure projection: ZERO
    * shuffles at any corpus size. Null text yields null hits / null
    * keep on both engines. */
  def blocklistFilter(docs: DataFrame, phrases: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextFunctions
          .multiMatchCount(col("text"), phrases).as("n_hits"))
      .withColumn("keep", col("n_hits") === 0L)

  /** Blocklist scrub/redact — the curation variant that KEEPS the doc
    * and masks the offending spans (PII-style redaction with a phrase
    * list instead of regexes): the casefolded text with every
    * blocklist occurrence overwritten by `mask`, phrase LIST ORDER
    * deciding overlap priority (the semantics of the sequential
    * length-preserving replace chain — which is exactly how the
    * oracle replays it as chained CTEs). One automaton pass per row
    * whatever the phrase count, vs |phrases| full scans for the
    * replace chain itself. Pure projection: ZERO shuffles at any
    * corpus size; the struct is built once per row and the three
    * field extracts dedupe under codegen subexpression elimination.
    * Columns: doc_id, scrubbed, n_spans, n_masked_bytes. */
  def blocklistScrub(docs: DataFrame, phrases: Seq[String],
                     mask: String = "*"): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextFunctions
          .multiMatchScrub(col("text"), phrases, mask).as("s"))
      .select(col("doc_id"), col("s.scrubbed").as("scrubbed"),
        col("s.n_spans").as("n_spans"),
        col("s.n_bytes").as("n_masked_bytes"))

  /** Stupid Backoff bigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation"): the web-scale LM
    * smoothing that replaces discounting with one fixed backoff
    * penalty α = 0.4 — at corpus scale the simple score matches
    * Kneser-Ney quality and is embarrassingly distributable. The LM
    * trains on a REFERENCE SLICE (`refPred`, default doc_id % 10 = 7
    * — q51's benchmark-slice convention) and scores EVERY doc, so
    * the backoff path is real: corpus bigrams absent from the slice
    * back off to the slice's unigram estimate, slice-unseen tokens
    * to the OOV floor. This is the bigram upgrade of
    * [[unigramSurprisal]] — context-sensitive, so token-salad text
    * scores high even when its unigrams are common.
    *
    * Integer bits via the bin-length log (⌊log₂x⌋ = len(bin(x))−1,
    * exact on both engines), with α folded into the divisions
    * (W/(0.4·c) = (10·W)/(4·c), α² = 100/16):
    *   bigram seen            bits = ⌊log₂(c1 div c12)⌋
    *   backoff, token seen    bits = ⌊log₂((10·W) div (4·c2))⌋
    *   backoff, token unseen  bits = ⌊log₂((100·W) div 16)⌋
    * The first token of each doc scores through the unigram path (no
    * context yet): seen ⌊log₂(W div c)⌋, unseen ⌊log₂((10·W) div 4)⌋
    * (one α, not two). 64-bit bound: 100·W < 9.2·10^18 — W is the
    * SLICE's token count, and a production LM slice is a curated
    * sample, not the corpus. The slice must tokenize to at least one
    * token or every score divides by a null total.
    *
    * Plan: slice-sized LM artifacts (bigram vocab with precomputed
    * seen-bits, unigram vocab, 1-row W) all broadcast; the corpus
    * streams ONCE through the bigram kernel
    * ([[graft.functions.WordShinglesExpr]] n=2 NON-distinct — every
    * adjacent-pair instance scores) plus a first-token projection,
    * through three LM probes ([[VocabJoin]]'s counted dispatch:
    * broadcast while the LM fits, shuffle-hash past that), into one
    * per-doc aggregation — the only corpus-sized exchange.
    * n_backoff rides the output: the
    * fall-through fraction is the model-coverage diagnostic a
    * perplexity pipeline reports next to the score. */
  def stupidBackoff(docs: DataFrame,
                    refPred: Column =
                      pmod(col("doc_id"), lit(10)) === 7): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val ref = docs.filter(refPred).select(tokens(col("text")).as("w"))
    // both LM frames cached (the q111/q115 single-pass discipline):
    // the unigram LM is joined FOUR times below plus its dispatch
    // count, the bigram LM once plus its count — uncached, each
    // broadcast build and each count action re-ran the ref-slice
    // aggregation from scratch. The dispatch counts are what
    // materialize the caches.
    val uni = ref.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .cache()
    val wTot = uni.agg(sum(col("c")).as("w_total"))
    // counted dispatch, once per vocabulary frame: each LM broadcasts
    // only while it fits the row budget
    val uniHint = VocabJoin.plan(uni)
    val bgSeen = ref.select(explode(graft.functions.TextFunctions
        .wordShingles(col("w"), 2, distinct = false)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uniHint(uni.select(col("tok").as("w1"), col("c").as("c1"))),
        Seq("w1"))
      .select(col("bg"),
        (length(bin(idiv(col("c1"), col("c12")))) - 1)
          .cast("long").as("bits_seen"))
      .cache()
    val bgHint = VocabJoin.plan(bgSeen)
    val bgInst = base.select(col("doc_id"),
        explode(graft.functions.TextFunctions
          .wordShingles(col("w"), 2, distinct = false)).as("bg"))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(bgHint(bgSeen), Seq("bg"), "left")
      .join(uniHint(uni.select(col("tok").as("w2"), col("c").as("c2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(wTot))
      .select(col("doc_id"),
        when(col("bits_seen").isNotNull, col("bits_seen"))
          .when(col("c2").isNotNull,
            (length(bin(idiv(lit(10L) * col("w_total"),
              lit(4L) * col("c2")))) - 1).cast("long"))
          .otherwise((length(bin(idiv(lit(100L) * col("w_total"),
            lit(16L)))) - 1).cast("long")).as("bits"),
        when(col("bits_seen").isNotNull, lit(0L))
          .otherwise(lit(1L)).as("backoff"))
    val first = base.filter(size(col("w")) >= 1)
      .select(col("doc_id"), element_at(col("w"), 1).as("t"))
      .join(uniHint(uni.select(col("tok").as("t"), col("c").as("c2"))),
        Seq("t"), "left")
      .crossJoin(broadcast(wTot))
      .select(col("doc_id"),
        when(col("c2").isNotNull,
          (length(bin(idiv(col("w_total"), col("c2")))) - 1).cast("long"))
          .otherwise((length(bin(idiv(lit(10L) * col("w_total"),
            lit(4L)))) - 1).cast("long")).as("bits"),
        when(col("c2").isNotNull, lit(0L)).otherwise(lit(1L)).as("backoff"))
    bgInst.select("doc_id", "bits", "backoff").unionByName(first)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("bits")).as("surprisal_bits"))
      .select(col("doc_id"), col("n_tokens"), col("n_backoff"),
        col("surprisal_bits"),
        idiv(lit(1000L) * col("surprisal_bits"),
          greatest(col("n_tokens"), lit(1L))).as("bits_x1000_per_token"))
  }

  /** Cross-entropy-difference data selection (Moore & Lewis 2010) over
    * a HASHED feature space (the DSIR move, Xie et al. 2023): score
    * every document by how much better the TARGET slice's unigram LM
    * explains it than the whole-corpus LM, keep the most target-like.
    * The classic curation shape for "give me more data that looks
    * like this high-quality seed set".
    *
    * Integer-bits form (the q115/q140 floor(log2) convention — both
    * LMs replay in the oracle): tokens hash into `buckets` fixed
    * buckets (pmod(h60(t), B) — the LM frame is B rows at ANY corpus
    * size, the DSIR trade of collision noise for bounded state);
    * per-bucket surprisal in each LM is
    * ⌊log2((T + B) div (c + 1))⌋ (Laplace over the bucket space);
    * per doc,
    *
    *   ce_diff_x1000 = (1000 · Σ_tokens (bits_target − bits_raw))
    *                   div n_tokens
    *
    * negative/low = target-like. `keep` = ce_diff_x1000 ≤
    * `thetaX1000`. The signed division truncates toward zero in both
    * engines (Spark IntegralDivide ≡ DuckDB `//`, verified on
    * negatives). The raw LM counts the WHOLE corpus (target
    * included), Moore–Lewis's in-domain vs general formulation.
    *
    * Plan: one token-stream aggregation builds BOTH LMs (the target
    * counts ride the same groupBy as conditional sums — no second
    * corpus pass for the slice), the B-row LM frame broadcasts back
    * onto the stream, and the only corpus-sized exchanges are the
    * two (bucket) and (doc_id) aggregations of slim int rows.
    *
    * Output: (doc_id, is_target, n_tokens, ce_diff_x1000, keep);
    * docs with null text have no tokens and no row. */
  def crossEntropySelect(docs: DataFrame, targetPred: Column,
                         buckets: Int = 1024,
                         thetaX1000: Long = 0L): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tok = docs
      .select(col("doc_id"), targetPred.as("is_t"),
        explode(tokens(col("text"))).as("t"))
      .withColumn("b", pmod(h60(col("t")), lit(buckets.toLong)))
      .select("doc_id", "is_t", "b")
    val cnt = tok.groupBy("b").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
    val tot = cnt.agg(sum(col("c_r")).as("t_r"), sum(col("c_t")).as("t_t"))
    val lm = cnt.crossJoin(broadcast(tot))
      .select(col("b"),
        (length(bin(idiv(col("t_t") + lit(buckets.toLong),
          col("c_t") + lit(1L)))) - 1).cast("long").as("bits_t"),
        (length(bin(idiv(col("t_r") + lit(buckets.toLong),
          col("c_r") + lit(1L)))) - 1).cast("long").as("bits_r"))
    tok.join(broadcast(lm), Seq("b"))
      .groupBy(col("doc_id"), col("is_t"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits_t") - col("bits_r")).as("dsum"))
      .select(col("doc_id"), col("is_t").as("is_target"), col("n_tokens"),
        idiv(lit(1000L) * col("dsum"),
          greatest(col("n_tokens"), lit(1L))).as("ce_diff_x1000"))
      .withColumn("keep", col("ce_diff_x1000") <= thetaX1000)
  }

  /** TRAINED multinomial Naive Bayes text classifier — the
    * fastText/DCLM-style supervised curation filter (GPT-3's quality
    * classifier, DCLM's fastText gate) instantiated on the corpus's
    * own `lang` labels: train on the doc_id % `trainMod` = `trainRem`
    * slice, classify every held-out document, report prediction and
    * correctness. Any (label, text) supervision drops into the same
    * shape — lang is what the synthetic corpus carries.
    *
    * The model is the integer-bits NB the LM family already speaks
    * (q115's floor(log2) = length(bin(x)) − 1 convention, so every
    * score replays in the oracle):
    *
    *   bits(t, c)  = ⌊log2((T_c + V) div (cnt(t, c) + 1))⌋
    *                 — Laplace-smoothed per-token surprisal in class c
    *                 (T_c = class token total, V = train vocabulary)
    *   default(c)  = ⌊log2(T_c + V)⌋              (unseen token, cnt 0)
    *   prior(c)    = ⌊log2(N div N_c)⌋            (class doc share)
    *   score(d, c) = prior(c) + Σ_tokens bits     (lower = more likely)
    *   pred(d)     = argmin score, ties to the lexicographically
    *                 smallest class
    *
    * floor-log2 quantization coarsens probabilities to powers of two —
    * the honest cost of integer-exact cross-engine scoring; the
    * classifier stays a real NB (monotone per-token evidence), just a
    * coarsely binned one.
    *
    * Plan shape (round 17, the CLASS-PIVOTED kernel): the model is
    * three vocabulary-sized aggregates off one train-slice pass (cnt
    * cached — T_c, V and the bits table read it, not the corpus);
    * the per-class bits then PIVOT to |classes| long columns of one
    * vocabulary-sized frame, the held-out stream explodes once and
    * probes it once (no ×|classes| crossJoin replication), the
    * per-doc aggregate sums |classes| long columns over one row per
    * token, and the argmin is array_min over (bits_total, class)
    * structs on the single aggregated row per doc. Guarded by
    * [[NbPivotMaxClassesKey]] (default 128): past the budget the
    * docs×classes kernel of rounds ≤16 runs instead — wide-pivot
    * plans stop paying past hundreds of columns, and the class list
    * must be driver-collectable. Measured (PLANS.md round 17, x100,
    * interleaved ×3, kept sets identical): capstone stages 5–6
    * 19.52 → 12.18 s min; the ×5-class blowup of the scoring join and
    * aggregate map side was the cost. No corpus-sized join-back;
    * driver-side model state = the ≤budget (class, bdef, bprior)
    * rows.
    *
    * Output: (doc_id, lang, pred_lang, bits_total, correct) for every
    * held-out doc with at least one token. */
  def nbLangClassifier(docs: DataFrame, trainMod: Int = 10,
                       trainRem: Int = 7): DataFrame = {
    require(trainMod >= 2, s"trainMod must be >= 2, got $trainMod")
    require(trainRem >= 0 && trainRem < trainMod,
      s"trainRem must be in [0, $trainMod), got $trainRem")
    val isTrain = pmod(col("doc_id"), lit(trainMod.toLong)) === trainRem
    nbScore(docs.filter(isTrain), docs.filter(!isTrain))
  }

  /** [[nbLangClassifier]] with the train/test split supplied by the
    * CALLER — the production shape where the trusted labeled corpus
    * is EXTERNAL and constant-size while the corpus being scored
    * grows (the mod-slice convention above is the testdata's stand-in
    * for it; PLANS.md round 17's pinned-trust ladder point measures
    * the external shape). Every train-side frame the kernel builds
    * (the per-class token stats, T_c, V, priors) is trusted-corpus-sized,
    * independent of |testDocs| — with the train side pinned, the only
    * corpus-scaled term is the scoring pass. The mod-sliced entry
    * delegates here, so q140's three-sf oracle pins this kernel
    * verbatim. */
  def nbScore(trainDocs: DataFrame, testDocs: DataFrame): DataFrame =
      Checkpoints.scoped { scope =>
    val spark = trainDocs.sparkSession
    val budget = nbPivotMaxClasses(spark)
    val m = nbModel(scope, trainDocs)
    // ONE bounded driver action: the per-class constants, capped at
    // budget+1 rows. Within budget these rows ARE the pivot branch's
    // literals (class name, unseen-token default, prior), and the
    // same action materializes the cnt cache both branches read —
    // so the dispatch costs zero extra passes on the pivot branch
    // and one cheap (trusted-corpus-sized, cache-backed) action on
    // the fallback branch.
    val probe = m.cdef.limit(budget + 1).collect()
    if (probe.isEmpty) {
      // no non-NULL-lang train docs: the classic crossJoin with an
      // empty cdef scored zero rows — reproduce that empty shape
      testDocs
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("t"))
        .limit(0)
        .select(col("doc_id"), col("lang"),
          col("lang").as("pred_lang"), lit(0L).as("bits_total"),
          (col("lang") === col("lang")).as("correct"))
        .transform(Checkpoints.materialize)
    } else if (probe.length > budget) {
      // fallback past the pivot budget: the docs×classes kernel —
      // argmin as an AGGREGATE (min over struct(bits_total, c_lang)
      // is lexicographic = the (bits asc, class asc) tie-break); a
      // partial+final SortAggregate pair, no added exchange.
      classicScored(m, testDocs)
        .groupBy(col("doc_id"), col("lang"))
        .agg(min(struct(col("bits_total"), col("c_lang"))).as("m"))
        .select(col("doc_id"), col("lang"),
          col("m.c_lang").as("pred_lang"),
          col("m.bits_total").as("bits_total"),
          (col("lang") === col("m.c_lang")).as("correct"))
        .transform(Checkpoints.materialize)
    } else {
      // the pivot kernel (see the class scaladoc): per-class bits
      // as |classes| long columns of ONE vocab-sized frame. The
      // classes sort only fixes column order; the argmin tie-break
      // itself is array_min's struct comparison (Spark's own string
      // ordering, the same comparator the classic min(struct) and
      // the window sort used — no driver-side ordering enters the
      // law). Pivot columns are renamed positionally (b_0..b_k) so
      // class strings never need identifier escaping.
      val classes = probe
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val bitsPivot = m.bits.groupBy("t")
        .pivot("c_lang", classes.map(_._1)).agg(first(col("b")))
        .toDF("t" +: classes.indices.map(i => s"b_$i"): _*)
      val sums = classes.zipWithIndex.map { case ((_, bdef, _), i) =>
        // a left-join miss (token unseen in the whole train vocab)
        // nulls every b_i; a token seen only in OTHER classes nulls
        // this b_i — both coalesce to the class default, exactly
        // the classic coalesce(b, bdef)
        sum(coalesce(col(s"b_$i"), lit(bdef))).as(s"sb_$i") }
      val testTok = testDocs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("t"))
      val argmin = array_min(array(classes.zipWithIndex.map {
        case ((c, _, bprior), i) =>
          struct((lit(bprior) + col(s"sb_$i")).as("bits_total"),
            lit(c).as("c_lang")) }: _*))
      // joinCached (round 18, r17 ADVICE 3): plain join's dispatch
      // count evaluated the vocab-sized pivot aggregate once for
      // the count and AGAIN as the build side — cheap only because
      // cnt is cached, but still one whole vocab-sized aggregation
      // per execution; the cache serves both, and its one-shot
      // release listener fires on the materialize action below
      // (which contains both the pivot and the token stream)
      VocabJoin.joinCached(testTok, bitsPivot, Seq("t"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), col("lang"), argmin.as("m"))
        .select(col("doc_id"), col("lang"),
          col("m.c_lang").as("pred_lang"),
          col("m.bits_total").as("bits_total"),
          (col("lang") === col("m.c_lang")).as("correct"))
        .transform(Checkpoints.materialize)
    }
  }

  /** Session conf: class-count budget for [[nbScore]]'s pivoted
    * kernel (default 128). At or under the budget the per-class bits
    * pivot to columns (one probe row per token, no ×|classes|
    * replication); past it the docs×classes kernel runs — a pivot
    * hundreds of columns wide stops paying, and the class constants
    * must be driver-collectable. Dispatch is testable via
    * [[nbPivotMaxClasses]] without plan-string reads. */
  val NbPivotMaxClassesKey = "graft.nb.pivotMaxClasses"

  /** [[NbPivotMaxClassesKey]]'s resolved value (default 128). */
  def nbPivotMaxClasses(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption(NbPivotMaxClassesKey).map(_.toInt).getOrElse(128)

  /** The NB model frames: `cdef` the ≤|classes|-row per-class
    * constants (unseen-token default + prior); `bits` the (class,
    * token) smoothed surprisal table. Both read the per-(class, token)
    * train stats, cached in the caller's scope. */
  private final case class NbModel(cdef: DataFrame, bits: DataFrame)

  /** One train-slice pass builds the whole model (shared by the
    * pivot kernel and the fallback docs×classes kernel). */
  private def nbModel(scope: Checkpoints.Scope,
                      trainDocs: DataFrame): NbModel = {
    // NULL-lang train docs are dropped BEFORE the class set is built:
    // a NULL class would ride into the argmin tie-break, where Spark's
    // ascending sort puts NULLs first and DuckDB's ORDER BY puts them
    // last — a cross-engine divergence on any bits_total tie. The rest
    // of the LM family already assumes non-null labels; make it
    // explicit here (held-out docs keep their lang: a NULL test label
    // just yields correct = NULL, identically in both engines).
    val train = trainDocs.filter(col("lang").isNotNull)
    val cnt = train
      .select(col("lang").as("c_lang"), explode(tokens(col("text"))).as("t"))
      .groupBy("c_lang", "t").agg(count(lit(1)).as("c"))
      .transform(scope.cache)
    val tc = cnt.groupBy("c_lang").agg(sum(col("c")).as("t_c"))
    val v = cnt.select("t").distinct().agg(count(lit(1)).as("v"))
    val cls = train.groupBy(col("lang").as("c_lang"))
      .agg(count(lit(1)).as("n_c"))
    val nTot = train.agg(count(lit(1)).as("n"))
    // per-class constants: unseen-token default + prior, ≤|classes| rows
    val cdef = cls.join(tc, Seq("c_lang"), "left")
      .crossJoin(broadcast(v)).crossJoin(broadcast(nTot))
      .select(col("c_lang"),
        (length(bin(coalesce(col("t_c"), lit(0L)) + col("v"))) - 1)
          .cast("long").as("bdef"),
        (length(bin(idiv(col("n"), col("n_c")))) - 1)
          .cast("long").as("bprior"))
    val bits = cnt.join(tc, Seq("c_lang")).crossJoin(broadcast(v))
      .select(col("c_lang"), col("t"),
        (length(bin(idiv(col("t_c") + col("v"), col("c") + lit(1L)))) - 1)
          .cast("long").as("b"))
    NbModel(cdef, bits)
  }

  /** The docs×classes per-(doc, class) scoring over an [[NbModel]] —
    * the pre-r17 kernel body, now the past-budget fallback. */
  private def classicScored(m: NbModel,
                            testDocs: DataFrame): DataFrame = {
    val testTok = testDocs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
    VocabJoin.join(
        testTok.crossJoin(broadcast(m.cdef)), m.bits,
        Seq("c_lang", "t"), "left")
      .groupBy(col("doc_id"), col("lang"), col("c_lang"), col("bprior"))
      .agg(sum(coalesce(col("b"), col("bdef"))).as("sb"))
      .select(col("doc_id"), col("lang"), col("c_lang"),
        (col("bprior") + col("sb")).as("bits_total"))
  }
}
