package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused BPE tokenizer application: spaced-encode one word (optional)
  * and apply a whole trained merge list with the exact greedy
  * left-to-right scan of Sennrich et al.'s trainer.
  *
  * Why a kernel and not a fold of `replace` Columns (the original
  * [[graft.ops.Bpe.subwordCounts]] shape):
  *
  *  1. '''Scale.''' Each merge as a Catalyst StringReplace node makes
  *     a production tokenizer's ~30k merges a 30k+-deep expression
  *     tree: analyzer/transform recursion walks every node per rule,
  *     and the single generated method for one fused projection blows
  *     Janino's 64 KB limit, dropping the stage to interpreted eval.
  *     Here the merge list is DATA (two token arrays riding along as
  *     codegen reference objects); the generated code is one static
  *     call whatever the merge count.
  *  2. '''Semantics.''' A literal `replace(s, " a b ", " ab ")` scans
  *     non-overlapping occurrences and CONSUMES the delimiter spaces,
  *     so it both misses the second of two back-to-back disjoint
  *     occurrences (" a b a b " → " ab a b ") and mispairs self-pair
  *     runs (" a a a a a " → " aa a aa " where reference BPE pairs
  *     greedily adjacent: " aa aa a "). The scan here IS the
  *     reference merge — walk tokens left to right, fuse (a, b) when
  *     both match, skip past what was fused — so downstream merge
  *     statistics match a standard BPE trainer's.
  *  3. '''Codegen health.''' `spacedChars` is built on `transform`
  *     (a HigherOrderFunction, i.e. CodegenFallback); any projection
  *     containing it is ejected from whole-stage codegen. The kernel
  *     owns the spacing too (a Unicode code-point walk, identical to
  *     `substr(w, i, 1)` and DuckDB's `w[i]`), keeping the stage
  *     fused.
  *
  * Interpreted eval and codegen share the same JVM method. Null input
  * produces null. The DuckDB oracle replays the same greedy scan with
  * a windowed gaps-and-islands selection (see the q92/q93 CTEs in
  * `graft.queries.Pipeline`): for a≠b, occurrence positions are never
  * adjacent and every occurrence merges; for a=b, greedy keeps every
  * other occurrence within each island of consecutive positions.
  */
case class BpeApplyExpr(child: Expression,
                        merges: Seq[String],
                        spaceInput: Boolean)
    extends UnaryExpression {

  override def prettyName: String =
    if (spaceInput) "bpe_encode" else "bpe_merge_spaced"

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  // the merge list split once into left/right token arrays; the
  // arrays (not the expression) ride into generated code as
  // reference objects
  @transient private lazy val (lefts, rights) = BpeApplyExpr.split(merges)

  override def nullSafeEval(input: Any): Any =
    BpeApplyExpr.run(input.asInstanceOf[UTF8String], lefts, rights,
      spaceInput)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.BpeApplyExpr.run(
      |  $c, $lRef, $rRef, $spaceInput);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeApplyExpr {
  // Seq in, arrays out: the constructor carries Seq[String] so the
  // case-class equals/hashCode are structural (a JVM array compares by
  // reference, defeating Catalyst canonicalization / semanticEquals /
  // subexpression elimination); the codegen reference objects stay
  // flat arrays for the tight scan loop.
  private[functions] def split(merges: Seq[String]): (Array[String], Array[String]) = {
    val l = new Array[String](merges.length)
    val r = new Array[String](merges.length)
    var i = 0
    while (i < merges.length) {
      val pair = merges(i)
      val sp = pair.indexOf(' ')
      require(sp > 0 && sp < pair.length - 1, s"bad merge pair '$pair'")
      l(i) = pair.substring(0, sp)
      r(i) = pair.substring(sp + 1)
      i += 1
    }
    (l, r)
  }

  /** The shared eval/codegen kernel. `spaceInput=true`: `input` is a
    * raw word, symbol-split per Unicode code point first;
    * `spaceInput=false`: `input` is already a spaced encoding
    * " t o k s ". Output is the spaced encoding after every merge's
    * greedy left-to-right scan. */
  def run(input: UTF8String, lefts: Array[String], rights: Array[String],
          spaceInput: Boolean): UTF8String = {
    val s = input.toString
    // tokenize
    var toks = new java.util.ArrayList[String]()
    if (spaceInput) {
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val n = Character.charCount(cp)
        toks.add(s.substring(i, i + n))
        i += n
      }
    } else {
      TextKernels.splitSpaced(s, toks)
    }
    // greedy scan per merge, in training order. copy-on-first-match:
    // at the 30k-merge design point almost no merge occurs in any
    // given word, and allocating + re-copying the token list per
    // merge would dominate the kernel — scan for the first occurrence
    // first, allocate only when one exists
    var m = 0
    while (m < lefts.length) {
      val a = lefts(m)
      val b = rights(m)
      val n = toks.size
      if (n > 1) {
        var first = -1
        var i = 0
        while (first < 0 && i < n - 1) {
          if (toks.get(i) == a && toks.get(i + 1) == b) first = i
          i += 1
        }
        if (first >= 0) {
          val out = new java.util.ArrayList[String](n)
          var j = 0
          while (j < first) { out.add(toks.get(j)); j += 1 }
          while (j < n) {
            if (j + 1 < n && toks.get(j) == a && toks.get(j + 1) == b) {
              out.add(a + b)
              j += 2
            } else {
              out.add(toks.get(j))
              j += 1
            }
          }
          toks = out
        }
      }
      m += 1
    }
    // re-space
    val sb = new java.lang.StringBuilder(s.length + toks.size + 2)
    sb.append(' ')
    var i = 0
    while (i < toks.size) {
      sb.append(toks.get(i)).append(' ')
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

private[functions] object TextKernels {
  /** Split a spaced encoding into tokens, stripping ONLY space
    * characters at the boundaries — NOT java's String.trim, which
    * strips every char <= U+0020 and would silently drop boundary
    * control-char symbols (tokens() splits on \\s+, so non-\\s control
    * chars like U+0001 are legitimate symbol content; Spark's trim()
    * and DuckDB's trim() both strip spaces only, and the kernels must
    * agree with both). Consecutive spaces never occur in well-formed
    * encodings; tokens are never empty. */
  def splitSpaced(s: String, out: java.util.ArrayList[String]): Unit = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    if (lo >= hi) return
    var from = lo
    var sp = s.indexOf(' ', lo)
    while (sp >= 0 && sp < hi) {
      out.add(s.substring(from, sp))
      from = sp + 1
      sp = s.indexOf(' ', from)
    }
    out.add(s.substring(from, hi))
  }
}

/** Adjacent symbol pairs of a spaced encoding, as "a b" strings — one
  * entry per occurrence (overlaps counted, the classic BPE pair
  * statistic). The Column formulation (`transform` over
  * `split`/`sequence`) is a HigherOrderFunction, i.e. CodegenFallback:
  * it ejects the trainer's per-round pair-count projection — the loop
  * a 30k-merge train runs thousands of times over the whole
  * vocabulary — from whole-stage codegen and evaluates the lambda
  * interpreted per element. This kernel walks the string once per
  * row inside codegen; eval and codegen share the JVM method.
  *
  * Null input produces null; single-symbol encodings produce an empty
  * array (matching `when(size > 1, ...).otherwise(array())`). */
case class BpeAdjacentPairsExpr(child: Expression)
    extends UnaryExpression {

  override def prettyName: String = "bpe_adjacent_pairs"

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    BpeAdjacentPairsExpr.pairs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.BpeAdjacentPairsExpr.pairs($c);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeAdjacentPairsExpr {
  /** The shared eval/codegen kernel: split the spaced encoding on
    * single spaces (space-only boundary strip —
    * [[TextKernels.splitSpaced]]), emit "t_i t_{i+1}" per
    * adjacency. */
  def pairs(spaced: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = new java.util.ArrayList[String]()
    TextKernels.splitSpaced(spaced.toString, toks)
    val n = toks.size
    if (n <= 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.fromString(toks.get(i) + " " + toks.get(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Word n-gram shingles from a tokenized words array — the corpus-
  * sized projection under the entire shingle-dedup family (MinHash,
  * n-gram Jaccard, fingerprints, contamination, repetition stats).
  * The Column formulation (`transform` over `sequence` with
  * per-element `element_at`s) is a HigherOrderFunction, i.e.
  * CodegenFallback: every shingle costs n interpreted lambda-frame
  * evaluations on every corpus row. This kernel walks the array once
  * inside whole-stage codegen; eval and codegen share the JVM method.
  *
  * Exact-equivalence contract with the legacy formulation (spec-
  * pinned): shingle i joins words[i..i+n-1] with single spaces
  * (`UTF8String.concatWs` — the same kernel Catalyst's ConcatWs
  * evaluates, nulls skipped identically); fewer than n words yields
  * an empty array; `distinct=true` keeps first occurrences in order
  * like `array_distinct` (binary equality). A side benefit: the
  * kernel evaluates its CHILD once per row, so the O(words²)
  * inline-tokenize hazard the Column form documented (no CSE inside
  * lambda bodies) cannot arise. */
case class WordShinglesExpr(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def prettyName: String =
    if (distinct) "word_shingles_distinct" else "word_shingles"

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    WordShinglesExpr.shingles(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n, distinct)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} =
      |  graft.functions.WordShinglesExpr.shingles($c, $n, $distinct);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShinglesExpr {
  private val Space = UTF8String.fromString(" ")
  private val Empty =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](0))

  /** The shared eval/codegen kernel. */
  def shingles(words: org.apache.spark.sql.catalyst.util.ArrayData,
               n: Int, distinct: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = words.numElements()
    if (m < n) return Empty
    val parts = new Array[UTF8String](n)
    if (!distinct) {
      val out = new Array[Any](m - n + 1)
      var i = 0
      while (i + n <= m) {
        var j = 0
        while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Space, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i + n <= m) {
        var j = 0
        while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
        seen.add(UTF8String.concatWs(Space, parts: _*))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
}

/** ASCII canonical-text normalization in one byte pass — the key
  * projection under normalization-invariant exact dedup
  * ([[graft.ops.Dedup.normalizedGroups]]): lowercase, every maximal
  * run of non-[a-z0-9] bytes to a single space, leading/trailing
  * runs dropped.
  *
  * Why a kernel and not the regex chain
  * (`trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9\s]",
  * " "), "\s+", " "))`): the chain is three full passes — a unicode
  * lowercase materialization plus TWO java.util.regex NFA scans —
  * over every corpus byte, and it measured 22.9 s of
  * normalizedGroups' 24.1 s at the x100 ladder point (PLANS.md round
  * 13; the md5-groupBy itself is 0.5 s). This kernel is a single
  * branch-per-byte loop inside whole-stage codegen.
  *
  * Exact-equivalence contract with the regex chain (spec-pinned):
  * identical output for any input whose characters are ASCII or
  * whose Java-lowercase stays outside [a-z0-9] — i.e. everything but
  * two exotics (İ U+0130 and K U+212A, whose unicode lowercase FOLDS
  * INTO ascii 'i'/'k': the regex chain keeps that letter, this
  * kernel treats the whole character as a separator). Multi-byte
  * UTF-8 characters are separator runs byte-for-byte, which the
  * collapse makes indistinguishable from the regex chain's
  * char-level replacement. The kernel is the operator's DEFINITION;
  * the regex chain is the oracle's replay (DuckDB, where the same
  * two exotics diverge engine-to-engine anyway — ICU vs java.lang
  * case folding). */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "normalize_text"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    NormalizeTextExpr.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.NormalizeTextExpr.normalize($c);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeTextExpr {
  /** The shared eval/codegen kernel: one pass, output never longer
    * than the input (each input byte emits at most one byte; a
    * separator run emits one space and only between kept bytes). */
  def normalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out = new Array[Byte](bytes.length)
    var i = 0
    var o = 0
    var pendingSpace = false
    while (i < bytes.length) {
      val c = bytes(i) & 0xFF
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        out(o) = c.toByte; o += 1
        pendingSpace = false
      } else if (c >= 'A' && c <= 'Z') {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        out(o) = (c + 32).toByte; o += 1
        pendingSpace = false
      } else {
        // ASCII whitespace, ASCII punctuation, and every byte of any
        // multi-byte character: all separators, runs collapse
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(out, 0, o))
  }
}

object TextFunctions {
  /** Column API for [[BpeApplyExpr]] over a raw word: spaced-encode
    * `word`, then apply `merges` ("a b" pairs in training order). */
  def bpeEncode(word: Column, merges: Seq[String]): Column =
    ColumnBridge.column(BpeApplyExpr(
      ColumnBridge.expression(word), merges, spaceInput = true))

  /** Column API for [[BpeApplyExpr]] over an existing spaced
    * encoding — the trainer's per-step rewrite. */
  def bpeMergeSpaced(spaced: Column, merges: Seq[String]): Column =
    ColumnBridge.column(BpeApplyExpr(
      ColumnBridge.expression(spaced), merges, spaceInput = false))

  /** Column API for [[BpeAdjacentPairsExpr]]. */
  def bpeAdjacentPairs(spaced: Column): Column =
    ColumnBridge.column(BpeAdjacentPairsExpr(
      ColumnBridge.expression(spaced)))

  /** Column API for [[WordShinglesExpr]]. */
  def wordShingles(words: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(WordShinglesExpr(
      ColumnBridge.expression(words), n, distinct))

  /** Column API for [[NormalizeTextExpr]]. */
  def normalizeText(text: Column): Column =
    ColumnBridge.column(NormalizeTextExpr(ColumnBridge.expression(text)))

  /** Column API for [[MultiMatchCountExpr]] (Aho–Corasick blocklist
    * hit count). */
  def multiMatchCount(text: Column, phrases: Seq[String]): Column =
    ColumnBridge.column(MultiMatchCountExpr(
      ColumnBridge.expression(text), phrases))

  /** Column API for [[MultiMatchScrubExpr]] (Aho–Corasick blocklist
    * scrub — struct(scrubbed, n_spans, n_bytes)). */
  def multiMatchScrub(text: Column, phrases: Seq[String],
                      mask: String = "*"): Column =
    ColumnBridge.column(MultiMatchScrubExpr(
      ColumnBridge.expression(text), phrases, mask))
}
