package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing primitives.
  *
  * Everything here is defined so the exact same value is computable in
  * ANSI SQL on any engine with `md5()` (the DuckDB oracle uses
  * `('0x' || substr(md5(x), 1, 15))::BIGINT`). We deliberately avoid
  * Spark's `hash()`/`xxhash64()` (engine-specific seeds) for any value
  * that participates in a correctness-checked result.
  *
  * All expressions are built from codegen'd built-ins (md5, conv,
  * substring, arithmetic) so they stay inside whole-stage codegen.
  */
object Hashing {

  /** 2^31 - 1, the Mersenne prime used as the universal-hash modulus. */
  val P31: Long = 2147483647L

  /** 60-bit positive hash: first 15 hex chars of md5(string(x)). */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Driver/test-side twin of [[h60]] over an already-stringified
    * value — same md5, same 15-hex-char slice. */
  def h60Scala(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** The OTHER 60 bits of the same digest: hex chars 16..30 of
    * md5(string(x)). Pairing [[h60]] with this gives a 120-bit key from
    * ONE md5 evaluation (whole-stage codegen subexpression-eliminates
    * the shared digest) — for destructive operators where a 60-bit
    * birthday collision is a real event at design scale (10^12 keys →
    * ~4x10^5 expected 60-bit collisions, ~4x10^-13 expected 120-bit
    * ones). */
  def h60b(c: Column): Column =
    conv(substring(md5(c.cast("string")), 16, 15), 16, 10).cast("long")

  /** Hash reduced into [0, 2^31-1) — safe to multiply by a 31-bit
    * constant without overflowing a signed 64-bit long. */
  def h31(c: Column): Column = h60(c) % P31

  /** Universal-hash family h_i(x) = (a_i * x + b_i) mod P31 over h31
    * values; (a, b) pairs are fixed primes so results are stable. */
  val minhashCoeffs: Seq[(Long, Long)] = Seq(
    (1299721L, 104729L), (15485863L, 32452843L), (49979687L, 86028121L),
    (67867967L, 2654435761L % P31), (122949829L, 512927357L),
    (179424673L, 94418953L), (217645199L, 961748941L), (275604541L, 433024223L),
    (334214459L, 715225739L), (413158511L, 982451653L), (452930477L, 715225741L),
    (533000389L, 302143853L), (613651369L, 472882027L), (694847539L, 533000401L),
    (756065159L, 613651349L), (817504243L, 694847533L))

  def universalHash(h31col: Column, a: Long, b: Long): Column =
    (h31col * lit(a) + lit(b)) % lit(P31)

  /** Lowercased whitespace tokens (non-distinct, order-preserving). */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Distinct word 3-gram shingles from a words column. Backed by the
    * [[graft.functions.WordShinglesExpr]] codegen kernel (the
    * `transform`-based formulation was CodegenFallback on the
    * corpus-sized projection under every shingle-dedup operator; the
    * kernel also evaluates the words child ONCE per row, so the old
    * O(words²) inline-tokenize hazard — no CSE inside lambda bodies —
    * is gone). First-occurrence order, like array_distinct.
    *
    * Null contract: a NULL words column yields NULL (standard
    * null propagation), NOT the empty array the pre-kernel
    * `when(size(w) >= 3, ...).otherwise(array())` form produced.
    * Exploding callers are unaffected (explode drops both); a caller
    * that KEEPS the array and needs the old `[]`-for-null behavior
    * must coalesce at its own boundary. `tokens(text)` is itself null
    * for null text, so the contract surfaces exactly on null-text
    * documents. */
  def shinglesFromWords(w: Column): Column =
    graft.functions.TextFunctions.wordShingles(w, 3, distinct = true)

  /** Non-distinct word 3-gram shingles (for repetition statistics —
    * duplicates are the signal). Same null contract as
    * [[shinglesFromWords]]: null words yield null. */
  def shinglesAllFromWords(w: Column): Column =
    graft.functions.TextFunctions.wordShingles(w, 3, distinct = false)

  /** Distinct word 3-gram shingles; empty array for texts < 3 words.
    * Portable twin of the oracle's
    * `list_distinct(list_transform(range(1, len(w)-1), i -> ...))`.
    * Only for one-shot use on small inputs — see [[shinglesFromWords]]. */
  def shingles3(text: Column): Column = shinglesFromWords(tokens(text))

  /** Integral divide on longs, matching DuckDB's `//` (truncation;
    * = floor for the all-positive fixed-point arithmetic the oracle
    * queries use). Long-exact — a floor(double/double) form would
    * mis-round whenever a quotient lands within one ulp of an
    * integer (e.g. numerators near 10^12 with 4-digit divisors). */
  def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** DuckDB SQL fragment computing the same value as [[h60]]. */
  def h60Sql(x: String): String =
    s"(('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 15))::BIGINT)"

  /** DuckDB SQL fragment computing the same value as [[h60b]]. */
  def h60bSql(x: String): String =
    s"(('0x' || substr(md5(CAST($x AS VARCHAR)), 16, 15))::BIGINT)"

  /** DuckDB SQL fragment computing the same value as [[h31]]. */
  def h31Sql(x: String): String = s"(${h60Sql(x)} % ${P31})"

  /** DuckDB SQL fragment for the distinct word-3-gram shingle list.
    * The single-element-list lambda wrap binds the regexp split ONCE
    * per row — the naive form re-evaluated the full-text split inside
    * the per-shingle lambda (3 splits per position), which dominated
    * the round-13 oracle replay on every shingle-family query. */
  def shingles3Sql(textCol: String): String =
    s"list_transform([regexp_split_to_array(trim(lower($textCol)), '\\s+')], " +
      s"w -> list_distinct(list_transform(range(1, len(w) - 1), " +
      s"i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))[1]"
}
