package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis and near-duplicate building blocks for the
  * training-data-pipeline extension (BASELINE.json north star). All are
  * composed from codegen'd built-ins — no UDFs — so they inline into
  * whole-stage codegen and scale linearly with no shuffle of their own.
  */
object TextFunctions {

  /** Character n-gram shingles, distinct — native kernel (see
    * [[graft.expressions.CharShingles]]). */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.CharShingles(
      org.apache.spark.sql.GraftBridge.expression(text), n))

  /** Composed-builtins twin of [[shingles]] (differential-test
    * reference; per-element interpreted lambda — slow on long text). */
  def shinglesHof(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** Every space-separated word of `text` suffixed with two hex
    * characters of md5(word ++ k) — native kernel (see
    * [[graft.expressions.SaltWords]]). */
  def saltWords(text: Column, k: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.SaltWords(
      org.apache.spark.sql.GraftBridge.expression(text),
      org.apache.spark.sql.GraftBridge.expression(k)))

  /** DEFLATE-compressed byte length of a string — the information-
    * density curation signal (see [[graft.expressions.DeflatedLength]]). */
  def deflatedLen(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.DeflatedLength(
      org.apache.spark.sql.GraftBridge.expression(text)))

  /** Explicit whitespace class used by EVERY tokenization here and in
    * the DuckDB oracles: Java's `\s` and RE2's `\s` disagree on
    * vertical tab \x0B (Java includes it, RE2 does not), so neither
    * engine is allowed to say `\s` — both spell the class out and a
    * corpus containing \x0B cannot diverge hashes. */
  val wsClass = " \\t\\n\\x0B\\f\\r"

  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), s"[$wsClass]+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9$wsClass]"), lit(0))).cast("long")

  /** Ratio of non-alphanumeric-non-space chars. */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, s"[A-Za-z0-9$wsClass]", "")).cast("double") / length(text), 6)

  /** Ratio of uppercase chars. */
  def upperRatio(text: Column): Column =
    round(length(regexp_replace(text, "[^A-Z]", "")).cast("double") / length(text), 6)

  /** Count of common-English stopword hits (n-gram-heuristic language
    * ID: a text with many English function words is English). */
  def stopwordHits(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(the|and|of|to|in|is|for|with|on|at)\\b"), lit(0))).cast("long")

  /** Heuristic language ID from stopword density. */
  def langId(text: Column): Column = {
    val density = round(stopwordHits(text).cast("double") / tokenCount(text), 6)
    when(density > 0.08, "en").when(density > 0.03, "en_like").otherwise("other")
  }

  /** Quality score in [0,1]: length saturation × (1 − punct) × (1 − upper). */
  def qualityScore(text: Column): Column =
    round(least(lit(1.0), tokenCount(text).cast("double") / 200.0)
      * (lit(1.0) - punctRatio(text)) * (lit(1.0) - upperRatio(text)), 6)

  /** Content fingerprint of the normalized text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** MinHash signature: k minima over seeded xxhash64 of the shingles.
    * Seeding via the (seed, shingle) two-argument hash keeps everything
    * inside codegen. */
  def minhashSignature(shingleArr: Column, k: Int): Column = {
    // same two-level hash family as the dedup_minhash_lsh query
    // (xxhash64(seed, xxhash64(shingle))) so the quality spec's
    // signatures match the judged pipeline's. NOTE: as a single nested
    // HOF expression the inner string-hash pass is re-evaluated per
    // seed (no loop-invariant hoisting in interpreted lambdas) — fine
    // at spec scale; the hot path in TextQueries materializes the
    // string hash once in a projection before the per-seed min-agg.
    val hs = transform(shingleArr, sh => xxhash64(sh))
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(hs, h => xxhash64(seed, h))))
  }

  /** LSH band keys over a minhash signature: bands of `rows` hashes,
    * each band hashed to one bucket key. Docs sharing any band key are
    * near-dup candidates — the bucket join replaces the quadratic
    * all-pairs comparison at scale. */
  def bandKeys(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => hash(b, slice(signature, b * rows + 1, lit(rows))))

  /** Estimated Jaccard from two equal-length minhash signatures. The
    * agreement count is the native codegen'd
    * [[graft.expressions.SigMatchCount]] (round 19): the old
    * `aggregate(zip_with(...))` form interpreted two lambdas and
    * allocated an intermediate array PER CANDIDATE PAIR — the hot
    * inner loop of every minhash serve. Identical values (exact
    * integer count, same null semantics), then the same
    * round(count/size, 6). */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    round(org.apache.spark.sql.GraftBridge.column(graft.expressions.SigMatchCount(
        org.apache.spark.sql.GraftBridge.expression(sigA),
        org.apache.spark.sql.GraftBridge.expression(sigB)))
      .cast("double") / size(sigA), 6)

  /** 64-bit SimHash over whitespace tokens: per-bit vote of token
    * hashes, packed into one long. Bit shifts by a lambda variable are
    * SQL-only, hence the expr form. */
  def simhash(textCol: String): Column = expr(s"""
    aggregate(
      zip_with(
        aggregate(
          split(lower(trim($textCol)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'),
          array_repeat(0L, 64),
          (acc, tok) -> zip_with(acc,
            transform(sequence(0, 63), i -> shiftright(xxhash64(tok), i) & 1),
            (a, b) -> a + (b * 2 - 1))),
        sequence(0, 63),
        (v, i) -> if(v > 0, shiftleft(1L, i), 0L)),
      0L, (acc, x) -> acc | x)""")

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The ONE bloom-probe definition of the seen-fingerprint family
    * (round-17 unification): probe a broadcast [[graft.operators.BloomProbe]]
    * — bit or counting bloom — through the registered native
    * expression [[graft.expressions.BloomMightContain]]. Null fp →
    * false (definably unseen), the former UDFs' contract. */
  def graftMightContain(
      bc: org.apache.spark.broadcast.Broadcast[graft.operators.BloomProbe],
      fp: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.BloomMightContain(
      org.apache.spark.sql.GraftBridge.expression(fp), bc, "broadcast"))
}
