package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline surface.
  *
  * Everything here is composed from `org.apache.spark.sql.functions._`
  * (codegen'd / Catalyst-optimizable) — no Scala UDFs, so the expressions
  * stay inside whole-stage codegen and distribute trivially at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokenization (the reference's byte-oriented model never
    * tokenizes — this is north-star surface, reference has no analogue).
    */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def distinctTokens(c: Column): Column = array_distinct(tokens(c))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Chain of n-token structs (f0..f{n-1}) over the token array, built by
    * zipping the array with its own shifted slices — `zip_with` arguments
    * are evaluated ONCE per row, so the regex tokenization never re-runs
    * per shingle (indexing `tokens(c)` from inside a `transform` lambda
    * re-evaluates the split per element: O(tokens²) per document — the
    * failure mode that made the Gopher gram signals 25× slower before
    * round 8 rebuilt [[shingles]] on this chain). Incomplete tail structs
    * (null-padded by `zip_with`) are filtered out.
    */
  private def shingleStructs(c: Column, n: Int): Column = {
    require(n >= 2 && n <= 8, s"shingles support n in 2..8, got $n")
    val t = tokens(c)
    def shifted(k: Int) = slice(t, lit(k + 1), greatest(size(t) - k, lit(0)))
    var acc: Column = zip_with(t, shifted(1),
      (a, b) => struct(a.as("f0"), b.as("f1")))
    for (k <- 2 until n)
      acc = zip_with(acc, shifted(k), (s, x) =>
        struct((0 until k).map(i => s.getField(s"f$i").as(s"f$i")) :+
          x.as(s"f$k"): _*))
    filter(acc, s => s.getField(s"f${n - 1}").isNotNull)
  }

  /** Word n-gram shingles (contiguous, space-joined). Empty array when the
    * document has fewer than n tokens.
    */
  def shingles(c: Column, n: Int): Column =
    transform(shingleStructs(c, n),
      s => concat_ws(" ", (0 until n).map(i => s.getField(s"f$i")): _*))

  def distinctShingles(c: Column, n: Int): Column =
    array_distinct(shingles(c, n))

  /** Word n-gram shingles hashed straight to 64-bit longs — no shingle
    * string is ever materialized (xxhash64 is seeded over the n token
    * elements). The dedup pipeline joins/aggregates on these 8-byte keys;
    * collision odds at 64 bits are negligible for any realistic corpus.
    *
    * Since round 8 this is the native [[TokenShingleHashes]] expression
    * (one rolling-hash pass per row); the zip_with-chain HOF formulation
    * it replaced — bit-identical output, measured per-element lambda
    * overhead — is retained below as [[shingleHashesHof]] for the
    * equivalence spec.
    */
  def shingleHashes(c: Column, n: Int): Column = {
    require(n >= 2 && n <= 8, s"shingleHashes supports n in 2..8, got $n")
    // registry route (the graft_dot precedent): every operator-pack
    // builder that reaches this calls GraftFunctions.register first
    call_function("graft_shingle_hashes", tokens(c), lit(n))
  }

  /** The composable HOF fallback formulation — kept for cross-checking the
    * native expression in specs (the `dotHof` precedent).
    */
  private[graft] def shingleHashesHof(c: Column, n: Int): Column =
    transform(shingleStructs(c, n),
      s => xxhash64((0 until n).map(i => s.getField(s"f$i")): _*))

  def distinctShingleHashes(c: Column, n: Int): Column =
    array_distinct(shingleHashes(c, n))

  /** Count of punctuation characters. */
  def punctCount(c: Column): Column =
    length(regexp_replace(c, "[^.!?,;:]", ""))

  /** Count of tokens found in `words` (with repetition). */
  def wordHits(c: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(tokens(c), t => array_contains(arr, t)))
  }

  /** Canonical document fingerprint: md5 of the lower-cased,
    * whitespace-normalized text. Stable across engines (DuckDB md5 matches),
    * so exact-dedup on the fingerprint is oracle-verifiable.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))
}
