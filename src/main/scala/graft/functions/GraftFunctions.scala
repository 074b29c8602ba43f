package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Column-level functions shared by the operator library.
  *
  * Everything here is built from `org.apache.spark.sql.functions._`
  * primitives (codegen'd, no Scala UDFs in the hot path) and has an exact
  * DuckDB rendering in [[graft.oracle.DuckSql]] so every operator that uses
  * them stays hash-checkable against the driver's DuckDB oracle.
  */
object GraftFunctions {

  /** Portable 60-bit hash: first 15 hex chars of md5, read base-16.
    * Positive, fits a signed 64-bit integer, and computable identically in
    * DuckDB ([[graft.oracle.DuckSql.hash60]]). Used for dedup signatures,
    * LSH bucketing and fingerprints; being md5-based it is stable across
    * JVMs/partitionings (unlike `hash()`/`xxhash64` whose seeds differ
    * between engines).
    */
  def hash60(c: Column): Column =
    graft.functions.expressions.Md5Prefix60(c.cast("string"))

  /** Composable-SQL rendering of [[hash60]] (same values; kept as the
    * readable specification and for contexts without the native expr).
    */
  def hash60Sql(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** Seeded variant: independent hash family member i (minhash permutations,
    * LSH hyperplanes). h_i(x) = hash60(i ':' x).
    */
  def hash60Seeded(seed: Int, c: Column): Column =
    hash60(concat(lit(seed.toString), lit(":"), c.cast("string")))

  /** 2^61 - 1; modulus of the [[permHash]] universal-hash family. */
  val MersenneP: Long = 2305843009213693951L

  /** Cheap permutation-hash family over an already-hashed 60-bit value:
    * h_p(h) = (A_p·h + B_p) mod (2^61-1), computed exactly in
    * DECIMAL(38,0) (the 121-bit product fits). One md5 per input + k modmuls
    * replaces k md5s — the minhash signature kernel. DuckDB mirrors with
    * HUGEINT arithmetic (integer-exact cross-engine).
    */
  def permHash(p: Int, h: Column): Column = {
    val (a, b) = permHashParams(p)
    graft.functions.expressions.MersennePermHash(a, b, h)
  }

  /** Scala twin of [[permHash]] (for oracle/test constant derivation). */
  def permHashParams(p: Int): (Long, Long) =
    (hash60Scala(s"A:$p") | 1L, hash60Scala(s"B:$p"))

  /** Driver-side twin of [[hash60]] for deriving deterministic constants
    * (e.g. LSH hyperplane weights) without per-row hashing.
    */
  def hash60Scala(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Explicit whitespace class shared by every tokenizer regex on BOTH
    * engines. Java `\s` is `[ \t\n\x0B\f\r]` but RE2 (DuckDB) `\s` excludes
    * `\x0B`, so a bare `\s` tokenizes a vertical-tab-bearing document
    * differently across the oracle boundary (r6 advice). The escapes are
    * identical hex/control escapes in Java regex and RE2, so one literal
    * serves both.
    */
  val WsClass: String = "[ \\t\\n\\x0B\\f\\r]"

  /** Lowercased whitespace tokens, empties removed. Matches
    * DuckSql.tokens exactly (same explicit [[WsClass]], same empty-filter).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), WsClass + "+"), t => t =!= "")

  /** Distinct word n-gram shingles over [[tokens]]. Docs with fewer than n
    * tokens yield an empty array.
    *
    * Built from `arrays_zip` of n shifted slices rather than indexing the
    * token array inside a lambda: lambda-embedded `element_at(tokens(..))`
    * re-inlines the regex tokenization per gram (no CSE inside
    * higher-order functions — measured 10× slower on the dedup pipelines).
    * Here the tokenization is evaluated a constant number of times per row.
    */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordGrams(text, n))

  /** Word n-grams WITH multiplicity (the non-distinct form of
    * [[wordShingles]], same shifted-slice construction) — the denominator
    * and duplicate signal of repetition-based quality filters.
    */
  def wordGrams(text: Column, n: Int): Column =
    wordGramsFromTokens(tokens(text), n)

  /** [[wordGrams]] over an already-tokenized column — for callers that
    * hold the token array (scrubbing, BPE states) and must not pay or
    * re-trigger the tokenization. */
  def wordGramsFromTokens(t: Column, n: Int): Column = {
    val zipped = arrays_zip((0 until n).map(j => slice(t, lit(j + 1), size(t) - (n - 1))): _*)
    val grams = transform(zipped, s =>
      concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))
    when(size(t) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** In-order double dot product — native codegen'd Expression
    * ([[graft.functions.expressions.ArrayDotProduct]]); identical IEEE
    * fold order to DuckSql's list_reduce rendering, so bit-exact
    * cross-engine.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.ArrayDotProduct.dot(a, b)

  /** Exact cosine similarity between two float/double array columns.
    * For pairwise workloads precompute `sqrt(dot(v,v))` per side once
    * (see graft.similarity.Similarity) instead of calling this per pair.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
