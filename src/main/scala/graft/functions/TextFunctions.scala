package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators.
  * All pure `org.apache.spark.sql.functions` compositions (codegen'd,
  * no UDFs) so they stay inside whole-stage codegen at scale.
  */
object TextFunctions {

  /** FNV-1a 64-bit over UTF-8 bytes — the per-row gram hash feeding the
    * minhash permutations (plain JVM function, not a Column: the minhash
    * fold runs in a tight mapPartitions loop). Any deterministic 64-bit
    * hash works there; avalanche comes from the splitmix permutation mix.
    */
  def fnv64(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Whitespace tokens of trimmed text (keeps empty tokens on doubled
    * spaces — same as DuckDB string_split).
    */
  def wsTokens(text: Column): Column = split(trim(text), " ")

  /** Normalized form for fingerprinting: collapse whitespace, lowercase. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** MD5 fingerprint of the normalized text (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(normalized(text).cast("binary"))

  // n-gram building lives in the native WordNGrams expression
  // (NGramExpression.scala) — the transform(sequence(...)) HOF form it
  // replaced is the documented anti-pattern (README pitfall #2:
  // CollapseProject inlines split() into every lambda element).

  /** First 64 bits of md5(UTF-8 bytes) as a signed long — a 64-bit token
    * hash computable IDENTICALLY in any engine with an md5 function
    * (unlike xxhash64, whose seeded variant is Spark-internal), so
    * hash-dependent operators built on it stay under the cross-engine
    * correctness oracle. Assembled from two 32-bit halves via shiftleft
    * (bit ops don't overflow-check under ANSI).
    */
  def md5Hash64(c: Column): Column = {
    val m = md5(c.cast("binary"))
    val hi = conv(substring(m, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(m, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Count of tokens contained in a fixed set (stopword/marker
    * counting) — the native codegen'd [[CountTokensInSet]] expression
    * (the HOF `size(filter(...))` form it replaced ran interpreted).
    */
  def tokensInSet(tokens: Column, set: Seq[String]): Column =
    CountTokensInSet.tokens_in_set(tokens, set)

  /** Dot product of two float-array columns, computed in double with a
    * sequential left fold (matches DuckDB's list_dot_product ordering).
    */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Cosine similarity given precomputed norms. */
  def cosine(dot: Column, normA: Column, normB: Column): Column = dot / (normA * normB)
}
