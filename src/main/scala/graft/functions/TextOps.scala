package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-signature derivations shared by every Spark-side dedup, curation
  * and sampling query: n-gram arrays, md5-prefix codes, and the
  * collapse-proof let-binding.
  *
  * Each signature step is spelled once here, so that a shingle, a code
  * or a sample bucket derived in one query matches the one derived in
  * any other. The DuckDB oracle SQL keeps its own spelling
  * (`generate_series`, `'0x' || substring(md5(...))`): it is the
  * reference the Spark side is checked against.
  *
  * The r14 find (jstack on the sf100 probe, then microbenched): writing
  * `select(split(text).as("t")).select(transform(..., i -> f(t, i)))`
  * lets CollapseProject INLINE the split into the lambda body — aliases
  * referenced from inside a LambdaFunction scope evade the rule's
  * multi-reference cost check — so the document is re-split PER SHINGLE
  * ELEMENT: O(tokens²) per row. Measured at sf1 on the 3-gram shingle
  * count: 49.0 s collapsed vs 21.7 s let-bound (≈3× on compute time),
  * identical results; the gap grows with document length, and the
  * collapsed form is what burned the r13/r14 sf100 probes.
  *
  * [[let1]] is the general let-binding: evaluate `bound` ONCE per row
  * and pass it into the body as a lambda VARIABLE — lambda variables
  * are never inlined, so the binding is collapse-proof by construction.
  * PlanQualitySpec gates the whole declared surface on the structural
  * signature (a loop-invariant split inside any HOF lambda).
  */
object TextOps {

  /** `let t = bound in body(t)` — `bound` evaluates exactly once per
    * row regardless of how many times `body` references it.
    */
  def let1(bound: Column, body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Whitespace tokens of lower-cased text. */
  def tokens(textCol: Column): Column = split(lower(textCol), " ")

  /** The n-grams of the token array in column `t`, in order, each the
    * n tokens joined by one space (duplicates kept; empty for fewer
    * than n tokens, and for a NULL array, since `greatest` skips NULL).
    *
    * The index range is an ascending `sequence(1, max(size - (n-1), 1))`
    * sliced to `max(size - (n-1), 0)` elements: Spark's `sequence(1, 0)`
    * is DESCENDING [1, 0] (the step defaults to -1 when start > stop),
    * so a doc shorter than n would reach `element_at(t, 0)` and throw.
    * The slice yields [] there, like DuckDB's `generate_series(1, 0)`.
    *
    * The expression is emitted as SQL text, so every caller parses the
    * same plan; `t` names an array column or lambda variable of the
    * input (keep a split from being inlined into it: see the object doc).
    */
  def ngrams(t: String, n: Int): Column = {
    val k = n - 1
    val words = (0 until n)
      .map(j => if (j == 0) s"element_at($t, i)" else s"element_at($t, i+$j)")
      .mkString(", ")
    expr(s"transform(slice(sequence(1, greatest(size($t) - $k, 1)), 1, greatest(size($t) - $k, 0)), " +
      s"i -> concat_ws(' ', $words))")
  }

  /** The first 15 hex digits of md5(c) as a non-negative 60-bit BIGINT:
    * the token and shingle code of the MinHash, SimHash and Jaccard
    * queries. A modulus (`% P`, `% 1024`) stays at the call site.
    */
  def md5Code60(c: Column): Column = md5Prefix(c, 15)

  /** The first 8 hex digits of md5(c) as a BIGINT uniform on
    * [0, 2^32): the deterministic per-key draw behind split buckets,
    * sampling keys and permutation labels.
    */
  def md5Uniform32(c: Column): Column = md5Prefix(c, 8)

  private def md5Prefix(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("bigint")
}
