package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps.ngrams

/** Batch-vs-corpus incremental near-dup decisions — the operator a
  * growing-corpus ingestion pipeline trusts most (SURVEY §2A
  * dedup_incremental; factored out of the declared query so the
  * cross-batch algebra is property-testable). A batch doc is REJECTED
  * when its 3-gram Jaccard against some corpus doc reaches the
  * threshold; the emitted decision names the best corpus match
  * (max Jaccard, ties → lowest corpus doc_id).
  *
  * Scale shape: candidates come from the distinct-shingle equi-join
  * restricted to batch×corpus (J ≥ t > 0 ⇒ a shared shingle ⇒ recall
  * 1 without minhash probability); cost ∝ cross-set shingle
  * collisions, never batch×corpus row pairs. At 100 TB the
  * ultra-common shingles are df-pruned exactly as dedup_ngram_jaccard
  * documents.
  */
object IncrementalDedup {

  /** Distinct 3-gram shingles per doc from (doc_id, text). */
  private def shingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"), explode(array_distinct(ngrams("t", 3))).as("s"))

  /** Decisions for `batch` against `corpus` (both (doc_id, text)):
    * one row (batch_doc, corpus_match, jaccard) per REJECTED batch
    * doc; batch docs absent from the result are accepted. Thresholding
    * happens on the exact ratio; `jaccard` is round(…,6) at the edge
    * only (D-rules).
    */
  def matches(corpus: DataFrame, batch: DataFrame,
              threshold: Double): DataFrame = {
    val cs = shingles(corpus)
    val bs = shingles(batch)
    val csz = cs.groupBy(col("doc_id").as("cid0")).agg(count(lit(1)).as("cn"))
    val bsz = bs.groupBy(col("doc_id").as("bid0")).agg(count(lit(1)).as("bn"))
    val inter = bs.as("b").join(cs.as("c"), col("b.s") === col("c.s"))
      .groupBy(col("b.doc_id").as("bid"), col("c.doc_id").as("cid"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") / (col("bn") + col("cn") - col("i"))
    val scored = inter
      .join(bsz, col("bid") === col("bid0"))
      .join(csz, col("cid") === col("cid0"))
      .filter(jac >= threshold)
      .select(col("bid"), col("cid"), round(jac, 6).as("jaccard"))
    val w = Window.partitionBy(col("bid"))
      .orderBy(col("jaccard").desc, col("cid").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("bid").as("batch_doc"), col("cid").as("corpus_match"),
        col("jaccard"))
  }
}
