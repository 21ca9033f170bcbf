package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and training: deterministic train/val/test
  * splitting, stratified sampling, context-window chunking, and PII-style
  * redaction. All are hash- or window-deterministic (D4) and fully
  * distributed: the split and sample need one shuffle each, chunking is
  * a generator (no shuffle), redaction is a pure projection.
  */
object LlmOpsCurate {

  /** Deterministic 80/10/10 train/val/test split by md5 bucket of the
    * stable doc key — the standard trick so the assignment is reproducible
    * across runs/engines and new docs don't reshuffle old ones. At 100 TB
    * this is a map-only projection + one partial-aggregated count.
    */
  val dataSplitHash: Q = Q(
    "data_split_hash",
    """SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM (
      |  SELECT CASE WHEN bucket < 80 THEN 'train'
      |              WHEN bucket < 90 THEN 'val'
      |              ELSE 'test' END AS split, n_chars
      |  FROM (SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
      |               n_chars
      |        FROM documents)
      |)
      |GROUP BY split
      |ORDER BY split NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val bucket = md5Uniform32(col("doc_id").cast("string")) % 100
    T.documents(s, d)
      .select(
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"),
        col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy(col("split").asc_nulls_first)
  }

  /** Stratified sampling: EXACTLY ⌈10%⌉ of every language stratum,
    * chosen by md5 rank so the sample is deterministic and
    * engine-independent (a seeded .sample() is neither). The window
    * ranks within each stratum — one shuffle on the stratum key; skewed
    * strata stay balanced because the fraction is per-stratum.
    */
  val sampleStratified: Q = Q(
    "sample_stratified",
    """WITH ranked AS (
      |  SELECT lang, n_chars,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |         count(*) OVER (PARTITION BY lang) AS n_lang
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_sampled, CAST(min(n_lang) AS BIGINT) AS n_stratum,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sampled
      |FROM ranked
      |WHERE rn <= CAST(ceil(0.1 * n_lang) AS BIGINT)
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    val wAll = Window.partitionBy(col("lang"))
    T.documents(s, d)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_lang", count(lit(1)).over(wAll))
      .filter(col("rn") <= ceil(lit(0.1) * col("n_lang")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("n_lang")).cast("long").as("n_stratum"),
        sum(col("n_chars")).cast("long").as("chars_sampled"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Context-window chunking: overlapping 32-token windows with stride
    * 24 (8-token overlap), the shape that feeds fixed-window training.
    * Pure generator over each doc — no shuffle; chunk starts at
    * i*stride+1 for i in 0..(len-1) div stride, so every token is
    * covered and the tail chunk may be short.
    */
  val textChunk: Q = Q(
    "text_chunk",
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50
      |)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |       array_to_string(list_slice(t, i*24 + 1, i*24 + 32), ' ') AS chunk,
      |       CAST(len(list_slice(t, i*24 + 1, i*24 + 32)) AS BIGINT) AS n_tokens
      |FROM tk, unnest(generate_series(0, (len(t) - 1) // 24)) AS u(i)
      |ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    T.spreadExplodeInput(s, T.documents(s, d))
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), expr("(size(t) - 1) div 24"))).as("i"))
      .select(
        col("doc_id"),
        col("i").cast("long").as("chunk_id"),
        array_join(slice(col("t"), col("i") * 24 + 1, lit(32)), " ").as("chunk"),
        size(slice(col("t"), col("i") * 24 + 1, lit(32))).cast("long").as("n_tokens"))
      .orderBy(col("doc_id").asc_nulls_first, col("chunk_id").asc_nulls_first)
  }

  /** PII-style redaction: digit-mask the identifying name keeping the
    * last 3 chars for human disambiguation, plus an md5 pseudonym that
    * stays joinable across tables without exposing the value. Pure
    * projection — map-only at any scale. (RE2-safe pattern: no
    * lookaround, so the same regex runs on both engines.)
    */
  val textRedact: Q = Q(
    "text_redact",
    """SELECT c_custkey,
      |       concat(regexp_replace(substring(c_name, 1, length(c_name) - 3), '[0-9]', '*', 'g'),
      |              substring(c_name, length(c_name) - 2, 3)) AS name_masked,
      |       md5(c_name) AS name_pseudonym
      |FROM customer
      |ORDER BY c_custkey NULLS FIRST
      |LIMIT 200""".stripMargin
  ) { (s, d) =>
    T.customer(s, d)
      .select(
        col("c_custkey"),
        concat(
          regexp_replace(expr("substring(c_name, 1, length(c_name) - 3)"), "[0-9]", "*"),
          expr("substring(c_name, length(c_name) - 2, 3)")).as("name_masked"),
        md5(col("c_name")).as("name_pseudonym"))
      .orderBy(col("c_custkey").asc_nulls_first)
      .limit(200)
  }

  /** Data-quality profile — the ETL "validate" stage as a query:
    * per-column row/non-null/distinct counts, computed in ONE pass over
    * the table (a single aggregate, stacked to rows) rather than one
    * scan per column. Metadata-driven: the column list drives the
    * generated aggregates, mirroring how the reference's manifest
    * drives its loads.
    */
  val dqProfile: Q = {
    val cols = Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name", "c_nationkey")
    Q(
      "dq_profile",
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct
           |FROM customer""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)\nORDER BY col_name NULLS FIRST")
    ) { (s, d) =>
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
      val one = T.customer(s, d)
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
      one.select(col("n_rows"),
        expr(s"stack(${cols.size}, $stackArgs) AS (col_name, n_nonnull, n_distinct)"))
        .select(col("col_name"), col("n_rows"), col("n_nonnull"), col("n_distinct"))
        .orderBy(col("col_name").asc_nulls_first)
    }
  }

  /** Gopher-style repetition filter: a doc whose word bigrams repeat
    * heavily is boilerplate/spam — score = duplicate-bigram fraction
    * (1 − distinct/total), the standard pre-training quality gate
    * (cf. Rae et al. 2021 §A1.1 repetition rules). Map-only per doc
    * (the bigram set never leaves the row); the global top-25 is
    * TakeOrderedAndProject with a (frac DESC, doc_id) total order.
    * Determinism: frac is a ratio of two exact ints, divided once.
    */
  val textRepetition: Q = Q(
    "text_repetition",
    """WITH bi AS (
      |  SELECT doc_id, len(t) - 1 AS n_bigrams,
      |         len(list_distinct(list_transform(
      |           generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS n_distinct
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |  WHERE len(t) >= 2)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |       CAST(n_distinct AS BIGINT) AS n_distinct,
      |       round(CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams, 6) AS dup_frac
      |FROM bi
      |ORDER BY dup_frac DESC, doc_id ASC
      |LIMIT 25""".stripMargin
  ) { (s, d) =>
    T.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        (size(col("t")) - 1).cast("long").as("n_bigrams"),
        expr("""CAST(size(array_distinct(transform(sequence(1, size(t) - 1),
                i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))) AS BIGINT)""")
          .as("n_distinct"))
      .withColumn("dup_frac",
        round((col("n_bigrams") - col("n_distinct")).cast("double") / col("n_bigrams"), 6))
      .orderBy(col("dup_frac").desc, col("doc_id").asc)
      .limit(25)
  }

  /** Importance (quality-weighted) sampling: keep each doc with
    * probability p = min(1, n_chars/500) — the upsample-long-docs
    * shape every data-mixture pipeline runs — decided by a
    * DETERMINISTIC per-doc uniform u = md5(doc_id)[0:8] / 2³². Both
    * u (32-bit int ÷ 2³² — exact in double) and p (one correctly-
    * rounded division) are bit-identical cross-engine, so the kept
    * SET is reproducible anywhere, unlike a seeded .sample() whose
    * draw depends on partitioning. Map-only + one partial-aggregated
    * count at any scale.
    */
  val sampleImportance: Q = Q(
    "sample_importance",
    """WITH scored AS (
      |  SELECT lang, n_chars,
      |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |           / 4294967296.0 AS u,
      |         least(1.0, n_chars / 500.0) AS p
      |  FROM documents)
      |SELECT lang, CAST(count(*) FILTER (WHERE u < p) AS BIGINT) AS n_kept,
      |       CAST(count(*) AS BIGINT) AS n_total,
      |       CAST(coalesce(sum(n_chars) FILTER (WHERE u < p), 0) AS BIGINT) AS chars_kept
      |FROM scored GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val u = md5Uniform32(col("doc_id").cast("string")) / lit(BigDecimal("4294967296.0"))
    val p = least(lit(1.0), col("n_chars") / lit(500.0))
    T.documents(s, d)
      .select(col("lang"), col("n_chars"), u.as("u"), p.as("p"))
      .groupBy(col("lang"))
      .agg(count(when(col("u") < col("p"), 1)).as("n_kept"),
        count(lit(1)).as("n_total"),
        coalesce(sum(when(col("u") < col("p"), col("n_chars"))), lit(0L))
          .cast("long").as("chars_kept"))
      .orderBy(col("lang").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(dataSplitHash, sampleStratified, textChunk, textRedact,
    dqProfile, textRepetition, sampleImportance)
}
