package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-9 corpus-statistics wave: vocabulary richness (hapax/TTR),
  * Heaps'-law vocabulary growth, train→test n-gram novelty, and word
  * burstiness — the corpus-health metrics a pretraining-data pipeline
  * reads before mixing (hapax/TTR say how repetitive a slice is;
  * Heaps' exponent says whether vocabulary still grows with more
  * data; n-gram novelty says how much of the held-out split the
  * train split has already seen; burstiness separates topical words
  * from function words).
  *
  * Tokenization is the house idiom (split(lower(text), ' ') ↔
  * string_split) shared with ngram_topk/text_collocations. Counts are
  * exact integers end-to-end; floats are final mirrored ratios; the
  * Heaps OLS runs over ≤|sources| ln-points (bounded float sum, chi2
  * 6-dp headroom); the novelty split is the md5-bucket device
  * (data_split_hash) — reproducible across engines and runs.
  */
object CorpusOps2 {

  private def dbl(c: Column): Column = c.cast("double")

  /** Hapax-legomena ratio and type-token ratio per language: the
    * vocabulary-richness profile (hapax share of the vocabulary, and
    * vocab/tokens). One explode pass with map-side combine; the
    * per-word count table shuffles on (lang, word); the output is
    * |langs| rows of exact-integer ratios.
    */
  val textHapaxRatio: Q = Q(
    "text_hapax_ratio",
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |wc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |agg AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
      |         CAST(sum(c) AS BIGINT) AS tokens,
      |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
      |  FROM wc GROUP BY 1)
      |SELECT lang, vocab, tokens, hapax,
      |       round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6) AS hapax_ratio,
      |       round(CAST(vocab AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS ttr
      |FROM agg ORDER BY lang NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
    val wc = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("lang")).agg(
      count(lit(1)).as("vocab"),
      sum(col("c")).cast("long").as("tokens"),
      sum(when(col("c") === 1, 1).otherwise(0)).cast("long").as("hapax"))
      .select(col("lang"), col("vocab"), col("tokens"), col("hapax"),
        round(dbl(col("hapax")) / dbl(col("vocab")), 6).as("hapax_ratio"),
        round(dbl(col("vocab")) / dbl(col("tokens")), 6).as("ttr"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Heaps'-law fit V = a·N^b over the per-source (tokens, vocab)
    * points: OLS of ln V on ln N — the vocabulary-growth exponent that
    * says whether more data still buys new vocabulary (b≈1: every
    * source is novel; b≈0: saturated). Per-source sufficient
    * statistics are exact integers; the regression runs over
    * ≤|sources| ln-points (bounded float sums under the 6-dp
    * headroom), formulas token-mirrored.
    */
  val textHeapsLaw: Q = Q(
    "text_heaps_law",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |pt AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
      |         CAST(sum(c) AS BIGINT) AS tokens
      |  FROM wc GROUP BY 1),
      |ols AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |         sum(ln(CAST(tokens AS DOUBLE))) AS sx,
      |         sum(ln(CAST(vocab AS DOUBLE))) AS sy,
      |         sum(ln(CAST(tokens AS DOUBLE)) * ln(CAST(vocab AS DOUBLE))) AS sxy,
      |         sum(ln(CAST(tokens AS DOUBLE)) * ln(CAST(tokens AS DOUBLE))) AS sxx
      |  FROM pt)
      |SELECT k,
      |       round((CAST(k AS DOUBLE) * sxy - sx * sy)
      |             / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) + 0.0 AS heaps_b,
      |       round(exp((sy - (CAST(k AS DOUBLE) * sxy - sx * sy)
      |                       / (CAST(k AS DOUBLE) * sxx - sx * sx) * sx)
      |                 / CAST(k AS DOUBLE)), 6) AS heaps_a
      |FROM ols""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
    val wc = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val pt = wc.groupBy(col("source")).agg(
      count(lit(1)).as("vocab"), sum(col("c")).cast("long").as("tokens"))
    val lx = log(dbl(col("tokens")))
    val ly = log(dbl(col("vocab")))
    val ols = pt.agg(
      count(lit(1)).as("k"),
      sum(lx).as("sx"), sum(ly).as("sy"),
      sum(lx * ly).as("sxy"), sum(lx * lx).as("sxx"))
    val b = (dbl(col("k")) * col("sxy") - col("sx") * col("sy")) /
      (dbl(col("k")) * col("sxx") - col("sx") * col("sx"))
    // + 0.0 collapses IEEE −0.0 → +0.0 (a saturated-vocabulary corpus
    // rounds the slope to zero and the engines disagree on its sign)
    ols.select(col("k"),
      (round(b, 6) + lit(0.0)).as("heaps_b"),
      round(exp((col("sy") - b * col("sx")) / dbl(col("k"))), 6).as("heaps_a"))
  }

  /** Held-out n-gram novelty: split docs 50/50 by md5 bucket
    * (data_split_hash device — engine- and run-independent), then per
    * language the share of DISTINCT test bigrams the train split never
    * saw — the "how much is genuinely new?" gate run before trusting
    * any held-out metric. The anti-join runs on distinct (lang,
    * bigram) sets — candidates ∝ vocabulary, never the corpus; at
    * 100 TB this is the distinct-shingle equi-join shape dedup
    * already uses.
    */
  val textNgramNovelty: Q = Q(
    "text_ngram_novelty",
    """WITH base AS (
      |  SELECT lang, text,
      |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |           % 2 AS b
      |  FROM documents),
      |tok AS (SELECT lang, b, string_split(lower(text), ' ') AS t FROM base),
      |bi0 AS (
      |  SELECT lang, b,
      |         unnest(list_transform(generate_series(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1])) AS bigram
      |  FROM tok WHERE len(t) >= 2),
      |bi AS (SELECT DISTINCT lang, b, bigram FROM bi0),
      |test AS (SELECT lang, bigram FROM bi WHERE b = 1),
      |train AS (SELECT lang, bigram FROM bi WHERE b = 0),
      |novel AS (
      |  SELECT test.lang, count(*) AS n_test,
      |         CAST(sum(CASE WHEN train.bigram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_novel
      |  FROM test LEFT JOIN train
      |    ON test.lang = train.lang AND test.bigram = train.bigram
      |  GROUP BY 1)
      |SELECT lang, CAST(n_test AS BIGINT) AS n_test, n_novel,
      |       round(CAST(n_novel AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS novelty
      |FROM novel ORDER BY lang NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val bucket = md5Uniform32(col("doc_id").cast("string")) % 2
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val base = T.spreadExplodeInput(s, T.documents(s, d)).select(col("lang"),
      split(lower(col("text")), " ").as("t"), bucket.as("b"))
    val bi = base.filter(size(col("t")) >= 2)
      .select(col("lang"), col("b"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |          i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"""
          .stripMargin)).as("bigram"))
      .distinct()
    val test = bi.filter(col("b") === 1).select(col("lang"), col("bigram"))
    val train = bi.filter(col("b") === 0)
      .select(col("lang").as("tl"), col("bigram").as("tb"))
    test.join(train, col("lang") === col("tl") && col("bigram") === col("tb"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("tb").isNull, 1).otherwise(0)).cast("long").as("n_novel"))
      .select(col("lang"), col("n_test"), col("n_novel"),
        round(dbl(col("n_novel")) / dbl(col("n_test")), 6).as("novelty"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Word burstiness (Fano factor var/mean of the per-document count,
    * zeros included) for the top-20 corpus words — topical words burst
    * (Fano ≫ 1), function words spread evenly (Fano ≈ 1); the signal
    * that separates them with zero linguistic resources. Variance
    * comes from exact sufficient statistics (Σx = corpus count, Σx²
    * over present docs, N docs) so the zeros never materialize:
    * var = (Σx² − (Σx)²/N)/(N−1). The top-20 cut is (total DESC,
    * word ASC) — a total order. Scale: one explode pass, word-count
    * shuffle, 20-row broadcast back.
    */
  val textBurstiness: Q = Q(
    "text_burstiness",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |dc AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |wt AS (
      |  SELECT w, CAST(sum(c) AS BIGINT) AS total,
      |         CAST(count(*) AS BIGINT) AS df,
      |         CAST(sum(c * c) AS BIGINT) AS s2
      |  FROM dc GROUP BY 1),
      |top AS (SELECT * FROM wt ORDER BY total DESC, w ASC LIMIT 20),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
      |SELECT w, total, df,
      |       round(((CAST(s2 AS DOUBLE)
      |               - CAST(total AS DOUBLE) * CAST(total AS DOUBLE) / CAST(n AS DOUBLE))
      |              / CAST(n - 1 AS DOUBLE))
      |             / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS fano
      |FROM top CROSS JOIN nd
      |ORDER BY total DESC, w ASC""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
    val dc = tok.groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
    val wt = dc.groupBy(col("w")).agg(
      sum(col("c")).cast("long").as("total"),
      count(lit(1)).as("df"),
      sum(col("c") * col("c")).cast("long").as("s2"))
    val top = wt.orderBy(col("total").desc, col("w").asc).limit(20)
    val nd = T.documents(s, d).agg(count(lit(1)).as("n"))
    top.crossJoin(broadcast(nd))
      .select(col("w"), col("total"), col("df"),
        round(((dbl(col("s2"))
          - dbl(col("total")) * dbl(col("total")) / dbl(col("n")))
          / dbl(col("n") - 1))
          / (dbl(col("total")) / dbl(col("n"))), 6).as("fano"))
      .orderBy(col("total").desc, col("w").asc)
  }

  val all: Seq[Q] = Seq(textHapaxRatio, textHeapsLaw, textNgramNovelty,
    textBurstiness)
}
