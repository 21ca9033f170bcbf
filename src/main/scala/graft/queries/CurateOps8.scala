package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.{md5Code60, md5Uniform32, ngrams}

/** Round-11 wave: DSIR — Data Selection with Importance Resampling
  * (Xie et al. 2023), the published hashed-n-gram data-selection
  * algorithm the curation family still lacked (sample_importance is a
  * length-Bernoulli keep; sample_stratified is label-balanced; neither
  * is distribution matching).
  */
object CurateOps8 {

  /** DSIR over the documents corpus, in-corpus target: select the
    * source documents whose hashed-n-gram distribution best matches the
    * TARGET slice (lang = 'en'), as published:
    *
    *  1. features: unigrams + bigrams of the lowercased text, hashed
    *     into B = 1024 buckets (md5-derived 60-bit code mod B — same
    *     fold both engines, so bucketing is bit-identical);
    *  2. bag-of-words importance model: per bucket b,
    *     log w[b] = ln(c_t[b]+1) − ln(c_s[b]+1) + ln(N_s+B) − ln(N_t+B)
    *     (add-1 smoothing; c_t/N_t over target grams, c_s/N_s over ALL
    *     grams — the source);
    *  3. per-doc importance score = Σ_grams log w[bucket(gram)];
    *  4. Gumbel top-k resampling (the paper's §2.3 sampling-without-
    *     replacement device): key = score + Gumbel(doc) where the
    *     Gumbel is −ln(−ln(u)) with u the doc's md5-uniform; keep the
    *     top 100 keys (20 % of the declared sf0.01 corpus, so the
    *     correctness gate actually exercises selection).
    *
    * Exactness discipline: the per-bucket log-weight is quantized to
    * integer MICRO-units once (round(·1e6) over a 1024-row bounded
    * table), so the per-doc score is an exact INTEGER sum — immune to
    * double-summation order across partitions and engines; the Gumbel
    * perturbation is quantized the same way and ADDED IN INTEGERS, so
    * the top-k ordering is a total integer order (ties impossible:
    * md5-uniform keys collide with p ≈ 2⁻³², and doc_id breaks them
    * anyway). Reported means are derived from the exact integer sums
    * map-only. ln() itself must agree across engines only to the 0.5e-6
    * rounding boundary — the same class the repo's round(x, 6) rows
    * already rely on.
    *
    * Scale shape: one explode (linear in corpus tokens), ONE pass
    * builds both bucket-count columns (conditional aggregate), the
    * 1024-row model broadcasts back (window totals run over the
    * BOUNDED bucket table), the per-doc sum partial-aggregates
    * map-side, and the top-k is TakeOrdered (per-partition heads + one
    * merge — no global sort). No self-joins, no corpus-proportional
    * broadcast, no driver loops: the 100 TB path as published.
    */
  val sampleDsir: Q = Q(
    "sample_dsir",
    """WITH tok AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |grams AS (
      |  SELECT doc_id, lang, unnest(list_concat(
      |           t,
      |           list_transform(generate_series(1, greatest(len(t) - 1, 0)),
      |                          i -> t[i] || ' ' || t[i+1]))) AS g
      |  FROM tok),
      |bg AS (
      |  SELECT doc_id, lang,
      |         CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024 AS b
      |  FROM grams),
      |buckets AS (
      |  SELECT b, count(*) AS c_s,
      |         count(*) FILTER (WHERE lang = 'en') AS c_t
      |  FROM bg GROUP BY b),
      |model AS (
      |  SELECT b, CAST(round((ln(c_t + 1) - ln(c_s + 1)
      |           + ln(sum(c_s) OVER () + 1024) - ln(sum(c_t) OVER () + 1024)) * 1e6)
      |           AS BIGINT) AS lw_q
      |  FROM buckets),
      |scored AS (
      |  SELECT bg.doc_id, min(bg.lang) AS lang, sum(m.lw_q) AS score_q,
      |         CAST(count(*) AS BIGINT) AS n_grams
      |  FROM bg JOIN model m ON bg.b = m.b
      |  GROUP BY bg.doc_id),
      |keyed AS (
      |  SELECT doc_id, lang, score_q, n_grams,
      |         score_q + CAST(round(-ln(-ln(
      |             (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
      |             / 4294967296.0)) * 1e6) AS BIGINT) AS key_q
      |  FROM scored),
      |kept AS (
      |  SELECT * FROM keyed ORDER BY key_q DESC, doc_id ASC LIMIT 100),
      |agg AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
      |         CAST(sum(score_q) AS BIGINT) AS s,
      |         CAST(sum(n_grams) AS BIGINT) AS grams_kept
      |  FROM kept GROUP BY lang)
      |SELECT lang, n_kept, s AS sum_score_micros,
      |       ((2 * s + CASE WHEN s < 0 THEN -n_kept ELSE n_kept END)
      |        // (2 * n_kept)) / 1000000.0 AS mean_logratio,
      |       grams_kept
      |FROM agg
      |ORDER BY lang NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard BEFORE the unigram+bigram explode (r16;
    // pathology at Tables.spreadExplodeInput; 20.5 s sf1 — the
    // third-heaviest document explode on the surface)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("t"))
    // one explode carries unigrams AND bigrams
    val grams = tok.select(col("doc_id"), col("lang"),
      explode(concat(col("t"), ngrams("t", 2))).as("g"))
    val bg = grams.select(col("doc_id"), col("lang"), (md5Code60(col("g")) % 1024).as("b"))
    val buckets = bg.groupBy(col("b"))
      .agg(count(lit(1)).as("c_s"),
        count(when(col("lang") === "en", 1)).as("c_t"))
    // totals over the BOUNDED (≤1024-row) bucket table: an unpartitioned
    // window here is a 1024-row frame, not a corpus sort
    val wAll = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val model = buckets
      .withColumn("lw_q",
        round((log(col("c_t") + 1) - log(col("c_s") + 1)
          + log(sum(col("c_s")).over(wAll) + 1024)
          - log(sum(col("c_t")).over(wAll) + 1024)) * 1e6).cast("long"))
      .select(col("b"), col("lw_q"))
    val scored = bg.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(min(col("lang")).as("lang"), sum(col("lw_q")).as("score_q"),
        count(lit(1)).cast("long").as("n_grams"))
    val gumbelQ = round(-log(-log(
        (md5Uniform32(col("doc_id").cast("string")) + lit(BigDecimal("0.5")))
          / lit(BigDecimal("4294967296.0")))) * 1e6).cast("bigint")
    val kept = scored
      .withColumn("key_q", col("score_q") + gumbelQ)
      .orderBy(col("key_q").desc, col("doc_id").asc)
      .limit(100)
    // mean_logratio is an EXACT integer round-half-away-from-zero of
    // sum_micros / n (the ts_ema device, extended to the negative score
    // domain): Spark `div` and DuckDB `//` both TRUNCATE toward zero, so
    // a sign-symmetric half offset makes the 6-decimal value bit-
    // identical in both engines — no double division, no round() tie
    // (ADVICE r11: the former round(double) was the exact .5e-6 class
    // ts_ema hit at sf1)
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("score_q")).cast("long").as("sum_score_micros"),
        sum(col("n_grams")).cast("long").as("grams_kept"))
      .withColumn("mean_logratio", expr(
        """((2 * sum_score_micros
            + (CASE WHEN sum_score_micros < 0 THEN -n_kept ELSE n_kept END))
           div (2 * n_kept)) / 1000000.0"""))
      .select(col("lang"), col("n_kept"), col("sum_score_micros"),
        col("mean_logratio"), col("grams_kept"))
      .orderBy(col("lang").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(sampleDsir)
}
