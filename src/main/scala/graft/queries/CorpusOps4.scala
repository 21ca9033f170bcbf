package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.ngrams

/** Round-12 wave: word-level LM perplexity filtering — the CCNet-class
  * quality signal the corpus family still lacked (text_bigram_logprob
  * is CHARACTER-level surprisal with no backoff; quality_lr_score is a
  * logistic model; text_quality is rule heuristics).
  */
object CorpusOps4 {

  /** Per-document perplexity under a word-BIGRAM language model with
    * STUPID BACKOFF (Brants et al. 2007, "Large Language Models in
    * Machine Translation" §4): the model is trained on the TARGET
    * slice (lang = 'en', the sample_dsir device — so out-of-slice
    * documents actually exercise the backoff path), every document is
    * scored, and the 25 most surprising (lowest mean log-score) are
    * reported — the published perplexity-filtering shape (CCNet,
    * Wenzek et al. 2020) that ranks a corpus by LM fit.
    *
    * Score of a bigram (w1 w2): S = c2(w1w2)/c1(w1) when the bigram is
    * in-model — which since r14 requires the training count c2 ≥ 2
    * (the CCNet-style count floor; VERDICT r13 item 4: singleton
    * training bigrams are Heaps-law type growth, measured exp 1.07 at
    * sf100, and carry no usable probability mass) — else
    * 0.4 · (c1(w2)+1)/(N1+V), the flat 0.4 backoff to an
    * add-1-smoothed unigram (unseen w2 degrades to 0.4/(N1+V), never
    * log 0). Exactness discipline (the sample_dsir contract): ln(S) is
    * quantized to integer micro-units (the same quantized value for
    * every occurrence of a bigram type — ln's inputs are type-level
    * counts), per-doc scores are exact integer sums of k·lw_q, the
    * mean is the sign-symmetric exact integer division (both engines
    * truncate `div`//`//` toward zero), and the top-25 order is the
    * integer total order (mean_q, sum, doc_id). ln must agree across
    * engines only to the 0.5e-6 quantization boundary.
    *
    * Scale shape: two explodes (doc bigrams; en tokens), all model
    * tables are TYPE-level aggregates joined back by equi-join — model
    * side ≤1 row per key, so the joins stay linear under any
    * linguistic skew ("the the" is a hot key with ONE model row); the
    * per-doc sum partial-aggregates map-side; the 1-row (N1, V) totals
    * broadcast-cross; the top-25 is TakeOrdered. No self-joins, no
    * corpus-proportional broadcast, no unpartitioned windows. The r14
    * restructure also removed the per-corpus-bigram-TYPE model
    * materialization (the old `pt` table — ALL-language corpus types,
    * the unbounded one): the model is now the floored EN-bigram-type
    * table only, and out-of-model rows score through the w2-unigram
    * join directly.
    */
  val textPerplexitySb: Q = Q(
    "text_perplexity_sb",
    """WITH tok AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |grams AS (
      |  SELECT doc_id, lang,
      |         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
      |                i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM tok),
      |bd AS (
      |  SELECT doc_id, lang, bg, CAST(count(*) AS BIGINT) AS k
      |  FROM grams GROUP BY 1, 2, 3),
      |entok AS (
      |  SELECT unnest(t) AS w FROM tok WHERE lang = 'en'),
      |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM entok GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n1,
      |               CAST(count(DISTINCT w) AS BIGINT) AS v FROM entok),
      |c2 AS (
      |  SELECT bg, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
      |           i -> t[i] || ' ' || t[i+1])) AS bg
      |    FROM tok WHERE lang = 'en') GROUP BY 1),
      |model AS (
      |  SELECT c2.bg,
      |         CAST(round(ln(CAST(c2.c AS DOUBLE) / u1.c) * 1e6) AS BIGINT) AS lw_q
      |  FROM c2 JOIN c1 u1 ON split_part(c2.bg, ' ', 1) = u1.w
      |  WHERE c2.c >= 2),
      |scored AS (
      |  SELECT bd.doc_id, min(bd.lang) AS lang,
      |         CAST(sum(bd.k) AS BIGINT) AS n_bigrams,
      |         CAST(sum(bd.k * coalesce(m.lw_q,
      |           CAST(round(ln(0.4 * (coalesce(u2.c, 0) + 1)
      |                / greatest(tot.n1 + tot.v, 1)) * 1e6) AS BIGINT))) AS BIGINT)
      |           AS sum_lp_micros
      |  FROM bd
      |  LEFT JOIN model m ON bd.bg = m.bg
      |  LEFT JOIN c1 u2 ON split_part(bd.bg, ' ', 2) = u2.w
      |  CROSS JOIN tot
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT doc_id, lang, n_bigrams, sum_lp_micros,
      |         ((2 * sum_lp_micros
      |           + CASE WHEN sum_lp_micros < 0 THEN -n_bigrams ELSE n_bigrams END)
      |          // (2 * n_bigrams)) AS mean_q
      |  FROM scored)
      |SELECT doc_id, lang, n_bigrams, sum_lp_micros,
      |       mean_q / 1000000.0 AS mean_logprob,
      |       round(exp(-mean_q / 1000000.0), 6) AS ppl
      |FROM ranked
      |ORDER BY mean_q ASC, sum_lp_micros ASC, doc_id ASC
      |LIMIT 25""".stripMargin
  ) { (s, d) => perplexityScored(s, d, hotFloor = None) }

  /** The type-table sides of the scoring joins: per-doc bigram counts
    * `bd`, the floored en model `(bg, c2, lw_q)` (training count KEPT so
    * the fallback can frequency-split it), cached unigram `c1`, and the
    * 1-row totals. c1 feeds THREE consumers (the model's w1 join, the
    * backoff's w2 join, and the (N1, V) totals); cached it is derived
    * from the en corpus once — a vocabulary-TYPE table, corpus-bounded
    * (and rotation-capped ≤806 rows on this corpus family). Neither
    * cache is explicitly unpersisted — the declared row returns an
    * unexecuted frame, so release is the session's storage-eviction /
    * clearCache() discipline (the textNearDupPairs idiom; Bench and
    * TimeQ clear between passes).
    */
  private def pplParts(s: org.apache.spark.sql.SparkSession, d: String) = {
    // Generator-stage parallelism guard (the r15 find: jstack caught
    // ONE task carrying the whole doc-bigram explode's shuffle write,
    // ~3350 s straggler on 32 idle cores at sf100; guarding bought
    // 3.4×). Shared helper — pathology at Tables.spreadExplodeInput.
    val docs = T.spreadExplodeInput(s, T.documents(s, d))
    val tok = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("t"))
    val grams = tok.select(col("doc_id"), col("lang"),
      explode(ngrams("t", 2)).as("bg"))
    val bd = grams.groupBy(col("doc_id"), col("lang"), col("bg"))
      .agg(count(lit(1)).as("k"))
    val enTok = tok.filter(col("lang") === "en")
    val entok = enTok.select(explode(col("t")).as("w"))
    val c1 = entok.groupBy(col("w")).agg(count(lit(1)).as("c")).cache()
    // N1 = Σc, V = |c1|: exactly the en token/vocab totals, without a
    // second explode over the en corpus
    val tot = c1.agg(sum(col("c")).cast("long").as("n1"),
      count(lit(1)).cast("long").as("v"))
    val c2 = enTok.select(explode(ngrams("t", 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    // df ≥ 2 count floor (r14, VERDICT r13 item 4 — the CCNet pruning
    // step): singleton training bigrams, the bulk of Heaps-law type
    // growth (sf100 probe: exp 1.07 without the floor), are dropped
    // from the model and score through the backoff path instead. The
    // model table is the FLOORED en-bigram-TYPE table — scoring joins
    // it per bd row (left), so the per-corpus-bigram-TYPE
    // materialization the old shape carried is gone entirely. Cached:
    // the broadcast-ceiling gate counts it, and the scoring join then
    // reads the materialized types instead of re-deriving them.
    val model = c2.filter(col("c2") >= 2)
      .select(col("bg"), col("c2"),
        expr("element_at(split(bg, ' '), 1)").as("w1"))
      .join(c1.select(col("w").as("w1"), col("c").as("u1")), Seq("w1"))
      .select(col("bg"), col("c2"),
        round(log(col("c2").cast("double") / col("u1")) * 1e6)
          .cast("long").as("lw_q"))
      .cache()
    (bd, model, c1, tot)
  }

  /** Hot/cold split of a LEFT type-table join (the docWordTokensSplit
    * pattern, BpeOps.scala): rows matching the frequency-floored HEAD
    * take the broadcast hash join; the rows that MISSED it (each key
    * there occurs < floor times in training, so the tail is bounded per
    * key) take the ordinary shuffle equi-join against the cold tail —
    * which needs no driver-side materialization at any type count.
    * Left semantics survive: hot and cold partition the type keys, so a
    * key in neither stays an unmatched (NULL-valued) row exactly once.
    */
  private def splitLeftJoin(big: org.apache.spark.sql.DataFrame,
                            types: org.apache.spark.sql.DataFrame,
                            key: String, valCol: String,
                            hot: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    // null-SAFE complement split (ADVICE r15): filter(hot)/filter(!hot)
    // both reject a NULL predicate, which would drop the type row from
    // BOTH head and tail and silently turn its matches into backoff
    // misses. `<=> true` and its negation partition ALL rows — NULL
    // predicates land in the tail — so the helper stays correct for any
    // caller, not just today's non-null count predicates.
    val head = types.filter(hot <=> lit(true)).select(col(key), col(valCol))
    val tail = types.filter(!(hot <=> lit(true))).select(col(key), col(valCol))
    // `tagged` feeds both union arms unpersisted: the exchanges inside
    // it (the corpus shuffle, the head broadcast) are computed once and
    // reused, but post-exchange join+filter work runs twice. At REAL
    // scale (this path only activates past the 4M-type ceiling) persist
    // `tagged` so the corpus scans once — the BpeOps.docWordTokensSplit
    // tradeoff, documented there; at test scale the recompute is
    // cheaper than the cache fill.
    val tagged = big.join(broadcast(head), Seq(key), "left")
    val hit = tagged.filter(col(valCol).isNotNull)
    val miss = tagged.filter(col(valCol).isNull).drop(valCol)
      .join(tail, Seq(key), "left")
    hit.unionByName(miss)
  }

  /** Scoring + ranking, with the model-side join posture decided by a
    * MEASURED type count (ADVICE r14; the cutover was prose-only):
    *
    *  - broadcast (hotFloor = None and the floored model's measured
    *    type count ≤ `spark.graft.perplexity.broadcastTypeCeiling`,
    *    default 4M ≈ 200 MB): c1 and the floored model are en-TYPE
    *    tables (Heaps-sublinear; rotation-capped ≤806 on this corpus
    *    family), so the corpus-proportional bd never shuffles before
    *    the per-doc aggregate. Without the hints Spark's post-aggregate
    *    size estimates pushed both joins to SMJ — two full bd shuffles,
    *    measured 2× the row's sf10 wall time. The gating count is read
    *    off the CACHED model, so the scoring join reuses the
    *    materialized types — the measurement costs no extra pass.
    *  - frequency-floored split (hotFloor = Some(f), or measured types
    *    past the ceiling, floor from
    *    `spark.graft.perplexity.hotFloor`, default 100): Zipf's head
    *    (training count ≥ f) broadcasts and covers almost all bigram
    *    OCCURRENCES; the rare tail shuffle-joins. PerplexityFallbackSpec
    *    pins row-for-row parity in all-hot / split / all-cold floor
    *    regimes.
    */
  def perplexityScored(s: org.apache.spark.sql.SparkSession, d: String,
                       hotFloor: Option[Long]): org.apache.spark.sql.DataFrame = {
    val (bd, model, c1, tot) = pplParts(s, d)
    val ceiling = s.conf.getOption("spark.graft.perplexity.broadcastTypeCeiling")
      .map(_.toLong).getOrElse(4000000L)
    // The measured gate runs a type-count JOB at DataFrame-CONSTRUCTION
    // time for the declared hotFloor=None entry (ADVICE r15) — amortized
    // when the query then executes (the model is cached and the scoring
    // join reads the materialized blocks), but a PLAN-ONLY consumer
    // (graft.PlanAudit, possibly at a big SF) pays it for nothing.
    // `skipTypeMeasure=true` skips the job and routes through the SPLIT
    // path — the conservative shape a past-the-ceiling corpus takes —
    // so audits inspect the scale plan without executing anything.
    val skipMeasure = s.conf.getOption("spark.graft.perplexity.skipTypeMeasure")
      .exists(_.toBoolean)
    val floor = hotFloor.orElse {
      if (skipMeasure || model.count() > ceiling)
        Some(s.conf.getOption("spark.graft.perplexity.hotFloor")
          .map(_.toLong).getOrElse(100L))
      else None
    }
    val modelT = model.select(col("bg"), col("c2"), col("lw_q"))
    val c1w2 = c1.select(col("w").as("w2"), col("c").as("u2"))
    val bdw = bd.withColumn("w2", expr("element_at(split(bg, ' '), 2)"))
    val joined = floor match {
      case None =>
        bdw.join(broadcast(modelT.drop("c2")), Seq("bg"), "left")
          .join(broadcast(c1w2), Seq("w2"), "left")
      case Some(f) =>
        // u2 doubles as the unigram's own training frequency, so the
        // same floor splits both type tables
        val m = splitLeftJoin(bdw, modelT, "bg", "lw_q", col("c2") >= f)
        splitLeftJoin(m, c1w2, "w2", "u2", col("u2") >= f)
    }
    val backoffQ = round(log(lit(0.4) * (coalesce(col("u2"), lit(0L)) + 1)
        / greatest(col("n1") + col("v"), lit(1L))) * 1e6).cast("long")
    val scored = joined
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("k"),
        coalesce(col("lw_q"), backoffQ).as("lwq"))
      .groupBy(col("doc_id"))
      .agg(min(col("lang")).as("lang"),
        sum(col("k")).cast("long").as("n_bigrams"),
        sum(col("k") * col("lwq")).cast("long").as("sum_lp_micros"))
    val ranked = scored.withColumn("mean_q", expr(
      """((2 * sum_lp_micros
          + (CASE WHEN sum_lp_micros < 0 THEN -n_bigrams ELSE n_bigrams END))
         div (2 * n_bigrams))"""))
    ranked
      .orderBy(col("mean_q").asc, col("sum_lp_micros").asc, col("doc_id").asc)
      .limit(25)
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("sum_lp_micros"),
        (col("mean_q") / lit(1000000.0)).as("mean_logprob"),
        round(exp(-col("mean_q") / lit(1000000.0)), 6).as("ppl"))
  }

  val all: Seq[Q] = Seq(textPerplexitySb)
}
