package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}

/** Event-analytics and corpus-packaging operators: the funnel /
  * retention shapes every product-analytics deployment runs on an
  * events stream, plus the packaging steps (sequence packing,
  * LSH-cluster collapse, int8 quantization) that sit between a
  * deduplicated corpus and an actual training run.
  *
  * Determinism: timestamps compared as epoch MICROSECONDS on both
  * engines (events.parquet is TIMESTAMP(NANOS); Spark reads it µs —
  * comparing at ns in DuckDB could order two sub-µs events
  * differently). All counts CAST(... AS BIGINT) in the oracle
  * (DuckDB sum(int) widens to HUGEINT).
  */
object LlmOpsAnalytics {

  /** 3-step strictly-ordered funnel (view → click → purchase): each
    * stage keeps users whose FIRST qualifying event is strictly after
    * their previous-stage timestamp. The shape is chained
    * aggregate-then-equi-join (one shuffle per stage, each on
    * user_id — a co-partitioned chain at scale, never a
    * per-user subquery or a self-join explosion).
    */
  val funnelSteps: Q = Q(
    "funnel_steps",
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      |  GROUP BY e.user_id)
      |SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      |UNION ALL
      |SELECT 'view>click', CAST(count(*) AS BIGINT) FROM c
      |UNION ALL
      |SELECT 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
      |ORDER BY stage""".stripMargin
  ) { (s, d) =>
    val ev = T.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("tus") > col("t1"))
      .groupBy("user_id").agg(min(col("tus")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("tus") > col("t2"))
      .groupBy("user_id").agg(min(col("tus")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(v, "view")
      .unionByName(stage(c, "view>click"))
      .unionByName(stage(p, "view>click>purchase"))
      .orderBy(col("stage"))
  }

  /** Time-bounded funnel — funnel_steps with conversion windows, the
    * shape real product analytics runs: the click must land within
    * 30 min of the user's first view, the purchase within 1 h of that
    * click. Same aggregate-then-join chain (co-partitioned on user_id,
    * never a window over the event stream); each stage also reports
    * the mean conversion delay, one exact-int division per stage.
    */
  val funnelTimebound: Q = Q(
    "funnel_timebound",
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2, min(v.t1) AS t1
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      |    AND epoch_us(e.ts) <= v.t1 + 1800000000
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3, min(c.t2) AS t2
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      |    AND epoch_us(e.ts) <= c.t2 + 3600000000
      |  GROUP BY e.user_id)
      |SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(0.0 AS DOUBLE) AS avg_delay_sec FROM v
      |UNION ALL
      |SELECT 'view>click30m', CAST(count(*) AS BIGINT),
      |       round(CAST(sum(t2 - t1) AS DOUBLE) / count(*) / 1000000.0, 6) FROM c
      |UNION ALL
      |SELECT 'view>click30m>buy1h', CAST(count(*) AS BIGINT),
      |       round(CAST(sum(t3 - t2) AS DOUBLE) / count(*) / 1000000.0, 6) FROM p
      |ORDER BY stage""".stripMargin
  ) { (s, d) =>
    val ev = T.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("tus") > col("t1") && col("tus") <= col("t1") + 1800000000L)
      .groupBy("user_id").agg(min(col("tus")).as("t2"), min(col("t1")).as("t1"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id"), col("t2")), "user_id")
      .filter(col("tus") > col("t2") && col("tus") <= col("t2") + 3600000000L)
      .groupBy("user_id").agg(min(col("tus")).as("t3"), min(col("t2")).as("t2"))
    def stage(df: DataFrame, name: String, delay: Column): DataFrame =
      df.agg(count(lit(1)).as("n_users"), delay.as("avg_delay_sec"))
        .select(lit(name).as("stage"), col("n_users"), col("avg_delay_sec"))
    stage(v, "view", lit(0.0))
      .unionByName(stage(c, "view>click30m",
        round(sum(col("t2") - col("t1")).cast("double") / count(lit(1)) / 1000000.0, 6)))
      .unionByName(stage(p, "view>click30m>buy1h",
        round(sum(col("t3") - col("t2")).cast("double") / count(lit(1)) / 1000000.0, 6)))
      .orderBy(col("stage"))
  }

  /** Weekly cohort retention: cohort = epoch-aligned week of the
    * user's first event; a (cohort, offset) cell counts users with any
    * activity that week. Two hash aggregations and one equi-join on
    * user_id — every stage partial-aggregates map-side.
    */
  val cohortRetention: Q = Q(
    "cohort_retention",
    """WITH first AS (
      |  SELECT user_id, min(epoch_us(ts) // 604800000000) AS w0
      |  FROM events GROUP BY user_id),
      |act AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
      |  FROM events)
      |SELECT first.w0 AS cohort_week, act.w - first.w0 AS week_offset,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM act JOIN first ON act.user_id = first.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin
  ) { (s, d) =>
    val wk = expr("unix_micros(ts) div 604800000000")
    val ev = T.events(s, d).select(col("user_id"), wk.as("w"))
    val first = ev.groupBy("user_id").agg(min(col("w")).as("w0"))
    val act = ev.distinct()
    act.join(first, "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Sequence packing: assign documents to fixed token-budget (256)
    * training bins — concat-and-chunk greedy packing in doc_id order
    * within `nBuckets` hash buckets. The per-bucket running token sum
    * is the only sequential step; buckets pack in parallel, which is
    * exactly how a 100 TB corpus packs on 1000 executors: bucket count
    * is the parallelism ceiling, so size it to the cluster (the
    * declared row pins 32 to match the oracle; a real deployment
    * passes ≈ 2–3× total executor cores). Order within a bucket stays
    * deterministic regardless of the count.
    */
  def packSequencesDf(s: org.apache.spark.sql.SparkSession, d: String,
                      nBuckets: Int = 32, tokenBudget: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = T.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % nBuckets).as("bucket"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    toks
      .withColumn("cs", sum(col("n_tok")).over(w))
      .groupBy(col("bucket").as("pack_bucket"),
        expr(s"(cs - n_tok) div $tokenBudget").as("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .orderBy(col("pack_bucket"), col("bin_id"))
  }

  val packSequences: Q = Q(
    "pack_sequences",
    """WITH toks AS (
      |  SELECT doc_id, doc_id % 32 AS bucket,
      |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |cum AS (
      |  SELECT bucket, n_tok,
      |         sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id) AS cs
      |  FROM toks)
      |SELECT bucket AS pack_bucket, CAST((cs - n_tok) // 256 AS BIGINT) AS bin_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |FROM cum GROUP BY 1, 2
      |ORDER BY pack_bucket, bin_id""".stripMargin
  ) { (s, d) => packSequencesDf(s, d) }

  /** LSH-cluster collapse: near-dup PAIR generation is only half of
    * dedup — this is the other half, grouping docs into TRUE connected
    * components and electing a canonical representative. Bands are two
    * 1-permutation minhashes of the 3-shingle set (min / max of the
    * md5-derived 60-bit shingle codes); docs link to their band's
    * minimum doc (star edges), and [[graft.operators.GraphOps]] runs
    * local contraction over that edge list — one shuffle per round,
    * exact fixpoint (Łącki, Mirrokni, Włodarczyk, "Connected Components
    * at Scale via Local Contractions", 2018; after the star contraction
    * of Kiveris et al., SoCC 2014) — to the exact component minima in a
    * round count independent of component diameter: the r5 min-label
    * fixpoint was provably correct but needed O(component diameter)
    * rounds, which chain-shaped template-spam components turn into
    * hundreds of full passes at 100 TB (VERDICT r5 item 2).
    * The oracle reaches the same components via a DuckDB recursive CTE
    * over the same star edges. Shingle-less short docs get a unique
    * negative band key — singleton clusters, never an all-NULL merge.
    */
  val dedupCluster: Q = Q(
    "dedup_cluster",
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |         CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS s
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(
      |             generate_series(1, greatest(len(t) - 2, 0)),
      |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |    FROM tk
      |  )
      |), bands AS (
      |  SELECT doc_id, min(s) AS mb1, max(s) AS mb2 FROM sh GROUP BY doc_id
      |), base AS (
      |  SELECT d.doc_id, coalesce(b.mb1, -d.doc_id - 1) AS b1,
      |         coalesce(b.mb2, -d.doc_id - 1) AS b2
      |  FROM documents d LEFT JOIN bands b ON d.doc_id = b.doc_id
      |), db AS (
      |  SELECT doc_id, b1 AS b FROM base UNION SELECT doc_id, b2 AS b FROM base
      |), rep AS (
      |  SELECT b, min(doc_id) AS r FROM db GROUP BY b
      |), edges AS (
      |  SELECT db.doc_id AS a, rep.r AS c FROM db JOIN rep ON db.b = rep.b
      |  UNION
      |  SELECT rep.r AS a, db.doc_id AS c FROM db JOIN rep ON db.b = rep.b
      |), reach AS (
      |  SELECT doc_id AS d, doc_id AS x FROM base
      |  UNION
      |  SELECT reach.d, e.c AS x FROM reach JOIN edges e ON e.a = reach.x
      |), lab AS (
      |  SELECT d AS doc_id, min(x) AS l FROM reach GROUP BY d
      |)
      |SELECT l AS cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
      |       min(doc_id) AS canonical_doc
      |FROM lab GROUP BY l
      |ORDER BY cluster_id""".stripMargin
  ) { (s, d) =>
    val cc = graft.operators.GraphOps.starContract(dedupClusterEdges(s, d))
    // final labeling joins against the bare doc_id scan, NOT the band
    // table: that has exactly one row per doc (groupBy doc_id over the
    // outer-explode covers every document), so the row set is
    // identical, and the final plan keeps no Generate — the explodes
    // run only in starContract's first round (also what the SpreadGuard
    // whole-surface gate sees; the r16 shape regressed this before the
    // fix)
    T.documents(s, d).select(col("doc_id"))
      .join(cc.labels, col("doc_id") === col("node"), "left_outer")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("l"))
      .groupBy(col("l").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))
      .orderBy(col("cluster_id"))
  }

  /** dedup_cluster's band graph as star edges (a = member doc, b = the
    * band's minimum doc, a ≠ b): |edges| = Σ band sizes, never the
    * quadratic within-band closure.
    */
  def dedupClusterEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // r16 (guide §2.4, remove shuffles outright): the two band keys are
    // just min/max of the per-doc shingle codes — invariant to shingle
    // DUPLICATES — so the old `.distinct()` (a full exchange of every
    // (doc_id, code) shingle row, the largest intermediate in the
    // query) bought nothing, and the separate documents ⋈ bands
    // left-join existed only to resurrect shingle-less docs.
    // explode_outer keeps those docs as a single NULL-shingle row
    // instead (md5(NULL) → NULL code, min/max skip NULLs → NULL → the
    // same -doc_id-1 sentinel the join's NULL produced), so the whole
    // band derivation is now explode + ONE map-side-combinable min/max
    // aggregation: 3 corpus-sized exchanges + a join → 1 exchange
    // carrying one row per (doc, partition). md5/conv stay OUTSIDE the
    // lambda (codegen — an in-lambda variant was measured 2× slower,
    // interpreted). Results identical (oracle re-pass; the oracle keeps
    // its DISTINCT form, which min/max make semantically irrelevant).
    // (Guard parity: like the shape it replaces, this explode runs
    // unguarded — adding spreadExplodeInput here was measured to cost
    // ~25% at sf0.1 because it shuffles the text payload; the map-side
    // min/max combine keeps the post-explode shuffle at ≤1 row per
    // doc per partition either way.)
    val base = T.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"),
        explode_outer(expr(
          """transform(slice(sequence(1, greatest(size(t) - 2, 1)), 1, greatest(size(t) - 2, 0)),
             i -> concat_ws(' ', element_at(t, i), element_at(t, i+1), element_at(t, i+2)))"""
        )).as("sStr"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(sStr), 1, 15), 16, 10) AS BIGINT)").as("s"))
      .groupBy(col("doc_id"))
      .agg(min(col("s")).as("mb1"), max(col("s")).as("mb2"))
      .select(col("doc_id"),
        coalesce(col("mb1"), -col("doc_id") - 1).as("b1"),
        coalesce(col("mb2"), -col("doc_id") - 1).as("b2"))
    // one band table, one explode of its (distinct) two keys, and the
    // band representative as a window min over those rows: a union of
    // a b1 branch and a b2 branch re-runs the shingle explode per
    // branch (ColumnPruning gives them different aggregates, so their
    // exchanges are not reused), and a rep aggregate joined back reads
    // both branches a second time
    base.select(col("doc_id"), explode(array_distinct(array(col("b1"), col("b2")))).as("b"))
      .select(col("doc_id").as("a"), min(col("doc_id")).over(Window.partitionBy(col("b"))).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Symmetric int8 quantization of the embedding column — the
    * serving/training compression step. Per vector: scale =
    * max|x|/127, q_i = round(x_i/scale); emitted as audit stats
    * (scale, Σq, saturation count) rather than the raw int8 array
    * (top-level arrays are driver-unstable). Map-only — the 100 TB
    * cost is one pass, no shuffle. Float→double widening is exact and
    * round-half-away agrees between engines; data has no zero vectors
    * but nullif guards the division anyway.
    */
  val embeddingQuantize: Q = Q(
    "embedding_quantize",
    """WITH m AS (
      |  SELECT vec_id,
      |         CAST(list_aggregate(list_transform(embedding,
      |                x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE) AS max_abs,
      |         embedding
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, max_abs,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 127.0
      |                           / nullif(max_abs, 0.0)) AS BIGINT)) AS qa
      |  FROM m)
      |SELECT vec_id, max_abs / 127.0 AS scale,
      |       CAST(list_sum(qa) AS BIGINT) AS q_sum,
      |       CAST(len(list_filter(qa, v -> abs(v) = 127)) AS BIGINT) AS n_saturated
      |FROM q
      |ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    T.embeddings(s, d)
      .withColumn("max_abs",
        expr("CAST(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)"))
      .withColumn("qa",
        expr("""transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 127.0
                                / nullif(max_abs, CAST(0.0 AS DOUBLE))) AS BIGINT))"""))
      .select(col("vec_id"), (col("max_abs") / lit(127.0)).as("scale"),
        expr("CAST(aggregate(qa, 0L, (a, b) -> a + b) AS BIGINT)").as("q_sum"),
        expr("CAST(size(filter(qa, v -> abs(v) = 127)) AS BIGINT)").as("n_saturated"))
      .orderBy(col("vec_id"))
  }

  /** Corpus-frequency document scoring — the unigram-LM proxy for
    * "how surprising is this document": score = mean corpus frequency
    * of the doc's tokens (low mean ⇒ rare vocabulary ⇒ candidate for
    * quality review or upsampling). Kept log-free on purpose: the
    * score is a ratio of two exact integers (sum of BIGINT token
    * counts / token count), and integer→double + one division are
    * IEEE-exact cross-engine, where ln/log2 are libm-dependent.
    * Scale: token→frequency is an equi-join on the token — the join
    * key matches the upstream groupBy(t) partitioning, so the shuffle
    * join co-partitions with the frequency aggregate, and AQE is left
    * to pick broadcast only when the measured vocabulary is small
    * (Heaps' law: vocabulary grows with the corpus, so a FORCED
    * broadcast would OOM at 100 TB). The global top-25 is
    * TakeOrderedAndProject (per-partition top-k, no global sort); the
    * rank window runs on 25 rows.
    */
  val textRarity: Q = Q(
    "text_rarity",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
      |), freq AS (
      |  SELECT t, count(*) AS cnt FROM tok GROUP BY t
      |), scored AS (
      |  SELECT tok.doc_id, count(*) AS n_tokens,
      |         CAST(CAST(sum(freq.cnt) AS BIGINT) AS DOUBLE) / count(*) AS mean_freq
      |  FROM tok JOIN freq ON tok.t = freq.t
      |  GROUP BY tok.doc_id
      |), top AS (
      |  SELECT doc_id, n_tokens, mean_freq,
      |         row_number() OVER (ORDER BY mean_freq ASC, doc_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT doc_id, n_tokens, round(mean_freq, 6) AS mean_freq, rank
      |FROM top WHERE rank <= 25
      |ORDER BY rank NULLS FIRST""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val scored = tok.join(freq, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("cnt")).cast("double") / count(lit(1))).as("mean_freq"))
    val wRank = Window.orderBy(col("mean_freq").asc, col("doc_id").asc)
    scored.orderBy(col("mean_freq").asc, col("doc_id").asc).limit(25)
      .withColumn("rank", row_number().over(wRank))
      .select(col("doc_id"), col("n_tokens"),
        round(col("mean_freq"), 6).as("mean_freq"), col("rank"))
      .orderBy(col("rank").asc_nulls_first)
  }

  /** Last-touch attribution — the funnel family's revenue sibling:
    * each purchase is attributed to the same user's most recent
    * click/view in the preceding 24 h (ties at the same microsecond
    * break by touch_type ASC for a total order); purchases with no
    * qualifying touch land in the 'direct' bucket. Scale shape: the
    * candidate join is EQUI on user_id with a bounded time-range
    * predicate — fan-out per purchase is that user's touches in one
    * day, never the corpus — and the best-touch pick is a per-purchase
    * row_number, partial-aggregable downstream. Revenue sums are
    * decimal (exact, order-independent), one cast + round at the edge.
    */
  /** Last-touch attribution with a 24 h lookback — re-expressed as a
    * backward AS-OF over the UNIONED event stream (round 11). The
    * original purchase⋈touch equi-join on user_id emits
    * |purchases_u| × |touches_u| rows per user — quadratic in any hot
    * user, measured 1.16 s → 197 s (170×) on the 30 %-heavy-hitter
    * skew corpus (BASELINE §r11-skew). The as-of shape is one shuffle
    * on user_id + a per-user sort: each row carries the running MAX of
    * an integer-packed (t_us << 1 | is_click) over preceding touches,
    * so the latest-touch (and the 'click' < 'view' tie-break at equal
    * t_us — click packs to the higher bit) falls out of a single
    * window pass with ZERO pair enumeration; purchases whose last
    * touch is older than the 24 h window (or who have none, or a null
    * ts) attribute to 'direct' — bit-identical semantics to the join
    * (if the LATEST touch is out of window, every touch is). Skewed
    * cost: the hot user is one 300 k-row sort partition — milliseconds,
    * not 10¹⁰ probed pairs.
    */
  val eventAttribution: Q = Q(
    "event_attribution",
    """WITH uni AS (
      |  SELECT user_id AS u, epoch_us(ts) AS us, 0 AS kind,
      |         CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS DOUBLE) AS value,
      |         event_type AS touch_type
      |  FROM events WHERE event_type IN ('click', 'view')
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 1, event_id, value, NULL
      |  FROM events WHERE event_type = 'purchase'
      |), run AS (
      |  SELECT kind, us, p_id, value,
      |         max(CASE WHEN kind = 0 AND us IS NOT NULL THEN
      |               (us << 1) | (CASE WHEN touch_type = 'click' THEN 1 ELSE 0 END)
      |             END) OVER (PARTITION BY u ORDER BY us ASC NULLS FIRST, kind ASC
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tlast
      |  FROM uni
      |), best AS (
      |  SELECT p_id, value,
      |         CASE WHEN us IS NULL OR tlast IS NULL
      |                   OR (tlast >> 1) < us - 86400000000 THEN NULL
      |              WHEN (tlast & 1) = 1 THEN 'click' ELSE 'view' END AS touch_type
      |  FROM run WHERE kind = 1
      |)
      |SELECT coalesce(touch_type, 'direct') AS touch_type,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
      |         AS revenue
      |FROM best
      |GROUP BY 1
      |ORDER BY touch_type NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val ev = T.events(s, d)
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("u"), unix_micros(col("ts")).as("us"),
        lit(0).as("kind"), lit(null).cast("long").as("p_id"),
        lit(null).cast("double").as("value"), col("event_type").as("touch_type"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), unix_micros(col("ts")).as("us"),
        lit(1).as("kind"), col("event_id").as("p_id"), col("value"),
        lit(null).cast("string").as("touch_type"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("us").asc_nulls_first, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tkey = shiftleft(col("us"), 1)
      .bitwiseOR(when(col("touch_type") === "click", 1L).otherwise(0L))
    val run = touch.unionByName(purch)
      .withColumn("tlast",
        max(when(col("kind") === 0 && col("us").isNotNull, tkey)).over(w))
      .filter(col("kind") === 1)
    val attributed = when(
      col("us").isNull || col("tlast").isNull ||
        shiftright(col("tlast"), 1) < col("us") - 86400000000L, lit(null))
      .otherwise(when(col("tlast").bitwiseAND(1) === 1, "click").otherwise("view"))
    run
      .groupBy(coalesce(attributed, lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(T.dec4(col("value"))).cast("double"), 6).as("revenue"))
      .orderBy(col("touch_type").asc_nulls_first)
  }

  /** Cohort LTV curves: users cohorted by first-seen DAY, purchase
    * revenue accumulated per cohort over age-in-days — the cumulative
    * companion to cohort_retention's presence counts. The running total
    * is a decimal window sum over the (cohort × age) AGGREGATE (≤ days²
    * rows), partitioned by cohort — exact and parallel; the raw stream
    * is only touched by the one first-seen aggregate and one equi-join
    * co-partitioned on user_id.
    */
  val cohortLtv: Q = Q(
    "cohort_ltv",
    """WITH firstday AS (
      |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events GROUP BY 1),
      |rev AS (
      |  SELECT e.user_id, f.cohort,
      |         CAST(date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS BIGINT) AS age_days,
      |         CAST(e.value AS DECIMAL(18,2)) AS v
      |  FROM events e JOIN firstday f ON e.user_id = f.user_id
      |  WHERE e.event_type = 'purchase'),
      |d AS (
      |  SELECT cohort, age_days, sum(v) AS day_rev,
      |         count(DISTINCT user_id) AS active_users
      |  FROM rev GROUP BY 1, 2)
      |SELECT cohort, age_days,
      |       CAST(sum(day_rev) OVER (PARTITION BY cohort ORDER BY age_days
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue,
      |       active_users
      |FROM d ORDER BY cohort NULLS FIRST, age_days NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val ev = T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val firstday = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(firstday, "user_id")
      .select(col("user_id"), col("cohort"),
        datediff(to_date(col("ts")), col("cohort")).cast("long").as("age_days"),
        T.dec2(col("value")).as("v"))
    val byAge = rev.groupBy(col("cohort"), col("age_days"))
      .agg(sum(col("v")).as("day_rev"),
        countDistinct(col("user_id")).as("active_users"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.select(col("cohort"), col("age_days"),
      sum(col("day_rev")).over(w).cast("double").as("cum_revenue"),
      col("active_users"))
      .orderBy(col("cohort").asc_nulls_first, col("age_days").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(funnelSteps, funnelTimebound, cohortRetention,
    packSequences, dedupCluster, embeddingQuantize, textRarity,
    eventAttribution, cohortLtv)
}
