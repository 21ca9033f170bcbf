package graft

/** Automated plan-quality gate over EVERY declared query at sf0.001:
  * no accidental cartesian products, and every parquet scan prunes
  * columns (never reads a full 10+-column schema it doesn't need).
  * Catches scale regressions that correctness checks can't see.
  */
class PlanQualitySpec extends SparkSpec {

  // Queries whose SEMANTICS include cross/BNLJ joins, with the EXACT
  // node count each plan is allowed (ADVICE r10: a blanket name
  // exemption would let a future regression of one of the query's
  // EQUI-joins to a cartesian pass silently; pinning the count catches
  // any drift in either direction). Counts are sparkPlan node counts at
  // sf0.001 — `tools/run.sh graft.PlanAudit /root/testdata/sf0.001
  // cross` regenerates the table after an intentional plan change.
  private val intendedCross = Map(
    "join_cross_small"    -> 1, // literal CROSS JOIN row
    "sim_cosine_topk"     -> 1, // bounded all-pairs compare
    "sim_threshold_join"  -> 1, // bounded all-pairs compare
    "dedup_simhash"       -> 1, // fingerprint all-pairs histogram
    // the ann_ivf_* / dedup_semdedup* centroid assignment (argmaxAssign)
    // crosses nothing: each vector folds over the centroid set collected
    // by a scalar subquery, whose plan (with its 1-row k cross) this
    // count does not see; ann_ivf_topk and dedup_semdedup dropped out
    "ann_ivf_nprobe"      -> 2, // 1-row k cross + the 3-row probe × √n centroids cross
    "ann_ivf_kmeans"      -> 1, // the 3-row probe × Lloyd-refined centroids cross
    "ann_ivf_pq"          -> 10, // the k, probe and 4×16-row PQ codebook crosses outside the assignment (IVFPQ)
    "ann_ivf_pq_rerank"   -> 10, // same IVFPQ pipeline feeding the exact re-rank
    "text_tfidf"          -> 1, // N-docs scalar joined as 1-row cross
    "dedup_fuzzy_levenshtein" -> 1, // bounded (≤60-key) all-pairs edit distance
    "ts_gapfill_locf"     -> 1, // 1-row bounds aggregate crossed into the grid generator
    "ts_resample_interp"  -> 1, // same 1-row bounds cross as ts_gapfill_locf's grid
    "scd2_asof_lookup"    -> 1, // 1-row bounds aggregate crossed into the probe generator
    "zorder_layout"       -> 1, // 1-row min/max bounds crossed in for rank normalization
    "dq_drift_psi"        -> 3, // 1-row time/value bounds crossed in for bucketing
    "dq_freshness"        -> 1, // 1-row global-max aggregate crossed into the per-series frame (r6, replaced the unpartitioned window)
    "tpch_q11"            -> 1, // 1-row global-total threshold crossed into the grouped frame
    "tpch_q22"            -> 1, // 1-row avg-balance scalar crossed into the customer subset
    "text_bigram_logprob" -> 1, // 1-row corpus-total aggregate crossed into the model join
    "rfm_segment"         -> 3, // 1-row anchor + quintile-cutpoint aggregates crossed in
    "benford_digits"      -> 1, // 1-row corpus-total aggregate crossed into the digit counts
    "text_bm25"           -> 1, // 1-row corpus (N, Σdl) aggregate crossed into the tf/df join
    "survival_km"         -> 1, // 1-row max-date aggregate crossed into the subject table
    "mutual_info"         -> 1, // 1-row corpus-total aggregate crossed into the cell table
    "assoc_rules"         -> 1, // 1-row basket-total aggregate crossed into the pair supports
    "stats_chi2"          -> 3, // 1-row total + dims aggregates crossed into the ≤25-cell table
    "graph_triangles"     -> 11, // 1-row (np, tw) threshold crosses through the |nations|²-bounded edge derivation
    "stats_ks"            -> 1, // 1-row (n0, n1) totals crossed into the distinct-cents ECDF
    "stats_bootstrap"     -> 3, // 40-row replicate table + 1-row (n, Σ) aggregates crossed into the draws
    "ts_acf"              -> 1, // 6-row lag table crossed into the calendar-bounded hourly aggregate
    "text_collocations"   -> 2, // 1-row corpus-total aggregates crossed into the PMI join
    "embedding_cov"       -> 2, // 15-row (i,j) dimension-pair table + 1-row totals crossed into the quantized corpus
    "graph_node_jaccard"  -> 9, // 1-row (np, tw) threshold crosses in the edge derivation (graph_triangles' shape)
    "ts_theil_sen"        -> 2, // pairwise non-equi self-join over the CALENDAR-BOUNDED daily aggregate + 1-row n_days cross
    "ts_downsample_lttb"  -> 3, // 1-row min-epoch aggregate crosses into the hour rebase
    "b10_hll_merge"       -> 1, // 1-row direct-sketch aggregate crossed against the merged sketch
    "stats_levene_bf"     -> 1, // 1-row global-F aggregate crossed into the 5-row per-group profile
    "stats_jensen_shannon" -> 1, // 1-row (n0, n1) totals crossed into the ≤5-row priority cells
    "ts_changepoint_mean" -> 1, // 1-row (n, Σ, Σ²) totals crossed into the CALENDAR-BOUNDED daily cumulative
    "graph_assortativity" -> 6, // 1-row (np, tw) threshold crosses in the edge derivation (graph_triangles' shape)
    "stats_cond_entropy"  -> 3, // 1-row corpus-total aggregates crossed into the ≤25-cell entropy terms
    "text_burstiness"     -> 1, // 1-row doc-count aggregate crossed into the 20-row top-word table
    "dq_referential"      -> 5, // 1-row orphan-count aggregate crossed into each FK edge's 1-row child count
    "mixture_temperature" -> 3, // 1-row total + normalizer aggregates crossed into the |langs|-row share table
    "ts_spectral_peak"    -> 5, // 4-row period table + 1-row totals crossed into the CALENDAR-BOUNDED hourly aggregate
    "ts_heatmap_hour_dow" -> 1, // 1-row total crossed into the 7×24-bounded cell table
    "ts_max_deficit"      -> 1, // 1-row (n, Σ) totals crossed into the CALENDAR-BOUNDED daily cumulative
    "eval_langid_kappa"   -> 1, // 1-row chance-agreement aggregate crossed into the 1-row (n, diag) totals
    "graph_reciprocity"   -> 4, // 1-row threshold + counts crossed around the |nations|²-bounded edge list
    "stats_kendall_tau"   -> 2, // pairwise non-equi self-join + 1-row n cross (ts_theil_sen's shape)
    "stats_qq"            -> 1, // two 1-row decile-grid aggregates crossed (1×1)
    "ts_ccf"              -> 1, // 7-row lag table crossed into the calendar-bounded hourly aggregates (ts_acf's shape)
    "ts_seasonal_anomaly" -> 7, // 1-row bounds/median/MAD aggregates crossed into the CALENDAR-BOUNDED hour spine
    "data_split_grouped"  -> 1, // 1-row leakage-audit aggregate crossed into the |splits|-row report
    "eval_ndcg_rankshift" -> 1, // 1-row IDCG constant crossed into the 1-row DCG aggregate
    "ts_peak_composition" -> 1, // 1-row corpus-total aggregate crossed into the 5·|types|-row peak table
    "dedup_semdedup_capped" -> 3, // the k crosses behind the ≤256-row centroid re-attach for ccos ranking; the pair join is an equi-join on (cent_id, bkt), and dedup_semdedup's within-cluster pair join an EQUI-join on cent_id
    "quality_gopher_rules" -> 1, // 1-row top-8 stopword list crossed into the per-doc rule projection
    "text_perplexity_sb"  -> 1, // 1-row (N1, V) en-slice totals crossed into the bigram-type model
    "rank_fusion_rrf"     -> 2) // 1-row BM25 corpus aggregate + 1-row query-vector crosses (text_bm25 / sim shape)
    // join_null_safe needs no excuse: EqualNullSafe is a hash-joinable key (BroadcastHashJoin verified)
    // dedup_embedding was allowlisted through r2 (all-pairs BNLJ); it is
    // now banded sign-LSH with an equi-join — no cross join to excuse
    // text_langid / subquery_scalar / graph_shortest_path /
    // graph_closeness / b33_graph_mst / stats_mann_whitney /
    // embedding_pca_top were allowlisted in earlier rounds; their plans
    // now carry ZERO cross nodes at sf0.001 (scalar attaches fold into
    // broadcast hash joins) — dropped from the map so a cross
    // REAPPEARING there fails the gate

  test("cross/BNLJ node counts match the per-query intended counts exactly") {
    val crossRe = "CartesianProduct|BroadcastNestedLoopJoin".r
    val offenders = SparkEntry.declared.flatMap { q =>
      val plan =
        try q.fn(spark, sf()).queryExecution.sparkPlan.toString()
        catch { case e: Throwable => s"PLAN-FAILED ${e.getMessage}" }
      val got = crossRe.findAllIn(plan).size
      val want = intendedCross.getOrElse(q.name, 0)
      if (got != want) Some(s"${q.name}: $got cross/BNLJ nodes (expected $want)")
      else None
    }
    assert(offenders.isEmpty,
      s"cross-join count drift (regenerate via PlanAudit cross if intentional):\n  ${offenders.mkString("\n  ")}")
  }

  // Unpartitioned WindowExec nodes move ALL input rows to ONE partition
  // — allowed only over inputs that are cardinality-bounded BY
  // CONSTRUCTION, with the bound named here (VERDICT r11 item 2: the
  // scaladoc convention becomes a count-pinned gate, same design as the
  // cross gate above). Counts are sparkPlan nodes at sf0.001;
  // `tools/run.sh graft.PlanAudit /root/testdata/sf0.001 window`
  // regenerates the table after an intentional plan change.
  private val intendedUnpartitionedWindows = Map(
    "eval_ndcg_rankshift" -> 2, // row_number over TakeOrdered(10) frames (r12 rewrite; was |suppliers|)
    "mixture_weights"     -> 1, // totals over the |langs|-row share table
    "sample_dsir"         -> 1, // model totals over the ≤1024-row hashed-bucket table
    "stats_bh_fdr"        -> 3, // rank + step-up max + complement totals over the CARDINALITY-5 segment table (IN-list bound)
    "stats_bootstrap"     -> 1, // binned-cumulative prefix over the value-DOMAIN bin table (≤ val_range/1e6 rows); r17: the numbered-sample frame is cached, so the window EXECUTES once and PlanWalk counts it once (was 2 — the same subtree appeared under two consumers)
    "stats_ks"            -> 1, // binned-cumulative prefix over the cents-domain bin table
    "stats_mann_whitney"  -> 1, // binned-cumulative prefix over the cents-domain bin table
    "stats_permutation_test" -> 1, // observed-row attach over the 65-ROW replicate aggregate (constant R)
    "rank_fusion_rrf"     -> 2, // row_number over the two TakeOrdered(100) retriever shortlists (eval_ndcg_rankshift device)
    "stats_runs_test"     -> 2, // lag over the CALENDAR-BOUNDED daily aggregate (≤ |days|)
    "stats_spearman"      -> 2, // binned-cumulative prefix over the two cents-domain bin tables (qv ≤ 1, pv ≤ ~11 bins)
    "stats_wilcoxon"      -> 1, // rank prefix over distinct |daily diff| values (≤ |days|)
    "survival_km"         -> 2, // at-risk + KM product over the day-granular duration table (≤ |days|)
    "text_rarity"         -> 1, // rank over the TakeOrdered(25) frame
    "ts_backlog"          -> 1, // cumulative over the CALENDAR-BOUNDED daily aggregate
    "ts_burst_detect"     -> 1, // row_number over the CALENDAR-BOUNDED hourly aggregate
    "ts_changepoint_mean" -> 1, // cumulative over the CALENDAR-BOUNDED daily aggregate
    "ts_max_deficit"      -> 2, // cumulative + row_number over the CALENDAR-BOUNDED daily aggregate
    "ts_rolling_corr"     -> 1) // rolling corr over the per-MINUTE aggregate (≤ corpus minutes — 43.2k for the 30-day fixture, ~526k/year; r13: the old "month-granular" prose here was wrong, caught by the measured-bounds gate below)

  // The boundedness claims above, as NUMBERS (VERDICT r12 item 1b): the
  // maximum rows allowed to enter any single unpartitioned window of
  // the query — measured by EXECUTING each window's child subtree
  // (PlanWalk.unpartitionedWindowInputRows), asserted at sf0.01 always
  // and at sf1 when the synthesized corpus is present. sf1 measurements
  // 2026-08-15 (BASELINE §r13): eval_ndcg_rankshift 10|10,
  // mixture_weights 5, sample_dsir 1024 (the cap, exactly), stats_bh_fdr
  // 5|5|5, stats_bootstrap 92, stats_ks 50, stats_mann_whitney 50,
  // stats_runs_test 29|30, stats_spearman 1|11, stats_wilcoxon 20,
  // survival_km 1113|1116, text_rarity 25, ts_backlog 2500,
  // ts_burst_detect 0, ts_changepoint_mean 30, ts_max_deficit 30|30,
  // ts_rolling_corr 5953 (minutes with both series populated, of 43.2k
  // fixture minutes).
  private val windowInputBounds = Map(
    "eval_ndcg_rankshift" -> 10L,    // TakeOrdered(10) feeds both rankings — exact
    "mixture_weights"     -> 16L,    // |langs|
    "sample_dsir"         -> 1024L,  // the hashed-bucket model cap — exact
    "stats_bh_fdr"        -> 5L,     // the IN-list segment table — exact
    "stats_bootstrap"     -> 400L,   // value-domain bins (val_range/1e6)
    "stats_ks"            -> 200L,   // cents-domain bins
    "stats_mann_whitney"  -> 200L,   // cents-domain bins
    "stats_permutation_test" -> 65L, // the replicate table: R+1 rows — exact
    "rank_fusion_rrf"     -> 100L,   // TakeOrdered(100) feeds both rank windows — exact
    "stats_runs_test"     -> 60L,    // calendar days of the fixture month
    "stats_spearman"      -> 50L,    // two cents-domain bin tables
    "stats_wilcoxon"      -> 60L,    // distinct |daily diff| values ≤ |days|
    "survival_km"         -> 3000L,  // day-granular durations ≤ |order days|
    "text_rarity"         -> 25L,    // TakeOrdered(25) — exact
    "ts_backlog"          -> 3000L,  // calendar days of the order-date span
    "ts_burst_detect"     -> 8L,     // burst-qualified hours of the fixture month
    "ts_changepoint_mean" -> 60L,    // calendar days of the fixture month
    "ts_max_deficit"      -> 60L,    // calendar days of the fixture month
    "ts_rolling_corr"     -> 44640L) // corpus minutes (31 d × 1440; ~526k/year at any SF)

  test("every allowlisted unpartitioned window's input is MEASURED under its claimed bound") {
    assert(windowInputBounds.keySet == intendedUnpartitionedWindows.keySet,
      "bound map and allowlist diverged")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep WindowExec visible in executedPlan
    try {
      val sf1 = "/tmp/graft_sf1"
      val sf1Present = new java.io.File(s"$sf1/events.parquet").exists
      val dirs = Seq(sf("sf0.01")) ++ (if (sf1Present) Seq(sf1) else Nil)
      // LOUD scale report (VERDICT r13 item 3): a fresh box without the
      // synthesized sf1 corpus must say so, not silently halve the gate
      info(s"asserting window bounds at: ${dirs.mkString(", ")}")
      if (!sf1Present)
        info(s"sf1 ABSENT — $sf1 not found; synthesize with " +
          "`tools/run.sh graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10` " +
          "to restore the two-scale assertion")
      val offenders = for {
        dir <- dirs
        (name, bound) <- windowInputBounds.toSeq
        // execution failure = offender, WITH the cause (ADVICE r13: the
        // old -1 sentinel discarded the exception)
        rowsOrErr = try Right(PlanWalk.unpartitionedWindowInputRows(
            SparkEntry.queries(name)(spark, dir)))
          catch { case e: Throwable => Left(s"EXEC-FAILED ${e.getMessage}") }
        msg <- rowsOrErr match {
          case Left(err) => Seq(s"$name@$dir: $err")
          case Right(rows) =>
            rows.filter(_ > bound).map(r => s"$name@$dir: window input $r rows > bound $bound")
        }
      } yield msg
      assert(offenders.isEmpty,
        s"unpartitioned-window input exceeded its claimed bound:\n  ${offenders.mkString("\n  ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("unpartitioned-window node counts match the per-query intended counts exactly") {
    val offenders = SparkEntry.declared.flatMap { q =>
      val got =
        try PlanWalk.unpartitionedWindows(q.fn(spark, sf()).queryExecution.sparkPlan).size
        catch { case _: Throwable => -1 }
      val want = intendedUnpartitionedWindows.getOrElse(q.name, 0)
      if (got != want) Some(s"${q.name}: $got unpartitioned windows (expected $want)")
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned-window drift (regenerate via PlanAudit window if intentional, and justify the bound):\n  ${offenders.mkString("\n  ")}")
  }

  test("window walk is sensitive: a raw global row_number IS detected") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"${sf()}/events.parquet")
      .withColumn("rn", row_number().over(Window.orderBy(col("event_id"))))
    assert(PlanWalk.unpartitionedWindows(df.queryExecution.sparkPlan).size === 1)
  }

  // The fact×fact heavy-hitter gate (VERDICT r11 item 1, hardened r13
  // per VERDICT r12 item 1/4): no pair-emitting shuffle equi-join whose
  // key ORIGINS (traced through Project/Alias lineage, so renames and
  // derived composites can't slip the match) hit a skewable id on BOTH
  // sides may have both sides carry an un-reduced fact-scan PATH. That
  // shape emits |left_k|×|right_k| rows for a hot key:
  // event_attribution went 1.16 s → 197 s at 30% skew before its r11
  // as-of rewrite; the r12 gate caught join_asof_nearest's composite
  // key (6.69 s → 1.47 s after rewrite); the r13 lineage walk caught
  // b7_stream_join's RENAMED key (p_user/c_user — 3.6e9 SMJ candidates
  // for skew-sf1's hot user vs 2.5e6 true pairs, rewritten as a
  // range-frame window). The skewable set is the pinned SkewUp minimum
  // UNION the set DERIVED from the fixtures themselves (every
  // non-unique *_id/*key column of a fact table), so a renamed or
  // future FK can't silently exit the gate. Expected set: EMPTY.
  // Plans are derived with auto-broadcast disabled so tiny sf0.001
  // inputs show the join strategy the same query gets at scale;
  // explicit broadcast() hints survive, which is correct (a hinted
  // build side is small at any SF).
  private lazy val derivedSkewIds = PlanWalk.deriveSkewableIds(spark, sf())
  private lazy val effectiveSkewIds = PlanWalk.skewableIds ++ derivedSkewIds

  test("derived skewable ids cover the pinned SkewUp minimum (and find l_orderkey)") {
    assert(PlanWalk.skewableIds.subsetOf(derivedSkewIds),
      s"derivation regressed — pinned ${PlanWalk.skewableIds} not all derived ($derivedSkewIds)")
    // the derivation must see PAST the pinned set: l_orderkey is
    // non-unique in lineitem but not in SkewUp's remap set
    assert(derivedSkewIds.contains("l_orderkey"), s"derived=$derivedSkewIds")
  }

  test("no query shuffle-joins two un-reduced fact scans on a skewable id") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val offenders = SparkEntry.declared.flatMap { q =>
        // a query that fails to PLAN is an offender, not a free pass
        // (ADVICE r12: swallowing the exception let planning failures
        // silently pass this gate; the window gate's -1 sentinel is the
        // model)
        val hits =
          try PlanWalk.skewRiskJoins(q.fn(spark, sf()).queryExecution.sparkPlan, effectiveSkewIds)
          catch { case e: Throwable => Seq(s"PLAN-FAILED ${e.getMessage}") }
        hits.map(h => s"${q.name}: $h")
      }
      assert(offenders.isEmpty,
        s"skew-risk fact×fact joins (rewrite as as-of/aggregate-first, or justify + pin):\n  ${offenders.mkString("\n  ")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewjoin walk is sensitive: raw fact×fact on user_id IS flagged; reduced/dim joins are NOT") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = spark.read.parquet(s"${sf()}/events.parquet")
      // the event_attribution anti-shape: purchases × clicks, same user
      val bad = ev.filter(col("event_type") === "purchase")
        .join(ev.filter(col("event_type") === "click").select(
          col("user_id"), col("ts").as("cts")), "user_id")
      assert(PlanWalk.skewRiskJoins(bad.queryExecution.sparkPlan).nonEmpty,
        "raw fact×fact join on user_id must be flagged")
      // one side aggregated to ≤1 row per key → linear, not flagged
      val ok1 = ev.join(ev.groupBy("user_id").agg(count(lit(1)).as("n")), "user_id")
      assert(PlanWalk.skewRiskJoins(ok1.queryExecution.sparkPlan).isEmpty,
        "aggregate-reduced side must not be flagged")
      // fact×dim on the dim's PRIMARY key (unique per row) → not flagged
      val ord = spark.read.parquet(s"${sf()}/orders.parquet")
      val cust = spark.read.parquet(s"${sf()}/customer.parquet")
      val ok2 = ord.join(cust, col("o_custkey") === col("c_custkey"))
      assert(PlanWalk.skewRiskJoins(ok2.queryExecution.sparkPlan).isEmpty,
        "fact×dim join on the dim PK must not be flagged")
      // semi/anti joins emit ≤1 row per probe row → linear, not flagged
      val ok3 = ev.filter(col("event_type") === "purchase")
        .join(ev.filter(col("event_type") === "click").select(col("user_id")),
          Seq("user_id"), "left_semi")
      assert(PlanWalk.skewRiskJoins(ok3.queryExecution.sparkPlan).isEmpty,
        "semi join must not be flagged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewjoin walk traces lineage: aliased, derived, and sibling-masked keys ARE flagged") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = spark.read.parquet(s"${sf()}/events.parquet")
      // (a) VERDICT r12 red fixture: the key is RENAMED on both sides
      // before the join — the r12 name match let this through
      val aliased = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("uid"), col("ts"))
        .join(ev.filter(col("event_type") === "click")
          .select(col("user_id").as("uid"), col("ts").as("cts")), "uid")
      assert(PlanWalk.skewRiskJoins(aliased.queryExecution.sparkPlan).nonEmpty,
        "alias-renamed skewable key must be flagged")
      // (b) DERIVED composite key: concat(user_id, bucket) — origins
      // must surface user_id through the expression
      val derived = ev.select(concat(col("user_id"), lit("_"), col("event_type")).as("k"), col("ts"))
        .join(ev.select(concat(col("user_id"), lit("_"), col("event_type")).as("k"),
          col("ts").as("ts2")), "k")
      assert(PlanWalk.skewRiskJoins(derived.queryExecution.sparkPlan).nonEmpty,
        "derived composite key over a skewable column must be flagged")
      // (c) ADVICE r12: an un-reduced fact scan joined ALONGSIDE an
      // aggregated branch on the same side — the old subtree-anywhere
      // `reduced` check saw the sibling aggregate and passed the side
      val enriched = ev.join(
        ev.groupBy("event_type").agg(count(lit(1)).as("type_n")), "event_type")
      val masked = enriched.join(
        ev.select(col("user_id"), col("ts").as("ts2")), "user_id")
      assert(PlanWalk.skewRiskJoins(masked.queryExecution.sparkPlan).nonEmpty,
        "un-reduced fact path masked by a sibling aggregate must be flagged")
      // (d) VERDICT r12 item 4 red fixture: a non-unique fact key that
      // is NOT in the pinned SkewUp set (l_orderkey) — only the DERIVED
      // set catches a pair-emitting self-join on it
      val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      val selfPairs = li.select(col("l_orderkey"), col("l_suppkey"))
        .join(li.select(col("l_orderkey"), col("l_suppkey").as("s2")), "l_orderkey")
      assert(PlanWalk.skewRiskJoins(selfPairs.queryExecution.sparkPlan).isEmpty,
        "pinned-only set must MISS l_orderkey (documents why derivation exists)")
      assert(PlanWalk.skewRiskJoins(selfPairs.queryExecution.sparkPlan, effectiveSkewIds).nonEmpty,
        "derived set must flag the l_orderkey self-join")
      // (e) VERDICT r13 item 2 red fixture: the key is EXPLODE-derived —
      // GenerateExec mints a fresh ExprId for the generator output, so
      // the r13 walk (Project/Aggregate lineage only) fell back to the
      // surface name "eu" and missed user_id underneath
      val exploded = ev.select(explode(array(col("user_id"))).as("eu"), col("ts"))
        .join(ev.select(col("user_id").as("eu"), col("ts").as("ts2")), "eu")
      assert(PlanWalk.skewRiskJoins(exploded.queryExecution.sparkPlan).nonEmpty,
        "explode-derived skewable key must be flagged")
      // (f) VERDICT r13 item 2 red fixture: the skewable key is renamed
      // inside a NON-FIRST union branch — UnionExec reuses only the
      // first child's ExprIds, so the r13 walk resolved the merged key
      // to event_id (unique, not skewable) and missed the user_id branch
      val merged = ev.select(col("event_id").as("uid"), col("ts"))
        .union(ev.select(col("user_id").as("uid"), col("ts")))
        .join(ev.select(col("user_id").as("uid"), col("ts").as("ts2")), "uid")
      assert(PlanWalk.skewRiskJoins(merged.queryExecution.sparkPlan).nonEmpty,
        "skewable key renamed in a non-first union branch must be flagged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("derived skewable ids ignore NULLs: a unique-but-nullable key is NOT skewable") {
    // ADVICE r13: count_distinct ignores NULLs, so comparing against
    // count(*) misclassified a unique key with any NULLs as skewable.
    // Build a fixture dir whose events table has a NULLED-but-unique
    // event_id and a genuinely duplicated user_id: only user_id (and
    // the other true FKs) may derive.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullkey_").toString
    val src = spark.read.parquet(s"${sf()}/events.parquet")
    src.withColumn("event_id",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_id")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq("orders", "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"${sf()}/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val derived = PlanWalk.deriveSkewableIds(spark, dir)
    assert(!derived.contains("event_id"),
      s"nullable-but-unique event_id misclassified as skewable: $derived")
    assert(derived.contains("user_id"), s"true FK user_id must still derive: $derived")

    // ADVICE r14: a MOSTLY-NULL key is a skew vector even with unique
    // non-null values — NULL keys all hash to one partition in shuffle
    // outer joins. Re-null event_id at 50% (> the 1/3 threshold): now
    // it must derive by NULL mass despite being distinct-per-row.
    val dir2 = java.nio.file.Files.createTempDirectory("graft_nullheavy_").toString
    src.withColumn("event_id",
        when(col("event_id") % 2 === 0, lit(null)).otherwise(col("event_id")))
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    Seq("orders", "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"${sf()}/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir2/$t.parquet")
    }
    val derived2 = PlanWalk.deriveSkewableIds(spark, dir2)
    assert(derived2.contains("event_id"),
      s"50%-NULL event_id must derive as skewable (outer-join NULL partition): $derived2")
  }

  test("lambda-split walk is sensitive: the pushed-filter inline IS detected; let1/per-element are NOT") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // the r14 pathology: PushPredicateThroughProject substitutes the
    // tokenize alias chain into the pushed-down filter, leaving split()
    // inlined INSIDE the shingle lambda -> O(tokens²) per row in the
    // Filter (proved by jstack on the sf100 probe; 49.0 s vs 21.7 s at
    // sf1 on the shingle count alone)
    val pushed = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(
            slice(sequence(1, greatest(size(t) - 2, 1)), 1, greatest(size(t) - 2, 0)),
            i -> concat_ws(' ', slice(t, i, 3))))""").as("sh"))
      .filter(size(col("sh")) > 0)
    assert(PlanWalk.loopInvariantExpensiveInLambdas(
        pushed.queryExecution.sparkPlan).nonEmpty,
      "pushed-filter split-into-lambda must be flagged:\n" +
        pushed.queryExecution.sparkPlan.toString.take(2000))
    // the let1 form binds the split as a lambda VARIABLE — never
    // inlined, even through predicate-pushdown substitution
    val bound = docs.select(col("doc_id"),
        graft.functions.TextOps.let1(graft.functions.TextOps.tokens(col("text")), t =>
          array_distinct(transform(
            slice(sequence(lit(1), greatest(size(t) - 2, lit(1))), lit(1), greatest(size(t) - 2, lit(0))),
            i => concat_ws(" ", slice(t, i, lit(3)))))).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(PlanWalk.loopInvariantExpensiveInLambdas(
        bound.queryExecution.sparkPlan).isEmpty,
      "let1-bound shingles must NOT be flagged")
    // a split OF the lambda element itself is linear, legitimate work
    val perElement = docs.select(
      transform(split(col("text"), "\\."), s => size(split(s, " "))).as("n"))
    assert(PlanWalk.loopInvariantExpensiveInLambdas(
        perElement.queryExecution.sparkPlan).isEmpty,
      "per-element split must NOT be flagged")
    // the walk descends into cached plans (where the burned Lsh filter
    // actually lived — invisible to any logical-plan walk)
    val cachedBad = pushed.cache()
    try {
      cachedBad.count()
      val viaCache = cachedBad.filter(col("doc_id") >= 0)
      assert(PlanWalk.loopInvariantExpensiveInLambdas(
          viaCache.queryExecution.sparkPlan).nonEmpty,
        "the inline inside an InMemoryRelation cached plan must be flagged")
    } finally cachedBad.unpersist()
  }

  test("lambda walk generalizes past split: regexp family flags, per-element regexp does not, nested-lambda invariance is scoped") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // r15 red fixture (VERDICT r14 item 5): the same CollapseProject /
    // PushPredicateThroughProject inline with regexp_extract_all as the
    // tokenizer — the old StringSplit-only detector was blind to it
    val pushedRe = docs
      .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(
            slice(sequence(1, greatest(size(t) - 2, 1)), 1, greatest(size(t) - 2, 0)),
            i -> concat_ws(' ', slice(t, i, 3))))""").as("sh"))
      .filter(size(col("sh")) > 0)
    val reHits = PlanWalk.loopInvariantExpensiveInLambdas(pushedRe.queryExecution.sparkPlan)
    assert(reHits.exists(_.contains("regexp_extract_all")),
      s"pushed-filter regexp_extract_all-into-lambda must be flagged, got: $reHits\n" +
        pushedRe.queryExecution.sparkPlan.toString.take(2000))
    // per-element regexp work on the lambda's own element is linear and
    // legitimate — must NOT flag
    val perElement = docs.select(
      filter(split(col("text"), " "), w => w.rlike("^[a-z]+$")).as("w"))
    assert(PlanWalk.loopInvariantExpensiveInLambdas(
        perElement.queryExecution.sparkPlan).isEmpty,
      "rlike on the lambda's own element must NOT be flagged")
    // ADVICE r14: invariance is judged against the INNERMOST lambda's
    // own arguments — split(x) referencing only the OUTER lambda's var
    // inside a nested lambda is re-split per INNER element (the
    // any-NamedLambdaVariable test was blind to this)
    val nested = docs.select(expr(
      """transform(split(text, '\\.'), x ->
           transform(sequence(1, 3), i -> element_at(split(x, ' '), i)))""").as("n"))
    val nestedHits = PlanWalk.loopInvariantExpensiveInLambdas(nested.queryExecution.sparkPlan)
    assert(nestedHits.exists(_.contains("split")),
      s"outer-var split inside the INNER lambda must be flagged: $nestedHits")
  }

  test("no declared query re-evaluates a loop-invariant split inside a lambda") {
    val offenders = SparkEntry.declared.flatMap { q =>
      val hits =
        try PlanWalk.loopInvariantExpensiveInLambdas(
          q.fn(spark, sf()).queryExecution.sparkPlan)
        catch { case e: Throwable => Seq(s"PLAN-FAILED ${e.getMessage}") }
      hits.map(h => s"${q.name}: $h")
    }
    assert(offenders.isEmpty,
      s"O(tokens²) tokenization re-evaluation (cheap pre-filter or TextOps.let1):\n  ${offenders.mkString("\n  ")}")
  }

  test("parquet scans never read the full lineitem schema needlessly") {
    // lineitem has 11 columns; scan_count needs 0, project_expr needs 7.
    val plan = SparkEntry.queries("scan_count")(spark, sf())
      .queryExecution.sparkPlan.toString()
    assert(plan.contains("ReadSchema: struct<>"),
      s"count(*) scan must prune all columns:\n$plan")
  }

  test("no declared query scans the FULL schema of a wide table") {
    // column pruning is the cheapest 100 TB lever: a scan that reads
    // every column of lineitem (11) / events (6) / orders (6) for a
    // narrower projection is a planning bug. Width counted from the
    // ReadSchema struct of each scan node.
    val fullWidths = Map("lineitem" -> 11, "events" -> 6, "orders" -> 6)
    val scanRe = ("Location: InMemoryFileIndex[^\\n]*/(\\w+)\\.parquet[^\\n]*\\n" +
      "(?:[^\\n]*\\n)*?[^\\n]*ReadSchema: struct<([^>]*)>").r
    var nScans = 0
    val offenders = SparkEntry.declared.flatMap { q =>
      val formatted =
        try q.fn(spark, sf()).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case _: Throwable => "" }
      scanRe.findAllMatchIn(formatted).flatMap { m =>
        val (table, schema) = (m.group(1), m.group(2))
        val width = if (schema.trim.isEmpty) 0 else schema.count(_ == ':')
        if (fullWidths.contains(table)) nScans += 1
        fullWidths.get(table).collect {
          case full if width >= full => s"${q.name}: $table reads all $full columns"
        }
      }
    }
    assert(nScans > 50, s"scan matcher looks broken — only $nScans wide-table scans found")
    assert(offenders.isEmpty, s"unpruned wide scans:\n  ${offenders.mkString("\n  ")}")
  }
}
