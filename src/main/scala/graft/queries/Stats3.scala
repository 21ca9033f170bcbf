package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-8b distribution/graph/resampling wave: two-sample
  * Kolmogorov–Smirnov, md5-deterministic bootstrap confidence
  * intervals, lag-k autocorrelation, PMI collocation mining, and BFS
  * shortest paths on the trade graph — the distribution-comparison and
  * dependence surface beyond the r8a robust-stats wave (chi2 / Welch /
  * winsorize / triangles / rolling median).
  *
  * Determinism discipline (SURVEY §2 D-rules): every cumulative and
  * count is an exact integer end-to-end; products that could exceed
  * 2⁵³ run in DECIMAL(38,0) (stats_welch_t precedent); the only floats
  * are final formulas mirrored token-for-token in the oracle, so both
  * engines execute the identical IEEE expression over identical exact
  * inputs; resampling replaces seeded RNG with md5 buckets (the
  * data_split_hash idiom) — reproducible across engines, runs, and
  * partitionings.
  *
  * Scale discipline: no unpartitioned window ever touches corpus-sized
  * data. Global cumulatives (the KS ECDF, the bootstrap row numbering)
  * are two-phase: a bin-partitioned window does the corpus-scale work
  * in parallel and a tiny window over the BIN AGGREGATE (≤ a few
  * hundred rows) supplies prefix offsets — the agg_weighted_median r7
  * rework generalized into an idiom.
  */
object Stats3 {

  private def dbl(c: Column): Column = c.cast("double")
  private def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** Two-sample Kolmogorov–Smirnov: D = max |F₀(x) − F₁(x)| between
    * the BUILDING and MACHINERY order-value distributions — the
    * standard nonparametric "did the distribution shift?" gate (train
    * vs holdout, this week vs last). ECDFs are exact-integer
    * cumulative counts over the DISTINCT-CENTS aggregate; the per-value
    * difference is two divisions of exact integers, identical IEEE on
    * both engines, so max and the 6-dp round agree. Spark computes the
    * cumulative two-phase: within-bin windows partitioned by a
    * $10k-wide cents bin (parallel, corpus-scale) plus bin-prefix
    * offsets from a ≤~600-row bin aggregate — no global window over
    * data-sized input (the oracle uses the plain global window DuckDB
    * is free to serialize).
    */
  val statsKs: Q = Q(
    "stats_ks",
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      |    AND o_totalprice IS NOT NULL),
      |v AS (
      |  SELECT cents,
      |         CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM o GROUP BY 1),
      |c AS (
      |  SELECT CAST(sum(c0) OVER (ORDER BY cents) AS BIGINT) AS a0,
      |         CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS a1
      |  FROM v),
      |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
      |             CAST(sum(c1) AS BIGINT) AS n1 FROM v),
      |k AS (
      |  SELECT n0, n1,
      |         round(max(abs(CAST(a0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |                     - CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE))), 6) AS ks_d
      |  FROM c CROSS JOIN t GROUP BY n0, n1)
      |SELECT n0, n1, ks_d,
      |       round(ks_d * sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |                         / CAST(n0 + n1 AS DOUBLE)), 6) AS ks_stat
      |FROM k""".stripMargin
  ) { (s, d) =>
    val o = T.customer(s, d).select(col("c_custkey"), col("c_mktsegment").as("seg"))
      .join(T.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        col("c_custkey") === col("o_custkey"))
      .filter(col("seg").isin("BUILDING", "MACHINERY"))
      // an ECDF is over OBSERVED values; a NULL price is not a sample —
      // and the two engines order a NULL cents group oppositely
      .filter(col("o_totalprice").isNotNull)
      .select(col("seg"), (T.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    val v = o.groupBy(col("cents")).agg(
      sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("c0"),
      sum(when(col("seg") === "MACHINERY", 1L).otherwise(0L)).as("c1"))
      .withColumn("bin", expr("cents div 1000000"))
    // phase 1: per-bin totals + exclusive prefix over the tiny bin aggregate
    val binPre = v.groupBy(col("bin"))
      .agg(sum(col("c0")).as("b0"), sum(col("c1")).as("b1"))
      .select(col("bin"),
        (sum(col("b0")).over(Window.orderBy(col("bin"))) - col("b0")).as("p0"),
        (sum(col("b1")).over(Window.orderBy(col("bin"))) - col("b1")).as("p1"))
    // phase 2: within-bin cumulative, partitioned — parallel at any scale
    val wb = Window.partitionBy(col("bin")).orderBy(col("cents"))
    val c = v.join(broadcast(binPre), "bin")
      .select((col("p0") + sum(col("c0")).over(wb)).as("a0"),
        (col("p1") + sum(col("c1")).over(wb)).as("a1"))
    val t = v.agg(sum(col("c0")).cast("long").as("n0"),
      sum(col("c1")).cast("long").as("n1"))
    val k = c.crossJoin(broadcast(t))
      .groupBy(col("n0"), col("n1"))
      .agg(round(max(abs(dbl(col("a0")) / dbl(col("n0"))
        - dbl(col("a1")) / dbl(col("n1")))), 6).as("ks_d"))
    k.select(col("n0"), col("n1"), col("ks_d"),
      round(col("ks_d") * sqrt(dbl(col("n0")) * dbl(col("n1"))
        / dbl(col("n0") + col("n1"))), 6).as("ks_stat"))
  }

  /** md5-deterministic bootstrap: 40 resamples of the AUTOMOBILE-segment
    * order values, percentile_disc CI for the mean — uncertainty
    * quantification with no seeded RNG: draw i of replicate b picks row
    * (md5(b:i) mod n)+1, reproducible across engines, runs, and
    * partitionings (the data_split_hash idiom extended to resampling).
    * Replicate means are exact BIGINT sums with one final division;
    * percentile_disc picks ACTUAL elements of the 40-value replicate
    * distribution, so the CI is deterministic. Spark numbers rows
    * two-phase (bin by o_orderkey div 16384, within-bin row_number +
    * bin-prefix offsets from the tiny bin aggregate) — no global
    * row_number window over the corpus. Cost is O(B·n) with constant
    * B=40 — linear in the corpus, one equi-join shuffle.
    */
  val statsBootstrap: Q = Q(
    "stats_bootstrap",
    """WITH o AS (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  WHERE c_mktsegment = 'AUTOMOBILE'),
      |num AS (SELECT cents, row_number() OVER (ORDER BY o_orderkey) AS rn FROM o),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(cents) AS BIGINT) AS sc FROM num),
      |reps AS (SELECT CAST(range AS BIGINT) AS b FROM range(1, 41)),
      |draw AS (
      |  SELECT reps.b,
      |         CAST(('0x' || substring(md5(CAST(reps.b AS VARCHAR) || ':'
      |                || CAST(num.rn AS VARCHAR)), 1, 8)) AS BIGINT) % t.n + 1 AS idx
      |  FROM reps CROSS JOIN num CROSS JOIN t),
      |rep AS (
      |  SELECT draw.b, CAST(sum(num.cents) AS BIGINT) AS sb,
      |         CAST(count(*) AS BIGINT) AS mb_n
      |  FROM draw JOIN num ON draw.idx = num.rn
      |  GROUP BY draw.b),
      |rm AS (SELECT b, CAST(sb AS DOUBLE) / (CAST(mb_n AS DOUBLE) * 100.0) AS mb
      |       FROM rep)
      |SELECT t.n, CAST(count(*) AS BIGINT) AS b_reps,
      |       round(CAST(t.sc AS DOUBLE) / (CAST(t.n AS DOUBLE) * 100.0), 6) AS mean_full,
      |       round(percentile_disc(0.05) WITHIN GROUP (ORDER BY mb), 6) AS ci_lo,
      |       round(percentile_disc(0.95) WITHIN GROUP (ORDER BY mb), 6) AS ci_hi
      |FROM rm CROSS JOIN t
      |GROUP BY t.n, t.sc""".stripMargin
  ) { (s, d) =>
    val o = T.customer(s, d)
      .filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
      .join(T.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        col("c_custkey") === col("o_custkey"))
      .select(col("o_orderkey"), (T.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    // two-phase global numbering: orderkey-div bins preserve the total
    // order, so prefix(bin) + row_number-within-bin == global row_number
    val ob = o.withColumn("bin", expr("o_orderkey div 16384"))
    val binPre = ob.groupBy(col("bin")).agg(count(lit(1)).as("bn"))
      .select(col("bin"),
        (sum(col("bn")).over(Window.orderBy(col("bin"))) - col("bn")).as("pre"))
    val num = ob.join(broadcast(binPre), "bin")
      .select(col("cents"),
        (col("pre") + row_number().over(
          Window.partitionBy(col("bin")).orderBy(col("o_orderkey")))).as("rn"))
      // three consumers (the t totals, the draw generator's rn side, and
      // the idx equi-join's build side) each re-ran the join + two-phase
      // numbering; one cached pass feeds all three (§1.2). Intra-query
      // cache only — Bench/TimeQ clear the CacheManager between passes,
      // and Verify runs each query once per process (Lsh.scala policy).
      .cache()
    val t = num.agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("sc"))
    val reps = s.range(1, 41).select(col("id").as("b"))
    val draw = reps.crossJoin(num.select(col("rn"))).crossJoin(broadcast(t))
      .select(col("b"),
        (md5Uniform32(concat(col("b").cast("string"), lit(":"), col("rn").cast("string")))
          % col("n") + 1).as("idx"))
    val rep = draw.join(num, draw("idx") === num("rn"))
      .groupBy(col("b"))
      .agg(sum(col("cents")).cast("long").as("sb"), count(lit(1)).as("mb_n"))
    val rm = rep.select(col("b"), (dbl(col("sb")) / (dbl(col("mb_n")) * lit(100.0))).as("mb"))
    rm.crossJoin(broadcast(t))
      .groupBy(col("n"), col("sc"))
      .agg(count(lit(1)).as("b_reps"),
        round(dbl(col("sc")) / (dbl(col("n")) * lit(100.0)), 6).as("mean_full"),
        round(expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY mb)"), 6).as("ci_lo"),
        round(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY mb)"), 6).as("ci_hi"))
      .select(col("n"), col("b_reps"), col("mean_full"), col("ci_lo"), col("ci_hi"))
  }

  /** Lag-k autocorrelation (k = 1..6) of the hourly event-count series
    * — the periodicity detector beside ts_seasonal_hour's averages and
    * ts_ema's smoother. Pearson r per lag from exact sufficient
    * statistics: all sums are BIGINT over the calendar-bounded HOURLY
    * AGGREGATE; the variance/covariance numerators m·Σxy − Σx·Σy run in
    * DECIMAL(38,0) (stats_welch_t precedent) so the only floats are the
    * final casts + one division, mirrored token-for-token. The lag
    * self-join is an equi-join on epoch-micros (+k·3600s) — no window
    * at all; zero-variance lags are excluded by an EXACT decimal
    * comparison (deterministic cross-engine).
    */
  val tsAcf: Q = Q(
    "ts_acf",
    """WITH h AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) AS us,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 7)),
      |p AS (
      |  SELECT l.lag, a.n AS x, b.n AS y
      |  FROM l CROSS JOIN h a
      |  JOIN h b ON b.us = a.us + l.lag * 3600000000),
      |agg AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS m,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM p GROUP BY 1),
      |vv AS (
      |  SELECT lag, m, sx, sy, sxy,
      |         CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS vx,
      |         CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS vy
      |  FROM agg)
      |SELECT lag, m,
      |       round(CAST(CAST(m AS DECIMAL(38,0)) * sxy
      |                  - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
      |             / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6) AS acf
      |FROM vv WHERE vx > 0 AND vy > 0
      |ORDER BY lag""".stripMargin
  ) { (s, d) =>
    val h = T.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("hr")).as("us"), col("n"))
    val l = s.range(1, 7).select(col("id").as("lag"))
    val a = h.select(col("us").as("usa"), col("n").as("x"))
    val b = h.select(col("us").as("usb"), col("n").as("y"))
    val p = a.crossJoin(broadcast(l))
      .join(b, col("usb") === col("usa") + col("lag") * lit(3600000000L))
      .select(col("lag"), col("x"), col("y"))
    val agg = p.groupBy(col("lag")).agg(
      count(lit(1)).as("m"),
      sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
      sum(col("x") * col("y")).cast("long").as("sxy"),
      sum(col("x") * col("x")).cast("long").as("sxx"),
      sum(col("y") * col("y")).cast("long").as("syy"))
    val vv = agg.select(col("lag"), col("m"), col("sx"), col("sy"), col("sxy"),
      (d38(col("m")) * col("sxx") - d38(col("sx")) * col("sx")).as("vx"),
      (d38(col("m")) * col("syy") - d38(col("sy")) * col("sy")).as("vy"))
    vv.filter(col("vx") > 0 && col("vy") > 0)
      .select(col("lag"), col("m"),
        round((d38(col("m")) * col("sxy") - d38(col("sx")) * col("sy")).cast("double")
          / sqrt(dbl(col("vx")) * dbl(col("vy"))), 6).as("acf"))
      .orderBy(col("lag"))
  }

  /** PMI collocation mining: top-25 word bigrams by pointwise mutual
    * information log₂(P(xy)/(P(x)P(y))) with support ≥ 5 — the classic
    * collocation extractor ("new york"-style fixed phrases) that
    * count-ranked ngram_topk can't see. All counts are exact integers
    * from one explode pass each (unigrams, bigrams) with map-side
    * combine; word-frequency lookups are equi-joins on the word; corpus
    * totals are 1-row broadcast crosses. PMI is one log₂ over a
    * double ratio of exact integers, identical IEEE cross-engine; both
    * engines ORDER BY the ROUNDED score (text_entropy precedent) with
    * the bigram as tiebreak — a total order.
    */
  val textCollocations: Q = Q(
    "text_collocations",
    """WITH tok AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
      |uc AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cw
      |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
      |t1 AS (SELECT CAST(sum(cw) AS BIGINT) AS n1 FROM uc),
      |bc AS (
      |  SELECT bigram, CAST(count(*) AS BIGINT) AS cxy FROM (
      |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1])) AS bigram
      |    FROM tok WHERE len(t) >= 2) GROUP BY 1),
      |t2 AS (SELECT CAST(sum(cxy) AS BIGINT) AS n2 FROM bc)
      |SELECT bigram, cxy,
      |       round(log2(CAST(cxy AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |             / (CAST(n2 AS DOUBLE) * CAST(u1.cw AS DOUBLE)
      |                * CAST(u2.cw AS DOUBLE))), 6) AS pmi
      |FROM bc
      |JOIN uc u1 ON string_split(bigram, ' ')[1] = u1.w
      |JOIN uc u2 ON string_split(bigram, ' ')[2] = u2.w
      |CROSS JOIN t1 CROSS JOIN t2
      |WHERE cxy >= 5
      |ORDER BY pmi DESC, bigram ASC
      |LIMIT 25""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .select(split(lower(col("text")), " ").as("t"))
    val uc = tok.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val t1 = uc.agg(sum(col("cw")).cast("long").as("n1"))
    val bc = tok.filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
          |          i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"""
          .stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
    val t2 = bc.agg(sum(col("cxy")).cast("long").as("n2"))
    bc.filter(col("cxy") >= 5)
      .join(uc.select(col("w").as("w1"), col("cw").as("cx")), "w1")
      .join(uc.select(col("w").as("w2"), col("cw").as("cy")), "w2")
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"), col("cxy"),
        round(log2(dbl(col("cxy")) * dbl(col("n1")) * dbl(col("n1"))
          / (dbl(col("n2")) * dbl(col("cx")) * dbl(col("cy")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(25)
  }

  /** BFS shortest paths (hop distance from the alphabetically-first
    * connected nation) over the mean-thresholded trade graph — the
    * reachability companion to graph_triangles' clustering and
    * graph_pagerank's centrality. The corpus-scale work is the fully
    * distributed 4-join edge derivation; the edge list itself is
    * bounded by |nations|² at ANY corpus scale, so the BFS iterates
    * driver-side over the collected ≤625-row aggregate (the sanctioned
    * GraphQ.scala:83 pagerank precedent — a graph whose NODE COUNT
    * scaled with the corpus would use dedup_cluster's distributed
    * star-contraction machinery instead). Oracle: DuckDB recursive CTE
    * with UNION dedup + depth bound; min(d) per node = BFS distance.
    */
  val graphShortestPath: Q = Q(
    "graph_shortest_path",
    """WITH RECURSIVE de AS (
      |  SELECT sn.n_name AS src, cn.n_name AS dst, CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  WHERE sn.n_name <> cn.n_name
      |  GROUP BY 1, 2),
      |pw AS (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |         CAST(sum(w) AS BIGINT) AS pwt
      |  FROM de GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS np,
      |               CAST(sum(pwt) AS BIGINT) AS tw FROM pw),
      |e AS (SELECT a, b FROM pw CROSS JOIN tot WHERE pwt * np > tw),
      |srcn AS (SELECT min(a) AS s FROM e),
      |walk(n, d) AS (
      |  SELECT s, 0 FROM srcn WHERE s IS NOT NULL
      |  UNION
      |  SELECT CASE WHEN w.n = e.a THEN e.b ELSE e.a END, w.d + 1
      |  FROM walk w JOIN e ON w.n = e.a OR w.n = e.b
      |  WHERE w.d < 30)
      |SELECT n AS nation, CAST(min(d) AS BIGINT) AS dist
      |FROM walk GROUP BY 1
      |ORDER BY nation NULLS FIRST""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val sn = T.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("src"))
    val cn = T.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_name").as("dst"))
    val de = T.lineitem(s, d).select(col("l_suppkey"), col("l_orderkey"))
      .join(T.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(T.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cnk"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    val pw = de.groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(sum(col("w")).as("pwt"))
    val tot = pw.agg(count(lit(1)).as("np"), sum(col("pwt")).cast("long").as("tw"))
    val e = pw.crossJoin(broadcast(tot))
      .filter(col("pwt") * col("np") > col("tw"))
      .select(col("a"), col("b"))
    // ≤ |nations|²/2 rows by construction — driver-side BFS on the
    // collected aggregate (GraphQ.scala:83 precedent)
    val edges = e.collect().map(r => (r.getString(0), r.getString(1)))
    if (edges.isEmpty) Seq.empty[(String, Long)].toDF("nation", "dist")
    else {
      val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val start = edges.map(_._1).min
      var dist = Map(start -> 0L)
      var frontier = Set(start)
      var dcur = 0L
      while (frontier.nonEmpty && dcur < 30) {
        dcur += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- dist.keySet
        dist ++= next.iterator.map(_ -> dcur)
        frontier = next
      }
      dist.toSeq.sortBy(_._1).toDF("nation", "dist")
        .orderBy(col("nation").asc_nulls_first)
    }
  }

  /** B9 depth: STREAMING DEDUPLICATION across micro-batches —
    * dropDuplicatesWithinWatermark over a MemoryStream where every
    * event of a deterministic slice is delivered TWICE in different
    * micro-batches (the at-least-once replay every real source
    * exhibits). Exactly one output row per event_id proves the state
    * store carries dedup keys across batches — the streaming twin of
    * dedup_exact and the idempotency base of the reference's repeated
    * import ticks. Watermark is wider than the fixture span so no state
    * evicts mid-test (eviction semantics are pinned in StreamOpsSpec).
    */
  val streamDedup: Q = Q.noOracle("b9_stream_dedup") { (s, d) =>
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val token = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    // deterministic slice, divisor DERIVED from the corpus so the
    // driver-side MemoryStream feed stays O(thousands) at ANY SF (the
    // b13 sizing argument, applied — VERDICT r15: the fixed %50 slice
    // is ~2k rows at sf0.1 but ~2M GEvent objects at sf100). The
    // count() is parquet-metadata cheap; at the declared SFs the
    // derived divisor stays 50, so recorded results are unchanged.
    val evTotal = T.events(s, d).count()
    val divisor = math.max(50L, evTotal / 2000L)
    val slice = T.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_id") % divisor === 0)
      // GEvent's primitive fields + the watermark column must be non-null
      .filter(col("ts").isNotNull && col("user_id").isNotNull && col("value").isNotNull)
      .as[graft.streaming.GEvent].collect().toIndexedSeq.sortBy(_.event_id)
    val half = slice.length / 2
    // replay shape: batch2 re-delivers batch1 alongside new rows;
    // batch3 re-delivers everything
    val batches = Seq(slice.take(half), slice ++ slice.take(half), slice)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.GEvent]
    val sink = s"b9_dedup_$token"
    // state partitions sized to the ≤O(2k)-row feed (see
    // StreamOps.withStatePartitions): 3 stateful batches × the batch
    // session's partition count was pure checkpoint overhead here
    graft.streaming.StreamOps.withStatePartitions(s, slice.length.toLong) {
      val q = graft.streaming.StreamOps
        .dedupWithinWatermark(mem.toDF(), watermark = "3650 days")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val emitted = s.table(sink).count()
    val sent = batches.map(_.size.toLong).sum
    Seq((sent, slice.length.toLong, emitted, emitted == slice.length.toLong))
      .toDF("n_sent", "n_unique", "n_emitted", "dedup_ok")
  }

  /** B20: MANIFEST-PINNED SNAPSHOT READS — poor-man's time travel on a
    * plain parquet lake. Each version writes its files into an
    * immutable area and publishes a manifest listing exactly its data
    * files; a reader pins a manifest and is immune to concurrent
    * writers (no Delta/Iceberg jars in this environment — this is the
    * pattern those formats productize, and the lake layout the
    * reference's full-refresh-swap loop approximates with directory
    * renames). The row writes v1 (even orders) and v2 (all orders),
    * then reads BOTH pinned manifests back and proves (n, checksum)
    * LoadAudit parity per version — v1 stays byte-stable after v2
    * lands.
    */
  val snapshotRead: Q = Q.noOracle("b20_snapshot_read") { (s, d) =>
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_b20_snap_").toString
    val fs = graft.ingest.LakeFs.fs(s, root)
    def writeVersion(df: DataFrame, v: Int): Unit = {
      val dir = s"$root/files/v$v"
      df.coalesce(2).write.mode("overwrite").parquet(dir)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, s"manifest-v$v.json"),
        files.mkString("[\"", "\",\"", "\"]").getBytes("UTF-8"))
      ()
    }
    def readPinned(v: Int): DataFrame = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, s"manifest-v$v.json")), "UTF-8")
      val files = txt.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      if (files.isEmpty) T.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")).limit(0)
      else s.read.parquet(files.toIndexedSeq: _*)
    }
    val v1 = T.orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val v2 = T.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    writeVersion(v1, 1)
    val a1 = graft.ingest.LoadAudit.audit(v1)
    writeVersion(v2, 2) // v2 lands AFTER v1's manifest is pinned
    val a2 = graft.ingest.LoadAudit.audit(v2)
    val r1 = graft.ingest.LoadAudit.audit(readPinned(1))
    val r2 = graft.ingest.LoadAudit.audit(readPinned(2))
    Seq(
      (1L, r1.nRows, r1.checksum, r1 == a1),
      (2L, r2.nRows, r2.checksum, r2 == a2))
      .toDF("version", "n_rows", "checksum", "matches_source")
      .orderBy(col("version"))
  }

  val all: Seq[Q] = Seq(statsKs, statsBootstrap, tsAcf, textCollocations,
    graphShortestPath, streamDedup, snapshotRead)
}
