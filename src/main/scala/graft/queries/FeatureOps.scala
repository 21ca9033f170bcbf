package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-8c feature-engineering/graph wave: per-group quantile grids,
  * hashing-trick featurization, quantized-embedding covariance, and
  * neighborhood-Jaccard link prediction — the feature-preparation
  * surface a training pipeline runs after curation and before model
  * fitting.
  *
  * Determinism discipline: quantile cutpoints are percentile_disc
  * ACTUAL cents values (winsorize_stats precedent); hash buckets are
  * md5-derived (data_split_hash idiom); covariance runs over
  * int8-QUANTIZED embeddings so every sum is an exact BIGINT — the
  * corpus-sized float-sum nondeterminism trap never opens (the
  * embedding_quantize round-parity precedent supplies the quantizer);
  * Jaccard is a ratio of exact integers rounded at 6 dp.
  */
object FeatureOps {

  private def dbl(c: Column): Column = c.cast("double")

  /** Per-segment decile grid (p10..p90) of order values — the quantile
    * REPORT every metrics/monitoring pipeline materializes per cohort.
    * percentile_disc picks actual cents values (exact integers, no
    * interpolated floats); the grid is 9 aggregate columns unpivoted to
    * rows (stack ↔ UNION ALL). Scale: one partial-aggregable pass per
    * segment; output bounded by |segments|·9.
    */
  val quantileGrid: Q = Q(
    "quantile_grid",
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer JOIN orders ON c_custkey = o_custkey),
      |g AS (
      |  SELECT seg,
      |    CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d1,
      |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d2,
      |    CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d3,
      |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d4,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d5,
      |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d6,
      |    CAST(percentile_disc(0.7) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d7,
      |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d8,
      |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS d9
      |  FROM o GROUP BY seg)
      |SELECT seg, decile, cents FROM (
      |  SELECT seg, CAST(1 AS BIGINT) AS decile, d1 AS cents FROM g
      |  UNION ALL SELECT seg, 2, d2 FROM g
      |  UNION ALL SELECT seg, 3, d3 FROM g
      |  UNION ALL SELECT seg, 4, d4 FROM g
      |  UNION ALL SELECT seg, 5, d5 FROM g
      |  UNION ALL SELECT seg, 6, d6 FROM g
      |  UNION ALL SELECT seg, 7, d7 FROM g
      |  UNION ALL SELECT seg, 8, d8 FROM g
      |  UNION ALL SELECT seg, 9, d9 FROM g)
      |ORDER BY seg NULLS FIRST, decile""".stripMargin
  ) { (s, d) =>
    val o = T.customer(s, d).select(col("c_custkey"), col("c_mktsegment").as("seg"))
      .join(T.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        col("c_custkey") === col("o_custkey"))
      .select(col("seg"), (T.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    val aggs = (1 to 9).map { k =>
      expr(s"CAST(percentile_disc(0.$k) WITHIN GROUP (ORDER BY cents) AS BIGINT)").as(s"d$k")
    }
    val g = o.groupBy(col("seg")).agg(aggs.head, aggs.tail: _*)
    val stackArgs = (1 to 9).map(k => s"CAST($k AS BIGINT), d$k").mkString(", ")
    g.select(col("seg"), expr(s"stack(9, $stackArgs) AS (decile, cents)"))
      .orderBy(col("seg").asc_nulls_first, col("decile"))
  }

  /** Hashing-trick featurization: every token maps to bucket
    * md5(token) mod 64; the row reports the corpus-wide bucket
    * histogram (occurrences + distinct token types per bucket) — the
    * fixed-width, vocabulary-free text featurizer (feature hashing)
    * plus its collision profile. md5 buckets are engine- and
    * run-independent (data_split_hash idiom). Scale: one explode pass,
    * partial-aggregable counts, output bounded at 64 rows; the
    * distinct-type count shuffles (bucket, token) pairs — still
    * corpus-linear with map-side combine.
    */
  val textHashFeatures: Q = Q(
    "text_hash_features",
    """WITH tok AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |b AS (
      |  SELECT CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 64 AS bucket, w
      |  FROM tok)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(count(DISTINCT w) AS BIGINT) AS n_types
      |FROM b GROUP BY bucket
      |ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    T.spreadExplodeInput(s, T.documents(s, d))
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .select((md5Uniform32(col("w")) % 64).as("bucket"), col("w"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_types"))
      .orderBy(col("bucket"))
  }

  /** Covariance block of int8-QUANTIZED embeddings: cov(qᵢ, qⱼ) for
    * the first 5 dimensions — the feature-statistics pass (whitening,
    * drift monitoring) over a quantized vector corpus. Quantizing
    * first (embedding_quantize's per-vector max-abs scale, whose
    * round parity is already oracle-pinned) makes every sufficient
    * statistic an EXACT BIGINT sum — the corpus-sized float-sum
    * nondeterminism trap never opens; the only floats are the final
    * n·Σqq − Σq·Σq formulas in DECIMAL(38,0)→DOUBLE (welch precedent).
    * Scale: one explode to n·15 (i,j) rows, fully partial-aggregable;
    * output bounded at 15 cells.
    */
  val embeddingCov: Q = Q(
    "embedding_cov",
    """WITH m AS (
      |  SELECT CAST(list_aggregate(list_transform(embedding,
      |           x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE) AS max_abs,
      |         embedding
      |  FROM embeddings),
      |q AS (
      |  SELECT list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 127.0
      |                           / nullif(max_abs, 0.0)) AS BIGINT)) AS qa
      |  FROM m),
      |ij AS (
      |  SELECT a.i AS i, b.i AS j
      |  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(1, 6)) a,
      |       (SELECT CAST(range AS BIGINT) AS i FROM range(1, 6)) b
      |  WHERE a.i <= b.i),
      |cell AS (
      |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(qa[i]) AS BIGINT) AS si,
      |         CAST(sum(qa[j]) AS BIGINT) AS sj,
      |         CAST(sum(qa[i] * qa[j]) AS BIGINT) AS sij
      |  FROM q CROSS JOIN ij GROUP BY i, j)
      |SELECT i, j, n,
      |       round(CAST(CAST(n AS DECIMAL(38,0)) * sij
      |                  - CAST(si AS DECIMAL(38,0)) * sj AS DOUBLE)
      |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS cov_q
      |FROM cell ORDER BY i, j""".stripMargin
  ) { (s, d) =>
    val q = T.embeddings(s, d)
      .withColumn("max_abs",
        expr("CAST(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)"))
      .select(expr(
        """transform(embedding,
          |          x -> CAST(round(CAST(x AS DOUBLE) * 127.0
          |                          / nullif(max_abs, CAST(0.0 AS DOUBLE))) AS BIGINT))"""
          .stripMargin).as("qa"))
    val one = s.range(1, 6).select(col("id").as("i"))
    val ij = one.crossJoin(s.range(1, 6).select(col("id").as("j")))
      .filter(col("i") <= col("j"))
    val cell = q.crossJoin(broadcast(ij))
      .select(col("i"), col("j"),
        expr("element_at(qa, CAST(i AS INT))").as("qi"),
        expr("element_at(qa, CAST(j AS INT))").as("qj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("qi")).cast("long").as("si"),
        sum(col("qj")).cast("long").as("sj"),
        sum(col("qi") * col("qj")).cast("long").as("sij"))
    cell.select(col("i"), col("j"), col("n"),
      round((col("n").cast("decimal(38,0)") * col("sij")
        - col("si").cast("decimal(38,0)") * col("sj")).cast("double")
        / (dbl(col("n")) * dbl(col("n"))), 6).as("cov_q"))
      .orderBy(col("i"), col("j"))
  }

  /** Neighborhood-Jaccard link prediction on the mean-thresholded trade
    * graph: for every node pair sharing ≥1 common neighbor,
    * J = |N(u)∩N(v)| / (deg(u)+deg(v)−|∩|), flagged with whether the
    * pair is ALREADY an edge — the classic "who should trade next"
    * common-neighbors ranking. Common neighbors come from one
    * equi-join of the bidirectional adjacency on the shared neighbor;
    * J is a ratio of exact integers rounded at 6 dp; both engines
    * ORDER BY the ROUNDED score with the pair as tiebreak. Scale: the
    * adjacency is |nations|²-bounded at any corpus scale (the
    * graph_triangles argument); the corpus-scale work is the
    * distributed edge derivation.
    */
  val graphNodeJaccard: Q = Q(
    "graph_node_jaccard",
    """WITH de AS (
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
      |adj AS (SELECT a AS n, b AS nb FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
      |cn2 AS (
      |  SELECT a1.n AS u, a2.n AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM adj a1 JOIN adj a2 ON a1.nb = a2.nb AND a1.n < a2.n
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT u, v, c, du.dg AS dgu, dv.dg AS dgv,
      |         round(CAST(c AS DOUBLE)
      |               / CAST(du.dg + dv.dg - c AS DOUBLE), 6) AS jaccard,
      |         CASE WHEN ed.a IS NULL THEN false ELSE true END AS is_edge
      |  FROM cn2
      |  JOIN deg du ON cn2.u = du.n
      |  JOIN deg dv ON cn2.v = dv.n
      |  LEFT JOIN e ed ON ed.a = cn2.u AND ed.b = cn2.v)
      |SELECT u, v, c AS common, jaccard, is_edge
      |FROM j ORDER BY jaccard DESC, u ASC, v ASC LIMIT 25""".stripMargin
  ) { (s, d) =>
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
    // (r16 note: caching `e` here was tried and REVERTED — although the
    // tiny edge set is referenced 5× and the printed plan repeats the
    // 5-table derivation ~7×, ReuseExchange already collapses the
    // duplicate subtrees at runtime, so the cache only added a
    // materialization job: 2.61 s → 3.03 s median at sf0.1.)
    val e = pw.crossJoin(broadcast(tot))
      .filter(col("pwt") * col("np") > col("tw"))
      .select(col("a"), col("b"))
    val adj = e.select(col("a").as("n"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("n"), col("a").as("nb")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val cn2 = adj.select(col("n").as("u"), col("nb").as("x"))
      .join(adj.select(col("n").as("v"), col("nb").as("x")), "x")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
    cn2
      .join(deg.select(col("n").as("u"), col("dg").as("dgu")), "u")
      .join(deg.select(col("n").as("v"), col("dg").as("dgv")), "v")
      .join(e.select(col("a").as("u"), col("b").as("v"), lit(1).as("edge_tag")),
        Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("c").as("common"),
        round(dbl(col("c")) / dbl(col("dgu") + col("dgv") - col("c")), 6).as("jaccard"),
        col("edge_tag").isNotNull.as("is_edge"))
      .orderBy(col("jaccard").desc, col("u").asc, col("v").asc)
      .limit(25)
  }

  val all: Seq[Q] = Seq(quantileGrid, textHashFeatures, embeddingCov,
    graphNodeJaccard)
}
