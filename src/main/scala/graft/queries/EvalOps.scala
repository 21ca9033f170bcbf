package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import LlmOpsAnn.{HASH_AB, P}

/** Round-8 session-3 thirteenth wave: estimator-quality evaluation —
  * MinHash signature agreement CALIBRATED against exact Jaccard on
  * the LSH candidate set (how much can you trust the estimate the
  * banding is built on?), and peak-hour composition shift (what
  * actually drives the load peaks?).
  */
object EvalOps {

  /** MinHash estimator calibration: for every banded candidate pair
    * (dedup_minhash_lsh's exact candidate generator), count the
    * AGREEING minhash components k (the estimator: Ĵ = k/8) and
    * tabulate against the EXACT shingle Jaccard — the 9-row
    * calibration table that says how much the banding's own estimate
    * can be trusted. Per-k rows carry n_pairs and the average exact
    * Jaccard derived from an INTEGER micro-unit sum (each pair's
    * 6-dp-rounded Jaccard scaled ×10⁶ to a BIGINT before summing —
    * exact, order-independent: the bounded-float-sum trap never
    * opens even though candidates scale with collisions). Spec pins
    * monotonicity: average exact Jaccard rises with k.
    */
  val evalMinhashAccuracy: Q = Q(
    "eval_minhash_accuracy", {
      val mhCols = HASH_AB.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * h + $b) % $P) AS mh$i"
      }.mkString(", ")
      val bandArms = (0 until 4).map { j =>
        s"SELECT doc_id, $j AS band, mh${2 * j} AS k1, mh${2 * j + 1} AS k2 FROM m"
      }.mkString(" UNION ALL ")
      val agree = (0 until 8).map { i =>
        s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END"
      }.mkString(" + ")
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           generate_series(1, greatest(len(t) - 2, 0)),
         |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM tk
         |), codes AS (
         |  SELECT doc_id, CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % $P AS h FROM sh
         |), m AS (
         |  SELECT doc_id, $mhCols FROM codes GROUP BY doc_id
         |), bands AS ($bandArms
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id < y.doc_id
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT cand.a, cand.b,
         |         ($agree) AS k,
         |         CAST(round(round(CAST(coalesce(inter.i, 0) AS DOUBLE)
         |               / (sa.n + sb.n - coalesce(inter.i, 0)), 6) * 1000000)
         |              AS BIGINT) AS j_micro
         |  FROM cand
         |  JOIN m ma ON cand.a = ma.doc_id
         |  JOIN m mb ON cand.b = mb.doc_id
         |  LEFT JOIN inter ON cand.a = inter.a AND cand.b = inter.b
         |  JOIN sizes sa ON cand.a = sa.doc_id
         |  JOIN sizes sb ON cand.b = sb.doc_id)
         |SELECT CAST(k AS BIGINT) AS k_agree,
         |       round(CAST(k AS DOUBLE) / 8.0, 6) AS est_jaccard,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       round(CAST(sum(j_micro) AS DOUBLE)
         |             / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS avg_exact_jaccard
         |FROM scored GROUP BY k
         |ORDER BY k_agree""".stripMargin
    }
  ) { (s, d) =>
    // dedup_minhash_lsh's own frames: the eval measures the production
    // estimator, not a variant
    val (m, cand, sizes, inter) = LlmOpsAnn.minhashBands(s, d)
    val ma = m.toDF(m.columns.map(c => if (c == "doc_id") "ma_id" else s"a_$c"): _*)
    val mb = m.toDF(m.columns.map(c => if (c == "doc_id") "mb_id" else s"b_$c"): _*)
    val agree = (0 until 8).map { i =>
      when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0)
    }.reduce(_ + _)
    val i0 = coalesce(col("i"), lit(0L))
    val scored = cand
      .join(ma, col("a") === col("ma_id"))
      .join(mb, col("b") === col("mb_id"))
      .join(inter, col("a") === col("ia") && col("b") === col("ib"), "left")
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(agree.as("k"),
        round(round(i0.cast("double")
          / (col("sa.n") + col("sb.n") - i0), 6) * 1000000, 0)
          .cast("long").as("j_micro"))
    scored.groupBy(col("k").cast("long").as("k_agree"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("j_micro")).cast("long").as("jm"))
      .select(col("k_agree"),
        round(col("k_agree").cast("double") / 8.0, 6).as("est_jaccard"),
        col("n_pairs"),
        round(col("jm").cast("double")
          / (col("n_pairs").cast("double") * 1000000.0), 6).as("avg_exact_jaccard"))
      .orderBy(col("k_agree"))
  }

  /** Peak-hour composition shift: the top-5 load hours (count DESC,
    * hour ASC — a total order) vs the overall corpus, per event type:
    * share at peak, overall share, and the lift ratio — "what do the
    * spikes consist of?" is the first triage question after any load
    * alarm. All shares exact-integer ratios; output bounded at
    * 5·|types| rows.
    */
  val tsPeakComposition: Q = Q(
    "ts_peak_composition",
    """WITH hr AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
      |         event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |tot_h AS (
      |  SELECT hx, CAST(sum(n) AS BIGINT) AS nh FROM hr GROUP BY 1),
      |peaks AS (
      |  SELECT hx, nh FROM tot_h
      |  ORDER BY nh DESC, hx ASC LIMIT 5),
      |overall AS (
      |  SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM hr GROUP BY 1),
      |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS nn FROM overall)
      |SELECT CAST(p.hx * 3600000000 AS BIGINT) AS hour_us, hr.event_type,
      |       hr.n, p.nh AS hour_total,
      |       round(CAST(hr.n AS DOUBLE) / CAST(p.nh AS DOUBLE), 6) AS peak_share,
      |       round(CAST(o.nt AS DOUBLE) / CAST(tot.nn AS DOUBLE), 6) AS overall_share,
      |       round((CAST(hr.n AS DOUBLE) / CAST(p.nh AS DOUBLE))
      |             / (CAST(o.nt AS DOUBLE) / CAST(tot.nn AS DOUBLE)), 6) AS lift
      |FROM peaks p
      |JOIN hr ON p.hx = hr.hx
      |JOIN overall o ON hr.event_type = o.event_type
      |CROSS JOIN tot
      |ORDER BY hour_us, hr.event_type NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val hr = T.events(s, d)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("hx"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totH = hr.groupBy(col("hx")).agg(sum(col("n")).cast("long").as("nh"))
    val peaks = totH.orderBy(col("nh").desc, col("hx").asc).limit(5)
      .select(col("hx").as("phx"), col("nh"))
    val overall = hr.groupBy(col("event_type").as("ot"))
      .agg(sum(col("n")).cast("long").as("nt"))
    val tot = overall.agg(sum(col("nt")).cast("long").as("nn"))
    val peakShare = col("n").cast("double") / col("nh").cast("double")
    val overallShare = col("nt").cast("double") / col("nn").cast("double")
    peaks.join(hr, col("phx") === col("hx"))
      .join(broadcast(overall), col("event_type") === col("ot"))
      .crossJoin(broadcast(tot)) // 1-row corpus total
      .select((col("phx") * 3600000000L).cast("long").as("hour_us"),
        col("event_type"), col("n"), col("nh").as("hour_total"),
        round(peakShare, 6).as("peak_share"),
        round(overallShare, 6).as("overall_share"),
        round(peakShare / overallShare, 6).as("lift"))
      .orderBy(col("hour_us"), col("event_type").asc_nulls_first)
  }

  def all: Seq[Q] = Seq(evalMinhashAccuracy, tsPeakComposition)
}
