package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-8 session-3 tenth wave: group-aware dataset splitting (the
  * leakage guard row-level splits can't give) and NDCG ranking
  * agreement (the graded list-comparison metric beside
  * eval_langid_kappa's classification κ).
  */
object CurateOps5 {

  private def dbl(c: Column): Column = c.cast("double")

  /** GROUP-AWARE train/val/test split: every event of a user lands in
    * the SAME split (md5 of the USER id, not the row), with an
    * in-query leakage audit — the count of users appearing in more
    * than one split MUST be zero by construction, and the row carries
    * it as proof. Row-level splits (data_split_hash) leak entity
    * signal across splits; grouped splits are how eval sets stay
    * honest when rows cluster by user/document/session. Deterministic
    * across engines, runs, and partitionings (md5 device). Scale:
    * map-only assignment + two bounded aggregates.
    */
  val dataSplitGrouped: Q = Q(
    "data_split_grouped",
    """WITH assigned AS (
      |  SELECT user_id, event_id,
      |         CASE
      |           WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |                     AS BIGINT) % 10 < 8 THEN 'train'
      |           WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |                     AS BIGINT) % 10 < 9 THEN 'val'
      |           ELSE 'test' END AS split
      |  FROM events),
      |leak AS (
      |  SELECT CAST(count(*) AS BIGINT) AS leaked_users FROM (
      |    SELECT user_id FROM assigned GROUP BY user_id
      |    HAVING count(DISTINCT split) > 1)),
      |per AS (
      |  SELECT split, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |  FROM assigned GROUP BY split)
      |SELECT split, n_events, n_users, leaked_users
      |FROM per CROSS JOIN leak
      |ORDER BY split NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val bucket = md5Uniform32(col("user_id").cast("string")) % 10
    val assigned = T.events(s, d).select(col("user_id"), col("event_id"),
      when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test").as("split"))
    val leak = assigned.groupBy(col("user_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).cast("long").as("leaked_users"))
    val per = assigned.groupBy(col("split"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("user_id")).cast("long").as("n_users"))
    per.crossJoin(broadcast(leak)) // 1-row leakage audit cross
      .select(col("split"), col("n_events"), col("n_users"), col("leaked_users"))
      .orderBy(col("split").asc_nulls_first)
  }

  /** NDCG@10 ranking agreement: treat the suppliers' ALL-TIME revenue
    * ranking as truth (graded relevance = 11 − rank for the top 10,
    * 0 below) and score the RECENT (2000+) revenue ranking against it —
    * "how much did the leaderboard shift?" as a graded metric, where
    * rank correlations treat all displacements equally. DCG =
    * Σ rel/log₂(pos+1) over the system's top 10; IDCG from the ideal
    * ordering; NDCG = DCG/IDCG. Revenues are exact DECIMAL cents sums,
    * both rankings total orders (revenue DESC, suppkey ASC); the only
    * floats are the ≤10-term log₂ sums (bounded, 6-dp headroom).
    * Output: one row with DCG/IDCG/NDCG + overlap count of the two
    * top-10 sets.
    */
  val evalNdcgRankshift: Q = Q(
    "eval_ndcg_rankshift",
    """WITH rev AS (
      |  SELECT l_suppkey AS sk,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS all_cents,
      |         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
      |                  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS yr_cents
      |  FROM lineitem GROUP BY 1),
      |truth AS (
      |  SELECT sk, row_number() OVER (ORDER BY all_cents DESC, sk ASC) AS t_rank
      |  FROM rev),
      |rel AS (
      |  SELECT sk, CASE WHEN t_rank <= 10 THEN 11 - t_rank ELSE 0 END AS rel
      |  FROM truth),
      |sys AS (
      |  SELECT sk, row_number() OVER (ORDER BY yr_cents DESC, sk ASC) AS s_rank
      |  FROM rev),
      |dcg AS (
      |  SELECT sum(CAST(rel.rel AS DOUBLE) / log2(CAST(s_rank + 1 AS DOUBLE))) AS dcg,
      |         sum(CASE WHEN rel.rel > 0 THEN 1 ELSE 0 END) AS overlap
      |  FROM sys JOIN rel ON sys.sk = rel.sk
      |  WHERE s_rank <= 10),
      |idcg AS (
      |  SELECT sum(CAST(11 - r AS DOUBLE) / log2(CAST(r + 1 AS DOUBLE))) AS idcg
      |  FROM (SELECT CAST(range AS BIGINT) AS r FROM range(1, 11)))
      |SELECT round(dcg.dcg, 6) AS dcg, round(idcg.idcg, 6) AS idcg,
      |       round(dcg.dcg / idcg.idcg, 6) AS ndcg,
      |       CAST(dcg.overlap AS BIGINT) AS top10_overlap
      |FROM dcg CROSS JOIN idcg""".stripMargin
  ) { (s, d) =>
    val cents = (T.dec2(col("l_extendedprice")) * 100).cast("long")
    val rev = T.lineitem(s, d)
      .select(col("l_suppkey").as("sk"), cents.as("c"),
        when(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"), cents)
          .otherwise(0L).as("yc"))
      .groupBy(col("sk"))
      .agg(sum(col("c")).cast("long").as("all_cents"),
        sum(col("yc")).cast("long").as("yr_cents"))
    import org.apache.spark.sql.expressions.Window
    // r12: both rankings only CONSUME their top-10 (rel is 0 past rank
    // 10; dcg filters s_rank <= 10), so rank after a TakeOrdered(10) —
    // per-partition heads + one 10-row merge — instead of a global
    // row_number over the supplier-proportional aggregate (the former
    // unpartitioned window single-partition-sorted |suppliers| rows at
    // scale). The (cents DESC, sk ASC) order is total, so top-10 +
    // in-frame row_number is value-identical to the global rank.
    val truth10 = rev.orderBy(col("all_cents").desc, col("sk").asc).limit(10)
      .withColumn("t_rank",
        row_number().over(Window.orderBy(col("all_cents").desc, col("sk").asc)))
      .select(col("sk"), (lit(11) - col("t_rank")).as("rel"))
    val sys10 = rev.orderBy(col("yr_cents").desc, col("sk").asc).limit(10)
      .withColumn("s_rank",
        row_number().over(Window.orderBy(col("yr_cents").desc, col("sk").asc)))
      .select(col("sk"), col("s_rank"))
    val dcg = sys10.join(broadcast(truth10), Seq("sk"), "left")
      .agg(sum(dbl(coalesce(col("rel"), lit(0))) / log2(dbl(col("s_rank") + 1))).as("dcg"),
        sum(when(coalesce(col("rel"), lit(0)) > 0, 1).otherwise(0)).cast("long").as("overlap"))
    val idcg = s.range(1, 11)
      .agg(sum(dbl(lit(11) - col("id")) / log2(dbl(col("id") + 1))).as("idcg"))
    dcg.crossJoin(broadcast(idcg)) // 1-row × 1-row
      .select(round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"),
        col("overlap").as("top10_overlap"))
  }

  def all: Seq[Q] = Seq(dataSplitGrouped, evalNdcgRankshift)
}
