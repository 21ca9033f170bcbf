package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-16 wave: two release-gate curation audits a training-data
  * pipeline runs before a corpus ships — a statistical watermark
  * detector (is this text LLM-generated?) and an l-diversity audit
  * (does any quasi-identifier group expose its members?).
  *
  * Exactness posture (house rules): row membership and group identity
  * are decided by integer/string comparisons; every float is ONE
  * token-mirrored formula over exact integer sufficient statistics,
  * rounded to 6 dp before any ORDER BY or threshold comparison. The
  * watermark hash is the md5-parity device (stats_permutation_test /
  * data_split_hash precedent) — deterministic across engines, runs and
  * partitionings, no seeded RNG.
  */
object CurateOps9 {

  /** Green-list watermark detection (Kirchenbauer et al. 2023, "A
    * Watermark for Large Language Models"): a watermarking generator
    * biases each sampled token toward a "green" half of the vocabulary
    * seeded by the previous token; the detector recomputes the green
    * set per position and z-tests the green fraction against the
    * γ = 1/2 null. Here the green decision for a (prev, cur) word pair
    * is the md5 parity of 'wm:prev|cur' — the same keyed-hash family a
    * real detector uses, reproducible across engines. Per document with
    * T ≥ 20 scored pairs: z = (2·g − T)/√T (the γ=1/2 simplification of
    * (g − γT)/√(Tγ(1−γ))); flagged at the paper's z ≥ 4 operating
    * point. Natural text scores z ≈ N(0,1), so the fixture exercises
    * the null path; a watermarked corpus would light up `flagged`.
    *
    * Scale: ONE guarded explode pass (pairs come from the split array
    * via transform(sequence(…)) — the text_bigram_logprob idiom, O(1)
    * element_at lookups, no per-position substring walk), map-side
    * combine into per-doc (T, g), TakeOrdered(25). The decision
    * compares the ROUNDED z (6 dp) against the literal threshold, so
    * both engines cut identically.
    */
  val textWatermarkDetect: Q = Q(
    "text_watermark_detect",
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sc AS (SELECT doc_id, w FROM tok WHERE len(w) >= 21),
      |pr AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(2, len(w)),
      |         i -> w[i-1] || '|' || w[i])) AS pair
      |  FROM sc),
      |g AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS t_scored,
      |         CAST(sum(CASE WHEN CAST(('0x' || substring(md5('wm:' || pair), 1, 8))
      |                            AS BIGINT) % 2 = 0
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_green
      |  FROM pr GROUP BY 1),
      |z AS (
      |  SELECT doc_id, t_scored, n_green,
      |         round((2.0 * n_green - t_scored)
      |               / sqrt(CAST(t_scored AS DOUBLE)), 6) AS z
      |  FROM g)
      |SELECT doc_id, t_scored, n_green, z, z >= 4.0 AS flagged
      |FROM z ORDER BY z DESC, doc_id ASC LIMIT 25""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard before the pair explode (r16;
    // Tables.spreadExplodeInput). NULL text → split NULL → size = −1 →
    // filtered, matching the oracle's NULL len(w) comparison.
    val toks = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 21)
    val pairs = toks.select(col("doc_id"),
      explode(expr(
        "transform(sequence(2, size(w)), i -> concat(element_at(w, i-1), '|', element_at(w, i)))"))
        .as("pair"))
    val g = pairs.groupBy(col("doc_id")).agg(
      count(lit(1)).as("t_scored"),
      sum(when(md5Uniform32(concat(lit("wm:"), col("pair"))) % 2 === 0, 1).otherwise(0))
        .cast("long").as("n_green"))
    g.select(col("doc_id"), col("t_scored"), col("n_green"),
        round((lit(2.0) * col("n_green") - col("t_scored"))
          / sqrt(col("t_scored").cast("double")), 6).as("z"))
      .withColumn("flagged", col("z") >= 4.0)
      .orderBy(col("z").desc, col("doc_id").asc)
      .limit(25)
  }

  /** l-diversity release audit (Machanavajjhala et al. 2007), l = 3:
    * k-anonymity (the k_anonymity row) only bounds GROUP SIZE — a group
    * of 50 events all belonging to one user still re-identifies that
    * user. Distinct l-diversity requires every quasi-identifier group
    * to contain ≥ l distinct values of the SENSITIVE attribute. QI here
    * is (event_type, hour) — the release granularity of a telemetry
    * export — and the sensitive attribute is user_id. Per event type:
    * group count, groups failing l < 3, events exposed in them, and the
    * worst group's diversity. The hour key is the epoch-hour integer
    * (ts_peak_composition idiom) so group identity is integer-exact
    * cross-engine; NULL ts lands in the NULL-hour group and NULL
    * user_id is excluded by count(DISTINCT) in both engines — a
    * group of only-NULL users reports l = 0 (fully exposed).
    *
    * Scale: count(DISTINCT) over (QI, user) is two partial-aggregable
    * hash aggregates (Spark expands distinct to a two-phase plan);
    * the report is |event_type| rows. No windows, no joins.
    */
  val privacyLDiversity: Q = Q(
    "privacy_l_diversity",
    """WITH qi AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS l
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(count(*) FILTER (WHERE l < 3) AS BIGINT) AS risky_groups,
      |       CAST(coalesce(sum(n) FILTER (WHERE l < 3), 0) AS BIGINT)
      |         AS events_at_risk,
      |       CAST(min(l) AS BIGINT) AS min_l
      |FROM qi GROUP BY 1
      |ORDER BY event_type NULLS FIRST""".stripMargin
  ) { (s, d) =>
    T.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("hx"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("l"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"),
        count(when(col("l") < 3, 1)).as("risky_groups"),
        coalesce(sum(when(col("l") < 3, col("n"))), lit(0L)).cast("long")
          .as("events_at_risk"),
        min(col("l")).cast("long").as("min_l"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(textWatermarkDetect, privacyLDiversity)
}
