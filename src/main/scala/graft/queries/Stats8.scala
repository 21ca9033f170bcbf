package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-12 wave: multiple-testing correction — the missing capstone of
  * the hypothesis-test family (welch/anova/mann-whitney/chi2 each test
  * ONE hypothesis; a metrics pipeline fires one test PER SEGMENT and
  * must control the false-discovery rate across them).
  */
object Stats8 {

  /** Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    * over the five per-segment Welch z-tests "is this market segment's
    * mean order value different from the rest of the corpus?" at
    * q = 0.10. m is FIXED at 5 by the declared semantic (the five
    * classic TPC-H segments, an IN-list — a null/unknown segment is not
    * a hypothesis), so the BH boundary p(k) ≤ k·q/m is pre-inverted to
    * five LITERAL two-sided z thresholds z*(k) = Φ⁻¹(1 − k·0.01)
    * (2.326348, 2.053749, 1.880794, 1.750686, 1.644854) — no erf in
    * either engine, no p-value rounding tie: the decision |z| ≥ z* is a
    * comparison of a bit-identical double (one token-mirrored formula
    * over exact integer sufficient statistics) against a literal.
    * Step-up: k_max = max rank (by |z| desc) whose |z| clears its own
    * threshold; every rank ≤ k_max is rejected (including any that
    * individually missed — the step-up property that distinguishes BH
    * from Bonferroni).
    *
    * Exactness: per-segment (n, Σcents, Σcents²) are exact
    * DECIMAL(38,0) sums (cents² overflows BIGINT at sf1 — the welch
    * headroom argument); complements come from totals over the 5-row
    * aggregate (window frame on a CARDINALITY-5 table, allowlisted);
    * Welch z is one float formula over the exact integers, mirrored
    * token-for-token. Scale: one partial-aggregable pass over
    * customer⋈orders (dim-PK equi-join), then 5-row arithmetic.
    */
  val statsBhFdr: Q = Q(
    "stats_bh_fdr",
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')),
      |g AS (
      |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
      |         CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS s2
      |  FROM o GROUP BY 1),
      |w AS (
      |  SELECT seg, n, s, s2,
      |         CAST(sum(n) OVER () AS BIGINT) - n AS cn,
      |         CAST(sum(s) OVER () AS DECIMAL(38,0)) - s AS cs,
      |         CAST(sum(s2) OVER () AS DECIMAL(38,0)) - s2 AS cs2
      |  FROM g),
      |z AS (
      |  SELECT seg, n,
      |         (CAST(s AS DOUBLE) / n - CAST(cs AS DOUBLE) / cn)
      |         / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n
      |              + (CAST(cs2 AS DOUBLE) - CAST(cs AS DOUBLE) * cs / cn) / (cn - 1) / cn)
      |           AS zval
      |  FROM w),
      |rk AS (
      |  SELECT seg, n, zval,
      |         row_number() OVER (ORDER BY abs(zval) DESC, seg ASC) AS k
      |  FROM z),
      |th AS (
      |  SELECT rk.*, CASE k WHEN 1 THEN 2.326348 WHEN 2 THEN 2.053749
      |                      WHEN 3 THEN 1.880794 WHEN 4 THEN 1.750686
      |                      ELSE 1.644854 END AS z_star
      |  FROM rk),
      |dec AS (
      |  SELECT th.*,
      |         max(CASE WHEN abs(zval) >= z_star THEN k ELSE 0 END) OVER () AS k_max
      |  FROM th)
      |SELECT seg, n, round(zval, 6) AS z, k, z_star,
      |       k <= k_max AS rejected
      |FROM dec ORDER BY k""".stripMargin
  ) { (s, d) =>
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val o = T.customer(s, d)
      .filter(col("c_mktsegment").isin(segs: _*))
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      .join(T.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        col("c_custkey") === col("o_custkey"))
      .select(col("seg"), (T.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = o.groupBy(col("seg")).agg(
      count(lit(1)).as("n"),
      sum(d38(col("cents"))).cast("decimal(38,0)").as("s"),
      sum(d38(col("cents")) * col("cents")).cast("decimal(38,0)").as("s2"))
    // complements via totals over the CARDINALITY-5 segment table — the
    // unpartitioned frame runs on ≤5 rows by the IN-list semantic
    val wAll = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = g.select(col("seg"), col("n"), col("s"), col("s2"),
      (sum(col("n")).over(wAll).cast("long") - col("n")).as("cn"),
      (sum(col("s")).over(wAll).cast("decimal(38,0)") - col("s")).as("cs"),
      (sum(col("s2")).over(wAll).cast("decimal(38,0)") - col("s2")).as("cs2"))
    val dblS = col("s").cast("double"); val dblCs = col("cs").cast("double")
    val z = w.select(col("seg"), col("n"),
      ((dblS / col("n") - dblCs / col("cn"))
        / sqrt((col("s2").cast("double") - dblS * col("s") / col("n")) / (col("n") - 1) / col("n")
          + (col("cs2").cast("double") - dblCs * col("cs") / col("cn")) / (col("cn") - 1) / col("cn")))
        .as("zval"))
    val rk = z.withColumn("k",
      row_number().over(Window.orderBy(abs(col("zval")).desc, col("seg").asc)))
    val th = rk.withColumn("z_star",
      expr("""CASE k WHEN 1 THEN 2.326348 WHEN 2 THEN 2.053749
                     WHEN 3 THEN 1.880794 WHEN 4 THEN 1.750686
                     ELSE 1.644854 END"""))
    val dec = th.withColumn("k_max",
      max(when(abs(col("zval")) >= col("z_star"), col("k")).otherwise(lit(0))).over(wAll))
    dec.select(col("seg"), col("n"), round(col("zval"), 6).as("z"),
        col("k"), col("z_star"), (col("k") <= col("k_max")).as("rejected"))
      .orderBy(col("k"))
  }

  /** Two-sample randomization (permutation) test (Fisher 1935; Good
    * 2000): is the AUTOMOBILE segment's mean order value different from
    * BUILDING's, with the null distribution built by RELABELING rather
    * than a normality assumption — the distribution-free complement to
    * stats_welch_t. Replicate b ∈ 1..64 reassigns every order to a
    * pseudo-group by the parity of md5('perm:b:o_orderkey') — the
    * stats_bootstrap determinism idiom (no seeded RNG: reproducible
    * across engines, runs, partitionings); replicate 0 is the REAL
    * labeling, so observed and null statistics come out of ONE
    * aggregation pass. p = (1 + #{b ≥ 1 : |diff_b| ≥ |diff_obs|}) /
    * (R + 1), the add-one estimator of Phipson & Smyth 2010 (never
    * exactly zero, unbiased under the null).
    *
    * Exactness: per-(replicate, pseudo-group) sums are exact BIGINT
    * cents (< 2⁶³ by corpus size, < 2⁵³ as doubles through sf10);
    * diff_b = CAST(sa)/na − CAST(sb)/nb is one token-mirrored float
    * formula, so the ≥ decision compares bit-identical doubles; the
    * p-value is an exact rational (1+k)/65. Null rows propagate
    * identically (null o_orderkey → null parity → row in neither
    * pseudo-group; null cents skipped by sum in both engines).
    *
    * Scale: ONE explode ×65 over the two segments' orders (linear,
    * constant R — R is the precision knob and the cost knob), map-side
    * partial aggregation into 65 groups; the observed statistic is
    * attached to the replicates with a window over the 65-ROW replicate
    * aggregate (allowlisted + measured-bound, the stats_bh_fdr idiom),
    * NOT a self-join — the naive obs-cross formulation re-ran the whole
    * explode pipeline twice.
    */
  val statsPermutationTest: Q = Q(
    "stats_permutation_test",
    """WITH o AS (
      |  SELECT o_orderkey,
      |         c_mktsegment = 'AUTOMOBILE' AS is_a,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING')),
      |lab AS (
      |  SELECT b.range AS b, cents,
      |         CASE WHEN b.range = 0 THEN is_a
      |              ELSE CAST(('0x' || substring(md5('perm:' || CAST(b.range AS VARCHAR)
      |                     || ':' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |         END AS pa
      |  FROM o CROSS JOIN range(0, 65) b),
      |g AS (
      |  SELECT b,
      |         CAST(sum(cents) FILTER (WHERE pa) AS BIGINT) AS sa,
      |         CAST(count(*) FILTER (WHERE pa) AS BIGINT) AS na,
      |         CAST(sum(cents) FILTER (WHERE NOT pa) AS BIGINT) AS sb,
      |         CAST(count(*) FILTER (WHERE NOT pa) AS BIGINT) AS nb
      |  FROM lab GROUP BY 1),
      |d AS (
      |  SELECT b, na, nb,
      |         CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS diff
      |  FROM g),
      |x AS (
      |  SELECT b, diff,
      |         max(CASE WHEN b = 0 THEN diff END) OVER () AS diff0,
      |         max(CASE WHEN b = 0 THEN na END) OVER () AS n_a,
      |         max(CASE WHEN b = 0 THEN nb END) OVER () AS n_b
      |  FROM d)
      |SELECT n_a, n_b,
      |       round(diff0 / 100.0, 6) AS diff_obs,
      |       CAST(count(*) AS BIGINT) AS r_used,
      |       round((1.0 + CAST(sum(CASE WHEN abs(diff) >= abs(diff0)
      |                                  THEN 1 ELSE 0 END) AS DOUBLE))
      |             / (count(*) + 1.0), 6) AS p_value
      |FROM x WHERE b > 0
      |GROUP BY n_a, n_b, diff0""".stripMargin
  ) { (s, d) =>
    val o = T.customer(s, d)
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select(col("c_custkey"), (col("c_mktsegment") === "AUTOMOBILE").as("is_a"))
      .join(T.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        col("c_custkey") === col("o_custkey"))
      .select(col("o_orderkey"), col("is_a"),
        (T.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    // spread the ×65 generator's work BEFORE it inflates (27 s at sf1
    // on one task; 3.4 s guarded). Shared helper — pathology at
    // Tables.spreadExplodeInput; a many-file orders layout skips it.
    val oSpread = T.spreadExplodeInput(s, o)
    val lab = oSpread
      .select(col("o_orderkey"), col("is_a"), col("cents"),
        explode(expr("sequence(0L, 64L)")).as("b"))
      .select(col("b"), col("cents"),
        when(col("b") === 0, col("is_a")).otherwise(
          md5Uniform32(concat(lit("perm:"), col("b").cast("string"), lit(":"),
            col("o_orderkey").cast("string"))) % 2 === 0)
          .as("pa"))
    val g = lab.groupBy(col("b")).agg(
      sum(when(col("pa"), col("cents"))).cast("long").as("sa"),
      count(when(col("pa"), lit(1))).as("na"),
      sum(when(!col("pa"), col("cents"))).cast("long").as("sb"),
      count(when(!col("pa"), lit(1))).as("nb"))
    val dd = g.select(col("b"), col("na"), col("nb"),
      (col("sa").cast("double") / col("na") - col("sb").cast("double") / col("nb")).as("diff"))
    // observed row attached via a window over the 65-ROW replicate
    // aggregate — allowlisted with a measured bound in PlanQualitySpec
    val wAll = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val x = dd.select(col("b"), col("diff"),
      max(when(col("b") === 0, col("diff"))).over(wAll).as("diff0"),
      max(when(col("b") === 0, col("na"))).over(wAll).as("n_a"),
      max(when(col("b") === 0, col("nb"))).over(wAll).as("n_b"))
    x.filter(col("b") > 0)
      .groupBy(col("n_a"), col("n_b"), col("diff0"))
      .agg(count(lit(1)).as("r_used"),
        sum(when(abs(col("diff")) >= abs(col("diff0")), lit(1)).otherwise(lit(0))).as("hits"))
      .select(col("n_a"), col("n_b"),
        round(col("diff0") / 100.0, 6).as("diff_obs"),
        col("r_used"),
        round((lit(1.0) + col("hits").cast("double")) / (col("r_used") + lit(1.0)), 6)
          .as("p_value"))
  }

  val all: Seq[Q] = Seq(statsBhFdr, statsPermutationTest)
}
