package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}

/** Round-10 wave: the two published LLM-curation dedup algorithms the
  * family still lacked.
  *
  *  - `dedup_substring`: Lee et al. 2021 ("Deduplicating Training Data
  *    Makes Language Models Better") ExactSubstr semantics — find exact
  *    token windows shared across documents and report, per document,
  *    the fraction of token positions covered by any cross-document
  *    duplicated window. The suffix-array of the paper is a single-node
  *    structure; the distributed re-expression is overlapping fixed-
  *    length window keys + df + per-doc interval union, all linear.
  *  - `dedup_semdedup`: Abbas et al. 2023 ("SemDeDup: Data-efficient
  *    learning at web-scale through semantic deduplication") — k-means
  *    cluster the embeddings, then within each cluster mark any vector
  *    whose cosine to a lower-id member exceeds a threshold as a
  *    semantic duplicate.
  */
object CurateOps7 {

  /** Cross-document exact-substring coverage (ExactSubstr, distributed):
    * every L=13-word window (stride 1, lowercased) is keyed by a 64-bit
    * md5 prefix; a window occurring in >= 2 DISTINCT docs is duplicated;
    * a doc's removable span is the INTERVAL UNION of its duplicated
    * windows (the gaps-and-islands running-max device, as in
    * gaps_islands). Distinct from dedup_paragraph: that row uses
    * non-overlapping W=8 segments (line-dedup semantics); this one uses
    * stride-1 overlapping windows and position coverage — the metric the
    * paper's ExactSubstr pass removes.
    *
    * Scale shape: explode emits n_words rows per doc (not n_words · L —
    * the window string is built inside the projection); df is one
    * key-hashed aggregate; hits come back via one equi-join on the
    * 16-hex key (narrow shuffle key by construction — never the 13-word
    * string); the interval union is a per-doc sort window over only the
    * HIT rows (duplicated positions, a small fraction of the corpus).
    * Everything is linear; no self-join anywhere. The md5-prefix key
    * folds distinct windows together with probability ~2^-64 —
    * identically in both engines, so the compare is still exact.
    */
  val dedupSubstring: Q = Q(
    "dedup_substring",
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |w AS (
      |  SELECT doc_id, unnest(generate_series(1, len(t) - 12, 1)) AS s, t
      |  FROM tok WHERE len(t) >= 13),
      |k AS (
      |  SELECT doc_id, s,
      |         substring(md5(array_to_string(list_slice(t, s, s + 12), ' ')), 1, 16) AS wkey
      |  FROM w),
      |dup AS (
      |  SELECT wkey FROM k GROUP BY wkey HAVING count(DISTINCT doc_id) >= 2),
      |hit AS (
      |  SELECT k.doc_id, k.s, k.s + 12 AS e
      |  FROM k JOIN dup USING (wkey)),
      |isl AS (
      |  SELECT doc_id, s, e,
      |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |              THEN 1 ELSE 0 END AS new_isl
      |  FROM hit),
      |grp AS (
      |  SELECT doc_id, s, e,
      |         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
      |  FROM isl),
      |cov AS (
      |  SELECT doc_id,
      |         CAST(sum(nw) AS BIGINT) AS n_dup_windows,
      |         CAST(sum(ilen) AS BIGINT) AS covered_words
      |  FROM (SELECT doc_id, isl_id, max(e) - min(s) + 1 AS ilen, count(*) AS nw
      |        FROM grp GROUP BY doc_id, isl_id)
      |  GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_words,
      |       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
      |       coalesce(c.covered_words, 0) AS covered_words,
      |       round(coalesce(c.covered_words, 0) / CAST(len(t.t) AS DOUBLE), 6) AS covered_frac
      |FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id
      |WHERE len(t.t) >= 13
      |ORDER BY t.doc_id NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard BEFORE the stride-1 window explode (r16;
    // pathology at Tables.spreadExplodeInput)
    val tok = T.spreadExplodeInput(s, T.documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 13)
    val k = tok
      .select(col("doc_id"), explode(sequence(lit(1), size(col("t")) - 12)).as("s"), col("t"))
      .select(col("doc_id"), col("s"),
        substring(md5(array_join(slice(col("t"), col("s"), lit(13)), " ")), 1, 16).as("wkey"))
    val dup = k.groupBy(col("wkey"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wkey"))
    val hit = k.join(dup, "wkey")
      .select(col("doc_id"), col("s"), (col("s") + 12).as("e"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = hit
      .withColumn("new_isl",
        when(col("s") > coalesce(max(col("e")).over(wPrev), lit(-1L)), 1).otherwise(0))
      .withColumn("isl_id", sum(col("new_isl")).over(wRun))
    val cov = grp
      .groupBy(col("doc_id"), col("isl_id"))
      .agg((max(col("e")) - min(col("s")) + 1).as("ilen"), count(lit(1)).as("nw"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nw")).cast("long").as("n_dup_windows"),
        sum(col("ilen")).cast("long").as("covered_words"))
    tok.select(col("doc_id"), size(col("t")).cast("long").as("n_words"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_words"), lit(0L)).as("covered_words"),
        round(coalesce(col("covered_words"), lit(0L)).cast("double") / col("n_words"), 6)
          .as("covered_frac"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  /** SemDeDup: cluster embeddings with the IVF seed-centroid assignment
    * (k = min(⌈√n⌉, 256), the ann_ivf_* codebook discipline), then
    * within each cluster mark any vector with cosine >= 0.9 to a
    * lower-id member as a semantic duplicate; report per-cluster
    * membership, duplicate-pair, and removal counts. The corpus is
    * augmented with planted near-dups (last 2 of 64 dims zeroed — the
    * dedup_embedding device), so removals are demonstrably the planted
    * copies; the ones that survive are pairs whose halves were routed to
    * DIFFERENT clusters — the cross-cluster recall loss §4 of the paper
    * accepts by design.
    *
    * Scale posture: assignment is the shuffle-free argmax
    * (argmaxAssign — one projection over the collected centroids); the within-cluster
    * self-join is the algorithm as published, cost Σ|cluster|² — with
    * the √n codebook that is n^1.5, and past the k=256 cap it degrades
    * toward n²/k. SemDeDup is inherently within-cluster quadratic; the
    * linear-scale alternative in this library is dedup_embedding
    * (sign-LSH banding), and at 100 TB the production mitigation is a
    * per-cluster size cap with re-clustering of oversize clusters. Both
    * engines share the fold-exact cosine, so the 0.9 threshold and the
    * (cos DESC, cent_id ASC) assignment tie-break compare bit-for-bit.
    */
  val dedupSemdedup: Q = Q(
    "dedup_semdedup", {
      def cos(a: String, b: String) =
        s"""(list_reduce(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)
           |  / (sqrt(list_reduce(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
           |   * sqrt(list_reduce(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))))""".stripMargin
      s"""WITH emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
         |aug AS (
         |  SELECT vec_id, embedding FROM emb
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |         list_concat(embedding[1:62], [CAST(0 AS FLOAT), CAST(0 AS FLOAT)])
         |  FROM emb),
         |cent AS (
         |  SELECT vec_id AS cent_id, embedding AS c_emb FROM aug
         |  WHERE vec_id < (SELECT CAST(least(ceil(sqrt(count(*))), 256) AS BIGINT) FROM aug)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.cent_id ASC) AS rn
         |    FROM aug v CROSS JOIN cent c
         |  ) WHERE rn = 1),
         |m AS (
         |  SELECT a.cent_id, e.vec_id, e.embedding
         |  FROM aug e JOIN assign a ON e.vec_id = a.vec_id),
         |pairs AS (
         |  SELECT x.cent_id, x.vec_id AS keep_id, y.vec_id AS drop_id
         |  FROM m x JOIN m y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
         |  WHERE ${cos("x.embedding", "y.embedding")} >= 0.9),
         |stats AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY 1),
         |ps AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_dup_pairs,
         |         CAST(count(DISTINCT drop_id) AS BIGINT) AS n_removed
         |  FROM pairs GROUP BY 1)
         |SELECT s.cent_id, s.n_members,
         |       coalesce(ps.n_dup_pairs, 0) AS n_dup_pairs,
         |       coalesce(ps.n_removed, 0) AS n_removed
         |FROM stats s LEFT JOIN ps ON s.cent_id = ps.cent_id
         |ORDER BY s.cent_id NULLS FIRST""".stripMargin
    }
  ) { (s, d) =>
    // null vectors are unindexable — excluded symmetrically (emb CTE)
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val planted = e.select(
      (col("vec_id") + 100000L).as("vec_id"),
      concat(slice(col("embedding"), 1, 62), array(lit(0f), lit(0f))).as("embedding"))
    val aug = e.unionByName(planted)
    val kRow = aug.agg(least(ceil(sqrt(count(lit(1)))), lit(256)).cast("long").as("k"))
    val cent = aug.crossJoin(broadcast(kRow)).filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val m = LlmOpsAnn.argmaxAssign(aug, cent)
      .select(col("cent_id"), col("vec_id"), col("embedding"))
    val cosPair = LlmOpsAnn.cosCol("x.embedding", "y.embedding")
    val pairs = m.as("x").join(m.as("y"),
        col("x.cent_id") === col("y.cent_id") && col("x.vec_id") < col("y.vec_id"))
      .filter(cosPair >= 0.9)
      .select(col("x.cent_id").as("cent_id"), col("x.vec_id").as("keep_id"),
        col("y.vec_id").as("drop_id"))
    val stats = m.groupBy(col("cent_id")).agg(count(lit(1)).cast("long").as("n_members"))
    val ps = pairs.groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_dup_pairs"),
        countDistinct(col("drop_id")).cast("long").as("n_removed"))
    stats.join(ps, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy(col("cent_id").asc_nulls_first)
  }

  /** SemDeDup with the production per-cluster size cap — the scale
    * mitigation [[dedupSemdedup]]'s scaladoc names, as code (VERDICT
    * r10 item 6). Same routing (√n∧256 argmaxAssign) and the same
    * cosine ≥ 0.9 pair rule, but each cluster is split into
    * ⌈|c|/M⌉ SUB-BUCKETS of at most M = 32 members and the pair scan
    * runs only within a (cluster, bucket) cell. Bucketing is
    * deterministic: members rank within their cluster by
    * (cos-to-centroid DESC, vec_id ASC) — both engines share the
    * fold-exact cosine, so ranks and buckets compare bit-for-bit —
    * and bucket = (rank−1) div M.
    *
    * Why rank by centroid affinity: near-duplicates have near-equal
    * cosine to their centroid, so they land in the same or adjacent
    * buckets; the recall loss is only pairs straddling a bucket
    * boundary (measured: the capped row recovers ≥ 90 % of the
    * uncapped row's removals on the declared corpus — SemDedupCapSpec
    * pins it), plus the cross-cluster loss the paper already accepts.
    *
    * Scale posture: each member pairs with < M others, so the scan is
    * ≤ n·(M−1)/2 rows — LINEAR in n for fixed M, vs the published
    * row's Σ|cluster|² (n^1.5 under the √n codebook, → n²/k past the
    * k = 256 cap). The rank window shuffles by cent_id once and the
    * pair join shuffles by (cent_id, bkt) — narrow keys, no skew (no
    * cell exceeds M rows BY CONSTRUCTION, so AQE has nothing to
    * repair). This is the 100 TB path; the uncapped row stays as the
    * published-exact oracle anchor.
    */
  val dedupSemdedupCapped: Q = Q(
    "dedup_semdedup_capped", {
      def cos(a: String, b: String) =
        s"""(list_reduce(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)
           |  / (sqrt(list_reduce(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
           |   * sqrt(list_reduce(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))))""".stripMargin
      s"""WITH emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
         |aug AS (
         |  SELECT vec_id, embedding FROM emb
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |         list_concat(embedding[1:62], [CAST(0 AS FLOAT), CAST(0 AS FLOAT)])
         |  FROM emb),
         |cent AS (
         |  SELECT vec_id AS cent_id, embedding AS c_emb FROM aug
         |  WHERE vec_id < (SELECT CAST(least(ceil(sqrt(count(*))), 256) AS BIGINT) FROM aug)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.cent_id ASC) AS rn
         |    FROM aug v CROSS JOIN cent c
         |  ) WHERE rn = 1),
         |m AS (
         |  SELECT a.cent_id, e.vec_id, e.embedding,
         |         ${cos("e.embedding", "c.c_emb")} AS ccos
         |  FROM aug e JOIN assign a ON e.vec_id = a.vec_id
         |  JOIN cent c ON a.cent_id = c.cent_id),
         |mb AS (
         |  SELECT cent_id, vec_id, embedding,
         |         CAST((row_number() OVER (PARTITION BY cent_id
         |                ORDER BY ccos DESC, vec_id ASC) - 1) // 32 AS BIGINT) AS bkt
         |  FROM m),
         |pairs AS (
         |  SELECT x.cent_id, x.vec_id AS keep_id, y.vec_id AS drop_id
         |  FROM mb x JOIN mb y
         |    ON x.cent_id = y.cent_id AND x.bkt = y.bkt AND x.vec_id < y.vec_id
         |  WHERE ${cos("x.embedding", "y.embedding")} >= 0.9),
         |stats AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(count(DISTINCT bkt) AS BIGINT) AS n_buckets
         |  FROM mb GROUP BY 1),
         |ps AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_dup_pairs,
         |         CAST(count(DISTINCT drop_id) AS BIGINT) AS n_removed
         |  FROM pairs GROUP BY 1)
         |SELECT s.cent_id, s.n_members, s.n_buckets,
         |       coalesce(ps.n_dup_pairs, 0) AS n_dup_pairs,
         |       coalesce(ps.n_removed, 0) AS n_removed
         |FROM stats s LEFT JOIN ps ON s.cent_id = ps.cent_id
         |ORDER BY s.cent_id NULLS FIRST""".stripMargin
    }
  ) { (s, d) =>
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val planted = e.select(
      (col("vec_id") + 100000L).as("vec_id"),
      concat(slice(col("embedding"), 1, 62), array(lit(0f), lit(0f))).as("embedding"))
    val aug = e.unionByName(planted)
    val kRow = aug.agg(least(ceil(sqrt(count(lit(1)))), lit(256)).cast("long").as("k"))
    val cent = aug.crossJoin(broadcast(kRow)).filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    // centroid re-attach is a broadcast (k ≤ 256 rows); ccos orders the
    // deterministic sub-bucketing
    val m = LlmOpsAnn.argmaxAssign(aug, cent)
      .join(broadcast(cent), "cent_id")
      .select(col("cent_id"), col("vec_id"), col("embedding"),
        LlmOpsAnn.cosCol("embedding", "c_emb").as("ccos"))
    val wRank = Window.partitionBy(col("cent_id"))
      .orderBy(col("ccos").desc, col("vec_id").asc)
    val mb = m
      .withColumn("bkt", ((row_number().over(wRank) - 1) / 32).cast("long"))
      .select(col("cent_id"), col("vec_id"), col("embedding"), col("bkt"))
    val cosPair = LlmOpsAnn.cosCol("x.embedding", "y.embedding")
    val pairs = mb.as("x").join(mb.as("y"),
        col("x.cent_id") === col("y.cent_id") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(cosPair >= 0.9)
      .select(col("x.cent_id").as("cent_id"), col("x.vec_id").as("keep_id"),
        col("y.vec_id").as("drop_id"))
    val stats = mb.groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        countDistinct(col("bkt")).cast("long").as("n_buckets"))
    val ps = pairs.groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_dup_pairs"),
        countDistinct(col("drop_id")).cast("long").as("n_removed"))
    stats.join(ps, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_members"), col("n_buckets"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy(col("cent_id").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(dedupSubstring, dedupSemdedup, dedupSemdedupCapped)
}
