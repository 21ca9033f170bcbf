package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}

/** IVF + PQ composed — the canonical billion-vector ANN layout (FAISS
  * IVFPQ): a coarse quantizer routes every vector to its nearest of
  * k = min(⌈√n⌉, 256) centroids, the RESIDUAL x − c is product-
  * quantized (m=8 contiguous 8-dim subspaces, 16 codewords each), and
  * search probes the nprobe=8 nearest buckets, scoring candidates from
  * an 8-byte code + a per-(query, bucket) asymmetric-distance lookup
  * table instead of the raw vectors.
  *
  * Composition of the repo's two existing conventions: centroids and
  * codebooks are the DETERMINISTIC anchors (coarse = vec_id < k as in
  * ann_ivf_nprobe; codewords = the residual subvectors of the first 16
  * NON-centroid vectors, vec_id in [k, k+16) — a centroid's own
  * residual is the zero vector, so drawing codewords below k would
  * collapse ADC to a per-bucket constant), so both engines state
  * identical structures with no training RNG. Residuals are double subtractions (exact in both
  * engines); subspace L2 uses the codegen DoubleVecL2Sq kernel (same
  * left-to-right fold as DuckDB's list_sum); encode argmin is the
  * sort-free two-pass HashAggregate (the struct-buffer SortAggregate
  * trap, round 9); ranking orders by the ROUNDED ADC distance with a
  * vec_id tie-break (round(…,6) absorbs grouped-sum ulps — the
  * ann_pq_adc device).
  *
  * Scale posture — why this is the 100 TB shape: the index build is
  * O(n·k) coarse assignment + O(n·m·16) encode, all behind broadcast
  * joins with only n-row frames ever shuffling; the per-query search
  * touches nprobe/k of the corpus and m·16 LUT cells per probed
  * bucket, reading 8 CODE bytes per candidate instead of 256 raw —
  * memory traffic, not flops, is what PQ buys at a billion vectors.
  */
object AnnIvfPq {

  private val M = 8       // subspaces
  private val SUB = 8     // dims per subspace
  private val K = 16      // codewords per subspace
  private val NPROBE = 8  // probed buckets per query

  /** Shared DuckDB CTE prefix — everything through the per-candidate
    * ADC sums (`adc(query_id, vec_id, adist)`), consumed by both the
    * direct top-5 row and the exact re-rank row.
    */
  private def oraclePrefix: String = {
      val cosAssign = LlmOpsAnn.duckCos("v.embedding", "c.embedding")
      def sub(col: String) =
        s"list_transform(list_zip($col, c.embedding), s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
      def l2(a: String, b: String) =
        s"list_sum(list_transform(generate_series(1, $SUB), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      s"""WITH emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
         |), cent AS (
         |  SELECT vec_id AS cent_id, embedding FROM emb
         |  WHERE vec_id < (SELECT CAST(least(ceil(sqrt(count(*))), 256) AS BIGINT) FROM emb)
         |), assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent c
         |  ) WHERE rn = 1
         |), rv AS (
         |  SELECT e.vec_id, a.cent_id, ${sub("e.embedding")} AS rv
         |  FROM emb e JOIN assign a ON e.vec_id = a.vec_id
         |  JOIN cent c ON a.cent_id = c.cent_id
         |), subs AS (
         |  SELECT vec_id, cent_id, mi AS ms, rv[(mi*$SUB+1):(mi*$SUB+$SUB)] AS sv
         |  FROM rv CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS mi)
         |), kk AS (
         |  SELECT CAST(least(ceil(sqrt(count(*))), 256) AS BIGINT) AS k FROM emb
         |), codebook AS (
         |  -- anchors must be NON-centroid vectors: a centroid's residual
         |  -- is the zero vector (it assigns to itself), and 16 zero
         |  -- codewords collapse ADC to a per-bucket constant
         |  SELECT vec_id - kk.k AS j, ms AS cms, sv AS cv FROM subs, kk
         |  WHERE vec_id >= kk.k AND vec_id < kk.k + $K
         |), enc AS (
         |  SELECT vec_id, cent_id, ms, j AS code FROM (
         |    SELECT s.vec_id, s.cent_id, s.ms, c.j,
         |           row_number() OVER (PARTITION BY s.vec_id, s.ms
         |             ORDER BY ${l2("s.sv", "c.cv")} ASC, c.j ASC) AS rn
         |    FROM subs s JOIN codebook c ON s.ms = c.cms) WHERE rn = 1
         |), probe AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent c
         |    WHERE v.vec_id IN (200, 300, 400)
         |  ) WHERE rn <= $NPROBE
         |), qrv AS (
         |  SELECT p.vec_id AS query_id, p.cent_id AS p_cent, ${sub("e.embedding")} AS rv
         |  FROM probe p JOIN emb e ON p.vec_id = e.vec_id
         |  JOIN cent c ON p.cent_id = c.cent_id
         |), qsubs AS (
         |  SELECT query_id, p_cent, mi AS qms, rv[(mi*$SUB+1):(mi*$SUB+$SUB)] AS sv
         |  FROM qrv CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS mi)
         |), lut AS (
         |  SELECT q.query_id, q.p_cent, q.qms, c.j, ${l2("q.sv", "c.cv")} AS d
         |  FROM qsubs q JOIN codebook c ON q.qms = c.cms
         |), adc AS (
         |  SELECT l.query_id, e.vec_id, sum(l.d) AS adist
         |  FROM enc e JOIN lut l
         |    ON e.cent_id = l.p_cent AND e.ms = l.qms AND e.code = l.j
         |  GROUP BY 1, 2)""".stripMargin
  }

  val annIvfPq: Q = Q(
    "ann_ivf_pq",
    s"""$oraclePrefix
       |SELECT query_id, neighbor_id, adist, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, round(adist, 6) AS adist,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(adist, 6) ASC, vec_id ASC) AS rank
       |  FROM adc WHERE vec_id <> query_id) t
       |WHERE rank <= 5
       |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin
  ) { (s, d) =>
    adcFrame(s, d)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("adist0"), 6).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adist").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id").asc_nulls_first, col("rank").asc_nulls_first)
  }

  /** Spark side of the shared pipeline: per-candidate ADC sums for the
    * probed buckets — (query_id, vec_id, adist0), self-pairs excluded.
    */
  private def adcFrame(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // null vectors are unindexable — excluded symmetrically (emb CTE)
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val kRow = e.agg(least(ceil(sqrt(count(lit(1)))), lit(256)).cast("long").as("k"))
    val cent = e.crossJoin(broadcast(kRow)).filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val resid = expr(
      "zip_with(embedding, c_emb, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")
    val subExplode = explode(expr(
      s"""transform(sequence(0, ${M - 1}), mi -> struct(mi AS ms,
         |  slice(rv, mi*$SUB + 1, $SUB) AS sv))""".stripMargin)).as("st")
    // (r16 note: caching `subs` here was tried and REVERTED — the
    // InMemoryRelation materialization of the 8-rows/vector subvector
    // frame cost more than the recomputed lineage it saved at every
    // tested size; the win that stuck is dropping enc's assign re-join
    // below.)
    // few-file straggler guard (Tables.spreadExplodeInput) on the
    // assignment input: the assignment adds no shuffle of its own, so
    // the ×M subvector explode would otherwise run in the scan's splits
    val subs = LlmOpsAnn.argmaxAssign(T.spreadExplodeInput(s, e), cent)
      .join(broadcast(cent), "cent_id")
      .withColumn("rv", resid)
      .select(col("vec_id"), col("cent_id"), subExplode)
      .select(col("vec_id"), col("cent_id"), col("st.ms").as("ms"), col("st.sv").as("sv"))
    // anchors must be NON-centroid vectors (vec_id in [k, k+16)): a
    // centroid's residual is the zero vector (it assigns to itself),
    // and 16 zero codewords collapse ADC to a per-bucket constant
    val codebook = subs.crossJoin(broadcast(kRow))
      .filter(col("vec_id") >= col("k") && col("vec_id") < col("k") + K)
      .select((col("vec_id") - col("k")).as("j"), col("ms").as("cms"), col("sv").as("cv"))
    val l2 = graft.functions.VectorOps.l2sq(col("sv"), col("cv"))
    // sort-free two-pass PQ-encode argmin (see ann_pq_adc)
    val bestD = subs.join(broadcast(codebook), col("ms") === col("cms"))
      .groupBy(col("vec_id"), col("ms"))
      .agg(min(l2).as("best_d"))
    // cent_id is functionally determined by vec_id, so grouping by it
    // too yields identical groups — and spares the old `.join(assign)`
    // here, which re-ran the n×k argmax a further two passes (r16)
    val enc = subs.join(bestD, Seq("vec_id", "ms"))
      .join(broadcast(codebook), col("ms") === col("cms"))
      .filter(l2 === col("best_d"))
      .groupBy(col("vec_id"), col("cent_id"), col("ms"))
      .agg(min(col("j")).as("code"))
    val cosAssign = LlmOpsAnn.cosCol("embedding", "c_emb")
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(cosAssign.desc, col("cent_id").asc)
    val probe = e.filter(col("vec_id").isin(200, 300, 400))
      .crossJoin(broadcast(cent))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= NPROBE)
      .withColumn("rv", resid)
      .select(col("vec_id").as("query_id"), col("cent_id").as("p_cent"), col("rv"))
    val qsubs = probe
      .select(col("query_id"), col("p_cent"), subExplode)
      .select(col("query_id"), col("p_cent"), col("st.ms").as("qms"), col("st.sv").as("sv"))
    val lut = qsubs
      .join(broadcast(codebook), col("qms") === col("cms"))
      .withColumn("d", l2)
      .select(col("query_id"), col("p_cent"), col("qms"), col("j"), col("d"))
    enc.join(broadcast(lut),
        col("cent_id") === col("p_cent") && col("ms") === col("qms")
          && col("code") === col("j"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("adist0"))
      .filter(col("vec_id") =!= col("query_id"))
  }

  /** The production two-stage retrieval: the IVFPQ ADC ranks a CHEAP
    * top-50 shortlist from 8-byte codes, then only those 50 candidates
    * are re-scored against the RAW vectors (exact cosine) for the
    * final top-5 — 50 full-vector reads per query instead of a bucket
    * scan, which is how a real billion-vector serving stack closes the
    * quantization-loss gap (IvfPqRecallSpec measures the ADC shortlist
    * keeping 0.6-0.8 of the exact top-5; the re-rank recovers their
    * exact order). Shortlist rank uses the ROUNDED ADC distance
    * (grouped-sum ulp device); the final rank orders by the raw cosine
    * — bit-identical across engines — with a vec_id tie-break.
    */
  val annIvfPqRerank: Q = Q(
    "ann_ivf_pq_rerank", {
      val cosSearch = LlmOpsAnn.duckCos("q.embedding", "n.embedding")
      s"""$oraclePrefix
         |, shortlist AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY round(adist, 6) ASC, vec_id ASC) AS r50
         |    FROM adc WHERE vec_id <> query_id) t
         |  WHERE r50 <= 50
         |)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT s.query_id, s.vec_id AS neighbor_id,
         |         round($cosSearch, 6) AS sim,
         |         row_number() OVER (PARTITION BY s.query_id
         |                            ORDER BY $cosSearch DESC, s.vec_id ASC) AS rank
         |  FROM shortlist s
         |  JOIN emb q ON s.query_id = q.vec_id
         |  JOIN emb n ON s.vec_id = n.vec_id) t
         |WHERE rank <= 5
         |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin
    }
  ) { (s, d) =>
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val shortlist = adcFrame(s, d)
      .withColumn("r50", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(round(col("adist0"), 6).asc, col("vec_id").asc)))
      .filter(col("r50") <= 50)
      .select(col("query_id"), col("vec_id"))
    val cosSearch = LlmOpsAnn.cosCol("q_emb", "n_emb")
    // the corpus-proportional side (raw vectors) is scanned once with
    // the 150-row shortlist BROADCAST against it — never the reverse
    val qe = e.filter(col("vec_id").isin(200, 300, 400))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    e.select(col("vec_id"), col("embedding").as("n_emb"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(qe), "query_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(cosSearch.desc, col("vec_id").asc)))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosSearch, 6).as("sim"), col("rank"))
      .orderBy(col("query_id").asc_nulls_first, col("rank").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(annIvfPq, annIvfPqRerank)
}
