package graft.ml

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, MinHashLSH}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps.ngrams

/** Scalable near-dup / similarity search (SURVEY.md §2B B6) — the
  * 100 TB path where any all-pairs join is infeasible. Both entry points
  * are approxSimilarityJoin: cost ∝ bucket collisions, not n².
  *
  * Probabilistic (seeded but implementation-defined hashing), so these
  * are unit-tested for recall against the exact oracle-checked queries
  * (sim_threshold_join / dedup_ngram_jaccard) instead of DuckDB.
  */
object Lsh {

  /** Near-dup text pairs by MinHash LSH over hashed token-shingle sets.
    * Returns (a, b, jaccard_distance) with a < b.
    */
  /** Distinct token-shingle sets, one array per doc. Tokenize ONCE per
    * row — a split inside the lambda would re-split the whole doc per
    * shingle element (O(tokens²) per doc). The CHEAP pre-filter (one
    * linear split per row) replaces any downstream
    * `filter(size(shingles) > 0)`: pushing THAT predicate substitutes
    * the alias chain into the filter condition, inlining the split
    * inside the shingle lambda — the O(tokens²) Filter that burned the
    * r13/r14 sf100 probes (PlanWalk.loopInvariantExpensiveInLambdas gates
    * the whole surface against the shape). A doc yields ≥1 shingle iff
    * it has ≥ shingleLen tokens, so the conditions are equivalent; a
    * NULL text nulls both and is dropped either way.
    */
  private def shingleDocs(docs: DataFrame, shingleLen: Int): DataFrame =
    docs
      .filter(size(split(lower(col("text")), " ")) >= shingleLen)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"), array_distinct(ngrams("t", shingleLen)).as("shingles"))

  def textNearDupPairs(spark: SparkSession, docs: DataFrame,
                       maxJaccardDistance: Double, numHashTables: Int = 8,
                       shingleLen: Int = 3, maxDfFraction: Double = 1.0): DataFrame = {
    val raw = shingleDocs(docs, shingleLen)
    // Optional df-prune (maxDfFraction < 1): a shingle present in more
    // than that fraction of docs carries no near-dup signal but floods
    // LSH buckets (every doc holding the globally-min-hashed shingle
    // lands in one bucket → O(n²) candidate blowup). Standard MinHash
    // practice on web-scale corpora; off by default because it costs a
    // df-counting pass (this synthetic corpus has max df 0.5% — nothing
    // to prune).
    // raw is already nonempty-guaranteed by shingleDocs' cheap
    // pre-filter; only the prune path can empty a shingle set (its
    // size-filter substitutes the pruneUdf call — one linear UDF eval,
    // not the lambda re-split the old shingle-size filter caused)
    val shingled = if (maxDfFraction >= 1.0) raw else {
      val nDocs = docs.count()
      val hot = raw.select(explode(col("shingles")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > nDocs * maxDfFraction)
        .select(col("s")).collect().map(_.getString(0)).toSet
      val hotBc = spark.sparkContext.broadcast(hot)
      val pruneUdf = org.apache.spark.sql.functions.udf { xs: Seq[String] =>
        xs.filterNot(hotBc.value.contains)
      }
      raw.withColumn("shingles", pruneUdf(col("shingles")))
        .filter(size(col("shingles")) > 0)
    }
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(shingled)
    // spark.ml LSH fit() reads the first row for dimensionality and
    // throws on an empty dataset — an empty corpus (routine in a daily
    // batch) must yield an empty pair set, not a crash
    if (vecs.isEmpty) return emptyPairs(spark, "a", "b")
    val mh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = mh.fit(vecs)
    // Hash ONCE and cache: approxSimilarityJoin skips its own transform
    // when the hash column is present, and without the cache each side
    // of the self-join re-derives shingles+TF+minhash from the scan
    // (r1 bench: 9.4 s → the slowest declared row). Cached storage is
    // one sparse row per doc — bounded by the corpus, not by pairs.
    val hashed = model.transform(vecs).cache()
    model.approxSimilarityJoin(hashed, hashed, maxJaccardDistance, "dist")
      .select(
        col("datasetA.doc_id").as("a"),
        col("datasetB.doc_id").as("b"),
        col("dist"))
      .filter(col("a") < col("b"))
  }

  /** Top-k nearest corpus docs (by exact Jaccard distance over shingle
    * sets) for a bounded PROBE SET, candidates generated through the
    * library's MinHash bucket family — the text twin of
    * [[embeddingProbeTopK]], and the r14 replacement engine for the
    * declared `b6_lsh_text_near_dup` row.
    *
    * Why not approxSimilarityJoin: the self-join explodes every corpus
    * doc's (shingle-vector, hashtable) entries on BOTH sides and
    * shuffles full sparse vectors to the bucket-pair stage — at sf100
    * the spill exhausted disk (the r13 probe's one DNF; BASELINE
    * §sf100-probe). This path is corpus-LINEAR by construction:
    *  - the corpus is shingled + MinHash-hashed ONCE (the library
    *    surface: HashingTF → MinHashLSH.transform);
    *  - only the ≤ `nProbes` probe rows' bucket keys (plus their
    *    shingle arrays, needed for exact re-scoring) are BROADCAST;
    *  - the (table, bucket) equi-join is map-side — corpus vectors
    *    never shuffle;
    *  - the exact Jaccard distance (array_intersect/union — codegen,
    *    no UDF) runs BEFORE any shuffle, so only (q, nb, dist) scalars
    *    — O(collisions) ≤ L·n — reach the dedup + per-probe top-k;
    *  - output is hard-capped at nProbes·k.
    * 10× the corpus costs 10× the map work, never 100× the pairs.
    * Recall vs the brute-force Jaccard top-k is gated in LshSpec.
    */
  def textProbeTopK(spark: SparkSession, docs: DataFrame, k: Int,
                    nProbes: Int = 256, numHashTables: Int = 4,
                    shingleLen: Int = 3): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.expressions.Window
    // Generator-stage parallelism guard: the shingle+TF+minhash stage
    // is heavy interpreted per-row work, and a FEW-FILE corpus strands
    // it on a handful of tasks (the cache-fill pass measured as two
    // ~2000-CPU-s stragglers on 32 cores at sf100 before the guard).
    // Shared helper — pathology documented at Tables.spreadExplodeInput.
    val base = graft.Tables.spreadExplodeInput(spark, docs)
    val shingled = shingleDocs(base, shingleLen) // nonempty by pre-filter
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // cache: the shingle+TF pipeline feeds fit(), the probe TakeOrdered
    // AND the corpus bucket scan — uncached it re-derives shingles from
    // the raw text three times (measured 2× the row's wall time at
    // sf0.1). One sparse row per doc, corpus-bounded, same rationale as
    // textNearDupPairs' hashed.cache(). No unpersist is possible here —
    // the returned frame is unexecuted and still reads the cache — so
    // release relies on the caller's clearCache() (Bench/TimeQ between
    // passes) or storage-level LRU eviction under pressure (ADVICE r14:
    // this is a documented reliance, and the cached relation is
    // MEMORY_AND_DISK corpus-bounded, never pair-proportional).
    val vecs = tf.transform(shingled).cache()
    if (vecs.isEmpty) return emptyPairs(spark, "q", "nb")
    val mh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = mh.fit(vecs)
    def buckets(df: DataFrame, idAs: String, shAs: String): DataFrame =
      model.transform(df)
        .select(col("doc_id").as(idAs), col("shingles").as(shAs),
          posexplode(col("hashes")).as(Seq("ht", "hv")))
        .select(col(idAs), col(shAs), col("ht"),
          vector_to_array(col("hv")).getItem(0).cast("long").as("bucket"))
    // deterministic probe set: lowest doc_ids (TakeOrdered — no shuffle)
    val probes = vecs.orderBy(col("doc_id").asc).limit(nProbes)
    val corpusB = buckets(vecs, "nb", "nsh")
    val probeB = buckets(probes, "q", "qsh")
    val inter = size(array_intersect(col("qsh"), col("nsh"))).cast("double")
    val union = (size(col("qsh")) + size(col("nsh"))).cast("double") - inter
    corpusB.join(broadcast(probeB), Seq("ht", "bucket"))
      .filter(col("q") =!= col("nb"))
      // distance BEFORE the shuffle: only (q, nb, dist) scalars move
      .select(col("q"), col("nb"), (lit(1.0) - inter / union).as("dist"))
      // a pair colliding in several tables appears once
      .groupBy(col("q"), col("nb")).agg(min(col("dist")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q"))
          .orderBy(col("dist").asc, col("nb").asc)))
      .filter(col("rn") <= k).drop("rn")
  }

  private val toVec = udf((xs: Seq[Float]) =>
    Vectors.dense(xs.map(_.toDouble).toArray))

  /** Near neighbors in embedding space by random-projection LSH
    * (Euclidean buckets). Returns (a, b, dist) with a < b within
    * `maxL2Distance` — on normalized vectors this bounds cosine too.
    *
    * `bucketLength` ≤ 0 (default) means the textbook p-stable setting
    * w ≈ r (the query radius): far-pair bucket collisions scale with
    * w/d_far per table, so an r-matched width keeps the candidate set
    * close to output-sensitive while near pairs (d ≪ r) still collide
    * with high probability across the OR'd tables. Measured at 10×
    * data (sf1): the old fixed w=2.0 cost 197 s (86× sf0.1 — the r6
    * scale rehearsal's one super-linear find); w=r cuts the far floor
    * ~3×. The REMAINING super-linearity is structural to spark.ml's
    * OR-only amplification (no AND-composed multi-projection keys), so
    * the 100 TB path for embedding near-dup is the owned AND-banded
    * sign-LSH of dedup_embedding (5.9× at 10× data) — this entry point
    * is the library-surface demonstration, recall-gated by LshSpec.
    */
  def embeddingNearPairs(spark: SparkSession, embeddings: DataFrame,
                         maxL2Distance: Double, bucketLength: Double = 0.0,
                         numHashTables: Int = 4): DataFrame = {
    val w = if (bucketLength > 0) bucketLength else maxL2Distance
    val vecs = embeddings.select(col("vec_id"), toVec(col("embedding")).as("features"))
    // same empty-corpus guard as textNearDupPairs: fit() needs a row
    if (vecs.isEmpty) return emptyPairs(spark, "a", "b")
    val brp = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(w).setNumHashTables(numHashTables).setSeed(42L)
    val model = brp.fit(vecs)
    val hashed = model.transform(vecs).cache() // see textNearDupPairs
    model.approxSimilarityJoin(hashed, hashed, maxL2Distance, "dist")
      .select(
        col("datasetA.vec_id").as("a"),
        col("datasetB.vec_id").as("b"),
        col("dist"))
      .filter(col("a") < col("b"))
  }

  /** Top-k nearest corpus neighbors for a bounded PROBE SET, via the
    * library's random-projection buckets — the LSH-bucketed ANN serving
    * shape (query batch against a big corpus), and the output-bounded
    * semantics a fixed-radius self-join lacks.
    *
    * Why not approxSimilarityJoin: the r6 sf1 rehearsal measured the
    * fixed-radius self-join at 86× for 10× data, and a density-adaptive
    * radius does NOT fix it (measured 56× at 10×) — on unit vectors the
    * projection spread (~1) is the same order as any usable radius, so
    * bucket collisions stay a constant FRACTION of n² no matter how the
    * radius shrinks. Collision-bound, not output-bound, is the
    * structural cost of OR-only LSH on a corpus with no density gap.
    *
    * This path is linear in the corpus BY CONSTRUCTION: the corpus is
    * hashed once with the BRP model (the library surface), the ≤
    * `nProbes` probe rows' buckets are BROADCAST, the (table, bucket)
    * equi-join is map-side with no shuffle of corpus vectors, exact
    * distances run in the codegen float kernels before any shuffle, and
    * only (q, nb, dist) scalars — O(candidates), candidates ≤ L·n —
    * reach the dedup + per-probe row_number top-k. 10× the corpus costs
    * 10× the map work, never 100× the pairs.
    */
  def embeddingProbeTopK(spark: SparkSession, embeddings: DataFrame, k: Int,
                         nProbes: Int = 256, numHashTables: Int = 4,
                         bucketLength: Double = 0.5): DataFrame = {
    import graft.functions.VectorOps
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.expressions.Window
    // few-file straggler guard before the per-vector hash + posexplode
    // stage (r16; pathology at Tables.spreadExplodeInput) — the
    // embedding twin of textProbeTopK's guard
    val vecs = graft.Tables.spreadExplodeInput(spark, embeddings)
      .select(col("vec_id"), col("embedding"),
        toVec(col("embedding")).as("features"))
    if (vecs.isEmpty) return emptyPairs(spark, "q", "nb")
    val brp = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = brp.fit(vecs)
    def buckets(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      model.transform(df)
        .select(col("vec_id").as(idAs), col("embedding").as(vecAs),
          posexplode(col("hashes")).as(Seq("ht", "hv")))
        .select(col(idAs), col(vecAs), col("ht"),
          vector_to_array(col("hv")).getItem(0).cast("long").as("bucket"))
    // deterministic probe set: lowest vec_ids (TakeOrdered — no shuffle)
    val probes = vecs.orderBy(col("vec_id").asc).limit(nProbes)
    val corpusB = buckets(vecs, "nb", "nvec")
    val probeB = buckets(probes, "q", "qvec")
    val d2 = VectorOps.ssq(col("qvec")) + VectorOps.ssq(col("nvec")) -
      lit(2.0) * VectorOps.dot(col("qvec"), col("nvec"))
    corpusB.join(broadcast(probeB), Seq("ht", "bucket"))
      .filter(col("q") =!= col("nb"))
      // distance BEFORE the shuffle: only (q, nb, dist) scalars move
      .select(col("q"), col("nb"), sqrt(greatest(d2, lit(0.0))).as("dist"))
      // a pair colliding in several tables appears once
      .groupBy(col("q"), col("nb")).agg(min(col("dist")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q"))
          .orderBy(col("dist").asc, col("nb").asc)))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Zero-row (aCol, bCol, dist) frame with the pair-result schema. */
  private def emptyPairs(spark: SparkSession, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField(aCol, LongType), StructField(bCol, LongType),
        StructField("dist", DoubleType))))
  }
}
