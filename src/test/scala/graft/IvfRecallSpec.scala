package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorOps
import graft.queries.LlmOpsAnn

/** Recall of the bucketed ANN rows vs EXACT brute-force top-5 at sf0.01
  * (VERDICT r1 stretch). IVF trades recall for sub-quadratic search; the
  * spec pins that the trade is sane (nprobe=2 over √n centroids finds at
  * least half the true neighbors on this corpus) and that probing more
  * buckets never hurts. It also pins the nearest-centroid assignment
  * every IVF row shares (LlmOpsAnn.argmaxAssign) to the two-pass form it
  * replaced, row for row, on the tie and NaN/NULL edges.
  */
class IvfRecallSpec extends SparkSpec {

  private val queryIds = Seq(200L, 300L, 400L)

  private def topk(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, sf("sf0.01"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  private def exactTop5: Map[Long, Set[Long]] = {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cos("q_emb", "n_emb").desc, col("neighbor_id").asc)
    q.crossJoin(n)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qq, rows) => qq -> rows.map(_.getLong(1)).toSet }
  }

  private def recall(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val hits = queryIds.map(q => (approx.getOrElse(q, Set.empty) & exact(q)).size).sum
    hits.toDouble / queryIds.map(q => exact(q).size).sum
  }

  test("ann_ivf_nprobe (k=√n, nprobe=8) recall >= 0.4 vs exact top-5, and >= nprobe=1") {
    val exact = exactTop5
    assert(exact.values.forall(_.size == 5))
    val rNprobe = recall(topk("ann_ivf_nprobe"), exact)
    val rSingle = recall(topk("ann_ivf_topk"), exact)
    info(f"recall@5: ann_ivf_nprobe=$rNprobe%.2f ann_ivf_topk=$rSingle%.2f")
    // measured 0.53 at sf0.01 (recall ~linear in nprobe on this corpus:
    // 1→0.07, 2→0.13, 8→0.53, 16→0.73); floor leaves variance margin
    assert(rNprobe >= 0.4, f"nprobe=8 recall $rNprobe%.2f below floor")
    assert(rNprobe >= rSingle - 1e-9,
      f"probing 2 buckets of √n centroids ($rNprobe%.2f) should not trail " +
        f"the 16-centroid single-probe baseline ($rSingle%.2f) by design intent")
  }

  test("ann_ivf_kmeans (one Lloyd iteration) recall >= 0.7 at nprobe=8, and beats seed centroids") {
    val exact = exactTop5
    val rKmeans = recall(topk("ann_ivf_kmeans"), exact)
    val rSeed = recall(topk("ann_ivf_nprobe"), exact)
    info(f"recall@5 at nprobe=8: kmeans=$rKmeans%.2f seed-centroids=$rSeed%.2f")
    // measured 0.87 at sf0.01 with one Lloyd iteration (vs 0.53 for the
    // first-√n seed centroids); floor leaves variance margin
    assert(rKmeans >= 0.7, f"kmeans recall $rKmeans%.2f below 0.7 floor")
    assert(rKmeans >= rSeed - 1e-9,
      f"Lloyd-refined centroids ($rKmeans%.2f) should not trail the raw seeds ($rSeed%.2f)")
  }

  test("ivfKmeansSearch(nIter=3): recall >= 0.9 with the matching probe budget") {
    // Measured matrix at sf0.01 (recall@5, queries 200/300/400):
    //   nprobe:        8      12     16
    //   nIter=1      0.87   0.87   1.00
    //   nIter=2      0.80   0.93   1.00
    //   nIter=3      0.73   0.87   1.00
    // Deeper Lloyd TIGHTENS clusters, so a fixed nprobe=8 covers a
    // smaller fraction of each query's neighborhood and recall is
    // NON-monotone in nIter — a real IVF property, not a bug. The 0.9
    // floor therefore pins (nIter=3, nprobe=16), naming the probe
    // budget that buys the recall back, plus monotonicity in nprobe.
    val exact = exactTop5
    def run(nIter: Int, nprobe: Int): Map[Long, Set[Long]] =
      graft.queries.LlmOpsAnn.ivfKmeansSearch(spark, sf("sf0.01"), nIter, nprobe)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val r8 = recall(run(3, 8), exact)
    val r16 = recall(run(3, 16), exact)
    info(f"recall@5 at nIter=3: nprobe=8 $r8%.2f, nprobe=16 $r16%.2f")
    assert(r16 >= 0.9, f"nIter=3/nprobe=16 recall $r16%.2f below 0.9 floor")
    assert(r16 >= r8 - 1e-9,
      f"probing more buckets ($r16%.2f) must never reduce recall ($r8%.2f)")
  }

  // ---- nearest-centroid assignment: equivalence with the two-pass form ----

  private def cos(a: String, b: String) =
    VectorOps.dot(col(a), col(b)) / (sqrt(VectorOps.ssq(col(a))) * sqrt(VectorOps.ssq(col(b))))

  /** The assignment argmaxAssign replaced, kept as the reference: max(cos)
    * per vector, then min(cent_id) among the centroids whose cos equals it. */
  private def twoPassAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val v = e.select(col("vec_id"), col("embedding"))
    val best = v.crossJoin(broadcast(cent))
      .groupBy(col("vec_id"))
      .agg(max(cos("embedding", "c_emb")).as("best_cos"))
    v.join(best, "vec_id")
      .crossJoin(broadcast(cent))
      .filter(cos("embedding", "c_emb") === col("best_cos"))
      .groupBy(col("vec_id"))
      .agg(min(col("cent_id")).as("cent_id"))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("vec_id").cast("long"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def vectors(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    graft.functions.VecExpressions.register(spark)
    VectorOps.nativeRegistered = true
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 3),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
  }

  private def centroids(v: DataFrame): DataFrame =
    v.select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** argmaxAssign equals the reference on `e` × `cent`, and on `cent`
    * fed in several shuffled orders (collect_list order must not matter). */
  private def assertSameAssignment(e: DataFrame, cent: DataFrame): Seq[(Long, Long)] = {
    val want = pairs(twoPassAssign(e, cent))
    assert(pairs(LlmOpsAnn.argmaxAssign(e, cent)) === want)
    for (seed <- 1 to 3)
      assert(pairs(LlmOpsAnn.argmaxAssign(e, cent.repartition(4).orderBy(rand(seed)))) === want,
        s"centroids shuffled with seed $seed")
    want
  }

  private val NaN = Float.NaN
  private val crafted = Seq(
    1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f), 3L -> Seq(1f, 1f, 0f, 0f),
    4L -> Seq(-1f, -1f, -1f, -1f), 5L -> Seq(0.5f, -2f, 1f, 3f), 6L -> Seq(NaN, 1f, 0f, 0f),
    7L -> Seq(0f, 0f, 0f, 2f))
  // duplicate embeddings under cent_ids 13 and 11, and 12 and 14;
  // vec 1 is orthogonal to all but 15, vec 7 to all but 12/14
  private val craftedCents = Seq(
    13L -> Seq(0f, 1f, 0f, 0f), 11L -> Seq(0f, 1f, 0f, 0f), 12L -> Seq(0f, 0f, 1f, 1f),
    14L -> Seq(0f, 0f, 1f, 1f), 15L -> Seq(-1f, 0f, 1f, 0f))

  test("argmaxAssign equals the two-pass reference on the corpus and on crafted ties") {
    val e = Tables.embeddings(spark, sf("sf0.01")).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val n = e.count()
    for (k <- Seq(16L, math.ceil(math.sqrt(n.toDouble)).toLong)) {
      val got = assertSameAssignment(e, centroids(e.filter(col("vec_id") < k)))
      assert(got.size == n, s"k=$k: every vector assigns")
    }
    val got = assertSameAssignment(vectors(crafted), centroids(vectors(craftedCents))).toMap
    // exact cosine ties go to the smaller cent_id, 0.0 ties included
    assert(got(1L) == 11L && got(2L) == 11L && got(3L) == 11L && got(7L) == 12L)
    // a vector holding NaN has NaN cosines only: all tie, the smallest wins
    assert(got(6L) == 11L)
    // a centroid holding NaN scores NaN, the greatest cosine, for every
    // other vector
    val withNaN = vectors(craftedCents :+ (16L -> Seq(0f, NaN, 0f, 0f)))
    val gotNaN = assertSameAssignment(vectors(crafted), centroids(withNaN)).toMap
    assert(gotNaN(6L) == 11L && (gotNaN - 6L).values.forall(_ == 16L))
    // a NULL embedding: the vector is dropped, the centroid never chosen;
    // an empty centroid set assigns nothing
    val withNulls = assertSameAssignment(vectors(crafted :+ (9L -> null)),
      centroids(vectors(craftedCents :+ (10L -> null)))).toMap
    assert(withNulls.size == crafted.size && withNulls.values.forall(_ != 10L))
    assert(assertSameAssignment(vectors(crafted), centroids(vectors(Seq.empty))).isEmpty)
  }

  test("argmaxAssign's fold: 0.0 = -0.0, NaN greatest, NULL never chosen, order-free") {
    // cosCol cannot yield -0.0 (the dot folds from +0.0 and norms are
    // non-negative), so the fold is fed crafted cosines: dp = cos with
    // both norms 1.0 keeps each value bit for bit
    val cases: Seq[Seq[(Long, java.lang.Double)]] = Seq(
      Seq(4L -> 0.0, 2L -> -0.0, 7L -> -1.0),
      Seq(9L -> Double.NaN, 3L -> 1.0, 1L -> Double.NaN, 2L -> Double.PositiveInfinity),
      Seq(3L -> 1.0, 1L -> 0.5, 5L -> 1.0),
      Seq(5L -> null, 6L -> -1.0, 2L -> null),
      Seq(8L -> -0.0, 6L -> 0.0),
      Seq(5L -> null),
      Seq.empty)
    val rows = for {
      (c, i) <- cases.zipWithIndex
      (perm, j) <- c.permutations.toSeq.zipWithIndex
    } yield Row(i * 100L + j, perm.map { case (id, v) => Row(id, v) })
    val scoreType = ArrayType(StructType(Seq(
      StructField("cent_id", LongType), StructField("cos", DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("vec_id", LongType), StructField("scores", scoreType))))
    val scored = transform(col("scores"), s =>
      struct(s("cent_id").as("cent_id"), s("cos").as("dp"), lit(1.0).as("c_norm")))
    val got = pairs(df.select(col("vec_id"),
      LlmOpsAnn.nearestCent(scored, lit(1.0), LongType).as("cent_id")).filter(col("cent_id").isNotNull))
    val flat = df.select(col("vec_id"), inline(col("scores")))
    val best = flat.groupBy(col("vec_id")).agg(max(col("cos")).as("best_cos"))
    val want = pairs(flat.join(best, "vec_id").filter(col("cos") === col("best_cos"))
      .groupBy(col("vec_id")).agg(min(col("cent_id")).as("cent_id")))
    assert(got === want)
    assert(got.map(p => p._1 / 100 -> p._2).distinct ===
      Seq(0L -> 2L, 1L -> 1L, 2L -> 3L, 3L -> 6L, 4L -> 6L))
  }

  test("argmaxAssign on zero norms: DIVIDE_BY_ZERO under ANSI, NULL cosines dropped without") {
    val zeroVec = vectors(crafted :+ (8L -> Seq(0f, 0f, 0f, 0f)))
    val zeroCent = vectors(craftedCents :+ (10L -> Seq(0f, 0f, 0f, 0f)))
    withConf("spark.sql.ansi.enabled", "true") {
      for ((e, c) <- Seq(zeroVec -> vectors(craftedCents), vectors(crafted) -> zeroCent)) {
        for (f <- Seq(twoPassAssign _, LlmOpsAnn.argmaxAssign _)) {
          val err = intercept[Exception](pairs(f(e, centroids(c))))
          assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), err)
        }
      }
    }
    withConf("spark.sql.ansi.enabled", "false") {
      val a = assertSameAssignment(zeroVec, centroids(vectors(craftedCents)))
      assert(!a.exists(_._1 == 8L), "a zero-norm vector has only NULL cosines and is dropped")
      // a zero-norm centroid's cosine is NULL and never chosen, except
      // to the NaN vector 6: NaN / (NaN · 0) is NaN, which ties
      val b = assertSameAssignment(vectors(crafted), centroids(zeroCent)).toMap
      assert(b.size == crafted.size && b(6L) == 10L && (b - 6L).values.forall(_ != 10L))
    }
  }

  test("argmaxAssign folds once per row and shuffles only the centroid collect") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    // the operators on the probe side of a plan: through adaptive stages,
    // not into broadcasts or subqueries
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _: BroadcastExchangeLike => Nil
      case other => other.children
    }).flatMap(nodes)
    val e = Tables.embeddings(spark, sf("sf0.01")).select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    // the callers' shape: centroids cut by a computed k, and a join on
    // cent_id, whose inferred isnotnull filter must not carry a second
    // fold into the scan
    val kRow = e.agg(least(ceil(sqrt(count(lit(1)))), lit(256)).cast("long").as("k"))
    val cent = centroids(e.crossJoin(broadcast(kRow)).filter(col("vec_id") < col("k")))
    val df = LlmOpsAnn.argmaxAssign(e, cent).join(broadcast(cent), "cent_id")
    df.collect()
    val main = nodes(df.queryExecution.executedPlan)
    assert(!main.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"the vector side shuffles:\n${df.queryExecution.executedPlan}")
    assert(main.flatMap(_.subqueries).flatMap(nodes).exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the centroid set is collected in a subquery")
    val folds = main.flatMap(n => n.expressions.flatMap(_.collect { case a: ArrayAggregate => n.nodeName }))
    assert(folds.size == 1, s"the fold runs in ${folds.mkString(", ")}")
  }
}
