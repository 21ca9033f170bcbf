package graft

import org.apache.spark.sql.Row
import graft.queries.LlmOpsAnalytics

/** Semantics checks for the analytics/packaging operators beyond the
  * oracle hash-compare: the funnel must be monotone, dedup_cluster
  * must equal brute-force connected components on the band graph, and
  * quantization must stay in int8 range with ≥1 saturated lane.
  */
class AnalyticsSpec extends SparkSpec {

  test("funnel_steps stages are monotone non-increasing") {
    val rows = LlmOpsAnalytics.funnelSteps.fn(spark, sf()).collect()
    val byStage = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.keySet ===
      Set("view", "view>click", "view>click>purchase"))
    assert(byStage("view") >= byStage("view>click"))
    assert(byStage("view>click") >= byStage("view>click>purchase"))
    assert(byStage("view") > 0)
  }

  test("cohort_retention offsets are non-negative and cell sums bound users") {
    val rows = LlmOpsAnalytics.cohortRetention.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 0), "negative week offset")
    val nUsers = graft.Tables.events(spark, sf())
      .select("user_id").distinct().count()
    // offset-0 cells partition the user base exactly
    val offset0 = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(offset0 === nUsers)
  }

  test("pack_sequences conserves docs and tokens") {
    val packed = LlmOpsAnalytics.packSequences.fn(spark, sf())
    val Row(nDocs: Long, nTok: Long) = packed
      .selectExpr("sum(n_docs)", "sum(sum_tokens)").head()
    val docs = graft.Tables.documents(spark, sf())
    assert(nDocs === docs.count())
    val expectedTok = docs
      .selectExpr("sum(CAST(size(split(lower(text), ' ')) AS BIGINT))")
      .head().getLong(0)
    assert(nTok === expectedTok)
    // the parallelism knob: a wider bucket count still conserves both
    val Row(nDocs64: Long, nTok64: Long) =
      LlmOpsAnalytics.packSequencesDf(spark, sf(), nBuckets = 64)
        .selectExpr("sum(n_docs)", "sum(sum_tokens)").head()
    assert(nDocs64 === nDocs && nTok64 === expectedTok)
  }

  test("dedup_cluster equals brute-force connected components of the band graph") {
    import scala.collection.mutable
    val docs = graft.Tables.documents(spark, sf())
    // recompute the band keys exactly as the query does
    val bands = docs.selectExpr("doc_id", "split(lower(text), ' ') AS t")
      .selectExpr("doc_id",
        """explode(transform(slice(sequence(1, greatest(size(t) - 2, 1)), 1, greatest(size(t) - 2, 0)),
           i -> concat_ws(' ', element_at(t, i), element_at(t, i+1), element_at(t, i+2)))) AS sh""")
      .selectExpr("doc_id", "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT) AS s")
      .groupBy("doc_id").agg(
        org.apache.spark.sql.functions.expr("min(s)").as("b1"),
        org.apache.spark.sql.functions.expr("max(s)").as("b2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val allIds = docs.select("doc_id").collect().map(_.getLong(0))
    // union-find over edges (same b1) ∪ (same b2); short docs isolated
    val parent = mutable.Map(allIds.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Seq[((Long, Long, Long)) => Long](_._2, _._3).foreach { key =>
      bands.groupBy(key).values.foreach { grp =>
        grp.map(_._1).sliding(2).foreach { pair =>
          if (pair.length == 2) union(pair(0), pair(1))
        }
      }
    }
    val expected = allIds.groupBy(find).map { case (_, m) =>
      (m.min, m.length.toLong)
    }.toSet
    val got = LlmOpsAnalytics.dedupCluster.fn(spark, sf())
      .collect().map(r => (r.getLong(2), r.getLong(1))).toSet
    assert(got === expected,
      "fixpoint label propagation disagrees with union-find components")
  }

  test("starContract: 300-node chain (diameter 300) converges in log-bounded rounds") {
    import spark.implicits._
    // path graph 0-1-2-…-299: the r5 min-label fixpoint needed ~300
    // rounds here; large-star/small-star must land in O(log² n)
    val chain = (1L until 300L).map(i => (i, i - 1)).toDF("a", "b")
    val res = graft.operators.GraphOps.starContract(chain)
    assert(res.rounds <= 12,
      s"rounds=${res.rounds} — not log-bounded for a diameter-300 chain")
    val labels = res.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 299, "every non-root node gets a label")
    assert(labels.forall(_._2 == 0L), "component minimum is the label")
  }

  test("starContract: maxRounds guard fails loudly, random graph matches union-find") {
    import spark.implicits._
    import scala.collection.mutable
    val chain = (1L until 100L).map(i => (i, i - 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      graft.operators.GraphOps.starContract(chain, maxRounds = 1)
    }
    // seeded random graph: 400 nodes, 300 edges → many nontrivial
    // components; exact parity with a driver-side union-find
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val parent = mutable.Map((0L until 400L).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0L until 400L).map(i => i -> find(i))
      .filter { case (n, l) => n != l }.toSet
    val got = graft.operators.GraphOps.starContract(es.toDF("a", "b")).labels
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // starContract labels only nodes incident to an edge; restrict the
    // union-find view the same way (isolated or root nodes excluded)
    val incident = es.flatMap(e => Seq(e._1, e._2)).toSet
    val expectedIncident = expected.filter(p => incident.contains(p._1))
    assert(got === expectedIncident)
  }

  test("dedup_cluster edge derivation runs each explode once") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val edges = LlmOpsAnalytics.dedupClusterEdges(spark, sf())
    edges.collect()
    val gens = new AdaptiveSparkPlanHelper {}
      .collect(edges.queryExecution.executedPlan) { case g: GenerateExec => g }
    // the shingle explode of the corpus and the explode of each doc's
    // two band keys, one Generate each: a union of b1/b2 branches with a
    // rep aggregate joined back ran the shingle explode four times
    assert(gens.length === 2, s"explodes in the executed plan:\n${gens.mkString("\n")}")
  }

  test("starContract: permuted 3,000-node chain over many input partitions") {
    import spark.implicits._
    // a random node order puts each hop on unrelated hash partitions,
    // and 16 input partitions > 4 shuffle partitions
    val perm = new scala.util.Random(11).shuffle((0L until 3000L).toVector)
    val chain = spark.sparkContext
      .parallelize(perm.sliding(2).map(p => (p(0), p(1))).toSeq, 16).toDF("a", "b")
    val res = graft.operators.GraphOps.starContract(chain)
    assert(res.rounds <= 12, s"rounds=${res.rounds}")
    val labels = res.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 2999 && labels.map(_._1).toSet === (1L until 3000L).toSet)
    assert(labels.forall(_._2 == 0L), "component minimum is the label")
  }

  test("starContract: stars already centred on their minima stop after one round") {
    import spark.implicits._
    val stars = Seq(0L, 100L, 200L).flatMap(c => (c + 1 to c + 40).map(x => (x, c)))
    val res = graft.operators.GraphOps.starContract(stars.toDF("a", "b"))
    assert(res.rounds === 1)
    assert(res.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === stars.toSet)
  }

  test("embedding_quantize: q_sum within int8 bounds, saturation present") {
    val rows = LlmOpsAnalytics.embeddingQuantize.fn(spark, sf()).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val (scale, qSum, nSat) = (r.getDouble(1), r.getLong(2), r.getLong(3))
      assert(scale > 0.0)
      assert(math.abs(qSum) <= 127L * 64, s"q_sum $qSum out of range")
      // max|x| quantizes to ±127 by construction
      assert(nSat >= 1, "the max-magnitude lane must saturate")
    }
  }
}
