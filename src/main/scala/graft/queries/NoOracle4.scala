package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}

/** Round-8 session-3 capability rows, continued: lineage truncation via
  * localCheckpoint (the iterative-algorithm enabler) and DYNAMIC
  * partition pruning (the join-driven scan saver behind every
  * partitioned star join at 100 TB) — both asserted from executed
  * plans/metrics, not hand-waved.
  */
object NoOracle4 {

  /** B29 — checkpoint lineage cut: an iterative doubling pipeline
    * (6 rounds of union + re-aggregate over a |nations|-bounded frame)
    * grows the analyzed plan tree exponentially; `localCheckpoint`
    * (eager) collapses it to a leaf. The row pins (1) measured node
    * counts before/after (after must be < 1/4 of before), (2) result
    * equality across the cut, and (3) that post-cut iterations start
    * from the SMALL tree. This is the guard that keeps round-N of any
    * iterative algorithm (PageRank, connected components, Lloyd) from
    * re-optimizing an O(2^N) lineage — dedup_cluster's
    * `starContract` (local contraction, one shuffle per round, exact
    * fixpoint; Łącki, Mirrokni, Włodarczyk 2018 after Kiveris et al.,
    * SoCC 2014) checkpoints every round on exactly this; here the
    * effect is measured as a first-class row.
    */
  val checkpointCut: Q = Q.noOracle("b29_checkpoint_cut") { (s, d) =>
    import s.implicits._
    def nodes(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.analyzed.collect { case p => p }.size.toLong
    // checkpoint the |priorities|-bounded seed FIRST: the doubling below
    // multiplies executions of its lineage 2^iters times — over raw
    // parquet that would re-scan the corpus 64×, which is exactly the
    // pathology this row demonstrates on the TREE without paying it on
    // the DATA (the before/after node counts are unaffected)
    val seed = T.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(sum(col("o_custkey")).cast("long").as("v"))
      .localCheckpoint()
    var df = seed
    // 4 rounds ⇒ 2⁴ leaf scans / ~90 analyzed nodes — contrast is
    // already 2 orders of magnitude; more rounds only buys bench cost
    val iters = 4
    (1 to iters).foreach { _ =>
      df = df.unionByName(df.select(col("pri"), (col("v") * 0).as("v")))
        .groupBy(col("pri")).agg(sum(col("v")).cast("long").as("v"))
    }
    val before = nodes(df)
    val resBefore = df.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(t => (t._1 == null, t._1))
    val cut = df.localCheckpoint() // eager: materializes, lineage becomes a leaf
    val after = nodes(cut)
    val resAfter = cut.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(t => (t._1 == null, t._1))
    // one more doubling round on the cut frame stays small
    val next = cut.unionByName(cut.select(col("pri"), (col("v") * 0).as("v")))
      .groupBy(col("pri")).agg(sum(col("v")).cast("long").as("v"))
    val nextNodes = nodes(next)
    Seq((iters.toLong, before, after, nextNodes,
      resBefore.sameElements(resAfter),
      after * 4 <= before && nextNodes < before))
      .toDF("iters", "nodes_before", "nodes_after", "nodes_next_iter",
        "results_equal", "ok")
  }

  /** B30 — DYNAMIC partition pruning measured: a fact table
    * partitioned by day joined to a small dim whose filter is on a
    * NON-partition attribute (so static pruning cannot apply); with
    * DPP on, the broadcast result seeds a runtime IN-subquery on the
    * partition column and the scan reads ONLY the matching day
    * directories. The row runs the SAME join with
    * `spark.sql.optimizer.dynamicPartitionPruning.enabled` on and off
    * (conf restored in finally), reads numFiles off the executed
    * FileSourceScanExec (b23's metric walk), asserts
    * files_on < files_off, identical aggregates, and
    * "dynamicpruning" present in the executed plan text. At 100 TB
    * this is THE star-join scan saver: date-partitioned facts joined
    * to a filtered dimension read the filtered days only, with zero
    * query rewrite.
    */
  val dynamicPartitionPruning: Q = Q.noOracle("b30_dynamic_partition_pruning") { (s, d) =>
    import s.implicits._
    val run = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val fact = T.events(s, d).select(
      expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("dx"),
      col("event_id"), col("user_id"))
    // empty-corpus survival: a zero-partition partitioned write leaves
    // nothing to infer a schema from on read — emit the degenerate row
    if (fact.isEmpty) {
      Seq((0L, 0L, 0L, false, true, true))
        .toDF("n_rows", "files_read_dpp", "files_read_off", "plan_has_dpp",
          "results_equal", "ok")
    } else {
    fact.write.mode("overwrite").partitionBy("dx").parquet(s"$run/fact")
    // dim: one row per day with a NON-partition attribute; the filter
    // selects ~1/7 of the days through the attribute, not through dx
    val dim = fact.select(col("dx")).distinct()
      .select(col("dx"), (col("dx") % 7).as("grp"))
    dim.write.mode("overwrite").parquet(s"$run/dim")
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scanFiles(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case qe: QueryStageExec       => scanFiles(qe.plan)
      case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case other => other.children.map(scanFiles).sum
    }
    def probe(): (Long, Long, Long, Boolean) = {
      val f = s.read.parquet(s"$run/fact")
      val dm = s.read.parquet(s"$run/dim").filter(col("grp") === 0)
      val q = f.join(broadcast(dm), "dx")
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("usum"))
      val r = q.collect().head
      val plan = q.queryExecution.executedPlan
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        scanFiles(plan), plan.toString().toLowerCase.contains("dynamicpruning"))
    }
    val conf = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val prev = s.conf.get(conf)
    val (nOn, sumOn, filesOn, planOn) =
      try { s.conf.set(conf, "true"); probe() } finally s.conf.set(conf, prev)
    val (nOff, sumOff, filesOff, _) =
      try { s.conf.set(conf, "false"); probe() } finally s.conf.set(conf, prev)
    Seq((nOn, filesOn, filesOff, planOn,
      nOn == nOff && sumOn == sumOff,
      planOn && filesOn < filesOff && nOn == nOff))
      .toDF("n_rows", "files_read_dpp", "files_read_off", "plan_has_dpp",
        "results_equal", "ok")
    }
  }

  /** B31 — AQE partition coalescing measured: a low-volume aggregate
    * shuffles under the session's static `spark.sql.shuffle.partitions`
    * fan-out, and AQE's OptimizeShuffleReads collapses the tiny
    * post-shuffle partitions into a handful (read off the
    * AQEShuffleReadExec's partitionSpecs — far fewer than the static
    * setting), with results identical to the AQE-off run. This is the
    * small-task-storm guard at 100 TB: a static fan-out tuned for the
    * biggest stage would otherwise launch thousands of near-empty
    * tasks in every small stage of the same job.
    */
  val aqeCoalesce: Q = Q.noOracle("b31_aqe_coalesce") { (s, d) =>
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
    def shuffleReadParts(p: SparkPlan): Seq[Int] = p match {
      case a: AdaptiveSparkPlanExec => shuffleReadParts(a.executedPlan)
      case qe: QueryStageExec       => shuffleReadParts(qe.plan)
      case r: AQEShuffleReadExec =>
        r.partitionSpecs.size +: r.children.flatMap(shuffleReadParts)
      case other => other.children.flatMap(shuffleReadParts)
    }
    val staticParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    def run(): (Seq[(String, Long)], Seq[Int], Boolean) = {
      val df = T.orders(s, d)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val res = df.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(t => (t._1 == null, t._1)).toSeq
      val plan = df.queryExecution.executedPlan
      (res, shuffleReadParts(plan), plan.toString().contains("coalesced"))
    }
    val aqeConf = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(aqeConf)
    val (resOn, partsOn, coalescedOn) =
      try { s.conf.set(aqeConf, "true"); run() } finally s.conf.set(aqeConf, prev)
    val (resOff, _, _) =
      try { s.conf.set(aqeConf, "false"); run() } finally s.conf.set(aqeConf, prev)
    val minParts = if (partsOn.isEmpty) -1L else partsOn.min.toLong
    Seq((staticParts.toLong, minParts, coalescedOn, resOn == resOff,
      coalescedOn && minParts > 0 && minParts < staticParts && resOn == resOff))
      .toDF("static_partitions", "aqe_read_partitions", "plan_coalesced",
        "results_equal", "ok")
  }

  def all: Seq[Q] = Seq(checkpointCut, dynamicPartitionPruning, aqeCoalesce)
}
