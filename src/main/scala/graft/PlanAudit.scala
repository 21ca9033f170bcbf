package graft

/** One-shot plan audit over every declared query: reports which plans
  * contain SortAggregate nodes (non-mutable agg buffers silently fall
  * out of hash aggregation — the trap that cost ann_ivf_kmeans a full
  * sort of its n·k crossed rows, round 9). Audit, not a gate: string
  * min/max over small grouped inputs legitimately SortAggregates.
  * Usage: tools/run.sh graft.PlanAudit [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(8, "ERROR")
    // plan-only consumer: skip the perplexity row's type-count
    // measurement job (ADVICE r15) — the audit then inspects the SPLIT
    // (past-the-ceiling) plan without executing a corpus job at this SF
    spark.conf.set("spark.graft.perplexity.skipTypeMeasure", "true")
    val mode = args.drop(1).headOption.getOrElse("sortagg")
    // structural modes (PlanWalk): "window" prints per-query counts of
    // unpartitioned WindowExec nodes; "skewjoin" prints fact×fact
    // shuffle joins keyed on a skewable FK (both feed PlanQualitySpec's
    // pinned expected sets). The skewjoin walk disables auto-broadcast
    // so tiny sf0.001 inputs show the join strategy used at scale.
    // "lambdasplit": loop-invariant split() inside HOF lambdas in the
    // OPTIMIZED logical plan — the CollapseProject O(tokens²) pathology
    // (r14); feeds PlanQualitySpec's pinned-empty gate
    if (mode == "lambdasplit") {
      SparkEntry.declared.foreach { q =>
        val hits =
          try PlanWalk.loopInvariantExpensiveInLambdas(
            q.fn(spark, sfDir).queryExecution.sparkPlan)
          catch { case e: Throwable => Seq(s"PLAN-FAILED ${e.getMessage.take(100)}") }
        if (hits.nonEmpty)
          println(f"${hits.size}%3d  ${q.name}%-28s ${hits.mkString(" | ").take(140)}")
      }
      spark.stop(); return
    }
    if (mode == "window" || mode == "skewjoin" || mode == "joins" || mode == "windowrows"
        || mode == "genhealth") {
      if (mode == "skewjoin" || mode == "joins")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // "windowrows" EXECUTES each allowlisted query and reports the
      // measured input row count of every unpartitioned WindowExec
      // (WindowExec emits exactly one output row per input row, so its
      // numOutputRows metric IS the rows-on-one-partition figure). AQE
      // off so the executed plan keeps plain WindowExec nodes visible.
      // "genhealth" EXECUTES each generator's input subtree and reports
      // its measured per-partition row spread (PlanWalk scaladoc: the
      // few-file explode-straggler detector). AQE off as for windowrows.
      if (mode == "windowrows" || mode == "genhealth")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
      val skewIds =
        if (mode == "skewjoin") PlanWalk.skewableIds ++ PlanWalk.deriveSkewableIds(spark, sfDir)
        else PlanWalk.skewableIds
      SparkEntry.declared.foreach { q =>
        try {
          val df = q.fn(spark, sfDir)
          val plan = df.queryExecution.sparkPlan
          val hits =
            if (mode == "window")
              PlanWalk.unpartitionedWindows(plan).map(w =>
                s"win[${w.windowExpression.map(_.sql).mkString(",").take(90)}]")
            else if (mode == "windowrows") {
              if (PlanWalk.unpartitionedWindows(plan).isEmpty) Nil
              else PlanWalk.unpartitionedWindowInputRows(df).map(n => s"rows=$n")
            }
            else if (mode == "genhealth")
              PlanWalk.generateInputPartitionHealth(df)
            else if (mode == "skewjoin") PlanWalk.skewRiskJoins(plan, skewIds)
            else plan.collect {
              // "joins": every SHUFFLE join with its equi-key names — the
              // TimeQ candidate set for skew-corpus timing sweeps
              case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
                s"SMJ(${(j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).distinct.mkString(",")})"
              case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
                s"SHJ(${(j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).distinct.mkString(",")})"
            }
          if (hits.nonEmpty)
            println(f"${hits.size}%3d  ${q.name}%-28s ${hits.mkString(" | ").take(140)}")
        } catch { case e: Throwable => println(f"  ?  ${q.name}%-28s PLAN-FAILED ${e.getMessage.take(100)}") }
      }
      spark.stop(); return
    }
    // string modes: "cross" counts CartesianProduct+BroadcastNestedLoopJoin
    // nodes; default counts SortAggregate
    val pattern =
      if (mode == "cross") "CartesianProduct|BroadcastNestedLoopJoin"
      else "SortAggregate"
    SparkEntry.declared.foreach { q =>
      val plan =
        try q.fn(spark, sfDir).queryExecution.sparkPlan.toString()
        catch { case e: Throwable => s"PLAN-FAILED ${e.getMessage}" }
      val n = pattern.r.findAllIn(plan).size
      if (n > 0 || plan.startsWith("PLAN-FAILED"))
        println(f"$n%3d  ${q.name}%-28s ${plan.linesIterator.find(_.trim.matches(s".*($pattern).*")).map(_.trim.take(120)).getOrElse(plan.take(80))}")
    }
    spark.stop()
  }
}
