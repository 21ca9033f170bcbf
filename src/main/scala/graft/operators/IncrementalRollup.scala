package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.LakeFs

/** Incremental rollup maintenance — the standard 100 TB pattern for
  * keeping a day-grain aggregate current without recomputing history:
  * only partitions newer than the rollup's high-water mark are
  * aggregated and appended. Works because day-grain groups never span
  * partitions (the lake is partitioned by the same day key the rollup
  * groups on).
  *
  * One pass per update: the delta is aggregated once, by the write that
  * stages it ([[LakeFs.stagedAppend]]), which also observes its row
  * count; an empty delta lands nothing. The rollup's schema is the
  * aggregation's, known from analysis alone, so the existing rollup and
  * the returned frame are read with it and no footer is inferred.
  *
  * Generalizes the reference's "periodic batch rollups of monitoring
  * samples" to a restatement-free incremental form. Assumes day-closed
  * arrival (the reference's daily batch drops): rows for a day at or
  * below the high-water mark are complete when first rolled; late data
  * for closed days needs a restatement pass, not this fast path.
  */
object IncrementalRollup {

  /** Aggregate `fact` (filtered to days > high-water mark) by day +
    * `keys`, append to the rollup at `rollupPath`, and return the
    * updated rollup frame — empty, with the rollup's schema, while no
    * row has been rolled (no directory is created for an empty delta).
    * `aggs` must be day-local (sum/count/min/max — anything
    * distributive).
    */
  def update(spark: SparkSession, fact: DataFrame, tsCol: String,
             keys: Seq[String], aggs: Map[String, String],
             rollupPath: String): DataFrame = {
    def rollup(df: DataFrame): DataFrame = df
      .groupBy((to_date(col(tsCol)).as("day") +: keys.map(col)): _*)
      .agg(aggs.head match { case (c, f) => expr(s"$f($c)").as(s"${f}_$c") },
        aggs.tail.map { case (c, f) => expr(s"$f($c)").as(s"${f}_$c") }.toSeq: _*)
    val schema = rollup(fact).schema
    def existing(): Option[DataFrame] =
      if (LakeFs.isDirectory(spark, rollupPath)) Some(spark.read.schema(schema).parquet(rollupPath))
      else None

    // high-water mark joined into the plan as a broadcast scalar — no
    // driver-side action; NULL hw (empty rollup) keeps every row
    val fresh = existing() match {
      case Some(roll) =>
        val hw = roll.agg(max(col("day")).as("graft_hw"))
        fact.crossJoin(broadcast(hw))
          .filter(col("graft_hw").isNull || to_date(col(tsCol)) > col("graft_hw"))
          .drop("graft_hw")
      case None => fact
    }

    val rows = new Observation()
    val delta = rollup(fresh).observe(rows, count(lit(1)).as("n"))
    LakeFs.stagedAppend(spark, rollupPath, tag = "rollup")(LakeFs.writeParquet(delta, _))(
      rows.get("n").asInstanceOf[Long] > 0)
    existing().getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
  }
}
