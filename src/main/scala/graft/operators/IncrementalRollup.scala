package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}
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
  * count and its newest day; an empty delta lands nothing. A fact no
  * bigger than one of Spark's file splits is aggregated in one task,
  * with no exchange ([[LakeFs.oneTaskIfSmall]]). The rollup's schema is
  * the aggregation's, known from analysis alone, so the existing rollup
  * and the returned frame are read with it and no footer is inferred.
  *
  * The high-water mark lives in the rollup's own commit log: each landed
  * delta writes one record ([[LakeFs.commit]]) with its newest day as
  * `high_water`, and the next update reads it from the newest record. It
  * reaches the plan as a one-row broadcast frame, not a literal, so a
  * mark that moves every update does not compile new generated code
  * every update. A rollup with no record (written before the log, or
  * rewritten by `ParquetSink.compact`) takes its `max(day)` instead,
  * read in the plan, and has a record from its next delta on.
  *
  * Generalizes the reference's "periodic batch rollups of monitoring
  * samples" to a restatement-free incremental form. Assumes day-closed
  * arrival (the reference's daily batch drops): rows for a day at or
  * below the high-water mark are complete when first rolled; late data
  * for closed days needs a restatement pass, not this fast path.
  */
object IncrementalRollup {

  /** The commit-record field holding the newest rolled day (ISO date). */
  private val HighWater = "high_water"

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
    val fs = LakeFs.fs(spark, rollupPath)
    val existed = LakeFs.isDirectory(fs, rollupPath)
    def existing: DataFrame = spark.read.schema(schema).parquet(rollupPath)

    // the high-water mark as a one-row broadcast frame; NULL hw (a rollup
    // directory without rows) keeps every row
    val hw: Option[DataFrame] =
      if (!existed) None
      else Some(LakeFs.newestRecord(fs, rollupPath).flatMap(r => Option(r.get(HighWater))) match {
        case Some(day) =>
          spark.createDataFrame(java.util.List.of(Row(java.sql.Date.valueOf(day.asText))),
            StructType(Seq(StructField("graft_hw", DateType))))
        case None => existing.agg(max(col("day")).as("graft_hw"))
      })
    val size = fact.queryExecution.optimizedPlan.stats.sizeInBytes.min(Long.MaxValue).toLong
    val input = LakeFs.oneTaskIfSmall(spark, fact, size, fact.inputFiles.length)
    val fresh = hw.fold(input)(h => input.crossJoin(broadcast(h))
      .filter(col("graft_hw").isNull || to_date(col(tsCol)) > col("graft_hw"))
      .drop("graft_hw"))

    val obs = new Observation()
    val delta = rollup(fresh).observe(obs, count(lit(1)).as("n"), max(col("day")).as("hw"))
    lazy val rows = obs.get("n").asInstanceOf[Long]
    val landed = LakeFs.stagedAppend(fs, rollupPath, tag = "rollup")(LakeFs.writeParquet(delta, _))(rows > 0)
    if (landed.nonEmpty)
      LakeFs.commit(fs, rollupPath, schema, landed, "rows" -> rows, HighWater -> obs.get("hw").toString)
    if (existed || landed.nonEmpty) existing
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }
}
