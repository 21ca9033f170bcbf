package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, month, year}

/** Partitioned parquet lake sink (SURVEY.md §2B B5): year/month layout
  * so time-range queries prune partitions — at 100 TB this is the
  * difference between scanning a month and scanning the lake.
  */
object ParquetSink {

  /** Write `df` partitioned by (year, month) of `tsCol`, rows sorted by
    * the timestamp within each file so parquet row-group min/max stats
    * support time-range skipping WITHIN a partition too (partition
    * pruning gets a query to the right month; row-group stats get it to
    * the right days).
    */
  def writePartitioned(df: DataFrame, tsCol: String, path: String,
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("part_year", year(col(tsCol)))
      .withColumn("part_month", month(col(tsCol)))
      .sortWithinPartitions(col("part_year"), col("part_month"), col(tsCol))
      .write
      .partitionBy("part_year", "part_month")
      .mode(mode)
      .parquet(path)

  /** Compact a lake directory in place: rewrite to ~`targetPartitions`
    * files per write, PRESERVING the lake's partition layout (a flat
    * rewrite of a year/month lake would silently destroy partition
    * pruning and break later partitioned appends into the same path).
    * Streaming / per-batch appends accumulate small files; at 100 TB the
    * small-file problem costs more than the data — scan tasks, NameNode
    * pressure, footer reads all scale with file count, not bytes.
    *
    * The swap is two Hadoop-FS renames (old→bak, tmp→dst): atomic each
    * on HDFS/local (non-atomic copy on S3A — see LakeFs), with a brief
    * window with no directory at `path`; readers racing a compaction
    * should retry, or compaction should run in a maintenance window.
    */
  def compact(spark: SparkSession, path: String, targetPartitions: Int): Unit = {
    val partCols = LakeFs.partitionColumns(spark, path)
    val df = spark.read.parquet(path)
    val writer =
      if (partCols.isEmpty) df.repartition(targetPartitions).write
      else df.repartition(targetPartitions, partCols.map(col): _*)
        .write.partitionBy(partCols: _*)
    LakeFs.replace(spark, path, tag = "compact")(writer.mode(SaveMode.Overwrite).parquet)
  }
}
