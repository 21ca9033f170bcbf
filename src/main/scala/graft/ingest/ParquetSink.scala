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
    LakeFs.writeParquet(
      df.withColumn("part_year", year(col(tsCol)))
        .withColumn("part_month", month(col(tsCol)))
        .sortWithinPartitions(col("part_year"), col("part_month"), col(tsCol)),
      path, partitionBy = Seq("part_year", "part_month"), mode = mode)

  /** Compact a lake directory in place: rewrite to ~`targetPartitions`
    * files per write, PRESERVING the lake's partition layout (a flat
    * rewrite of a year/month lake would silently destroy partition
    * pruning and break later partitioned appends into the same path).
    * Streaming / per-batch appends accumulate small files; at 100 TB the
    * small-file problem costs more than the data — scan tasks, NameNode
    * pressure, footer reads all scale with file count, not bytes.
    *
    * The read merges every file's footer schema (`mergeSchema`): a plain
    * parquet read takes the schema of one file, so on a lake that gained
    * a column by add-only evolution the rewrite would keep or drop that
    * column depending on which file was listed first. The rewrite goes
    * through [[LakeFs.writeParquet]], so it also converts older files to
    * the lake's current codec.
    *
    * The swap is two Hadoop-FS renames (old→bak, tmp→dst): atomic each
    * on HDFS/local (non-atomic copy on S3A — see LakeFs), with a brief
    * window with no directory at `path`; readers racing a compaction
    * should retry, or compaction should run in a maintenance window.
    */
  def compact(spark: SparkSession, path: String, targetPartitions: Int): Unit = {
    val fs = LakeFs.fs(spark, path)
    val partCols = LakeFs.partitionColumns(fs, path)
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val rewritten =
      if (partCols.isEmpty) df.repartition(targetPartitions)
      else df.repartition(targetPartitions, partCols.map(col): _*)
    LakeFs.replace(fs, path, tag = "compact")(LakeFs.writeParquet(rewritten, _, partitionBy = partCols))
  }
}
