package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ingest.LakeFs

/** Keyed upsert (MERGE) into a parquet lake — the third load mode next
  * to append and stage-and-swap full refresh (graft.ingest.JdbcSink):
  * new keys insert, existing keys take the incoming row. Plain parquet
  * has no transactional MERGE, so the operator uses the same
  * stage-and-swap discipline as ParquetSink.compact: resolve the merge
  * into a staged rewrite, then two atomic renames.
  *
  * Scale posture: the merge itself is one shuffle on the key
  * (row_number over key, incoming rows ranked above existing — no
  * driver-side state, no collect). The rewrite cost is the lake, which
  * is why real 100 TB lakes use [[intoPartitionedParquet]]: only the
  * partitions the incoming batch touches are read, merged, and
  * swapped; untouched partitions are never rewritten (or even read).
  */
object Upsert {

  /** Merge `incoming` into the lake at `path` by `keys` (latest wins,
    * incoming over existing; ties WITHIN incoming broken by descending
    * `versionCol` then deterministic key order). Returns the merged
    * frame count. */
  def intoParquet(spark: SparkSession, path: String, incoming: DataFrame,
                  keys: Seq[String], versionCol: String): Long = {
    merge(spark, path, incoming, keys, versionCol)
    spark.read.parquet(path).count()
  }

  /** The write path of [[intoParquet]] without the read-back count —
    * for callers that upsert repeatedly (the streaming foreachBatch
    * sink), where even a footer-only count of the whole lake per
    * micro-batch is avoidable overhead. */
  def merge(spark: SparkSession, path: String, incoming: DataFrame,
            keys: Seq[String], versionCol: String): Unit = {
    val merged =
      if (!LakeFs.isDirectory(spark, path)) dedupLatest(incoming, keys, versionCol)
      else {
        val existing = spark.read.parquet(path)
        val all = existing.withColumn("graft_src", lit(0))
          .unionByName(incoming.withColumn("graft_src", lit(1)))
        dedupLatest(all, keys, versionCol, srcCol = Some("graft_src"))
          .drop("graft_src")
      }
    LakeFs.replace(spark, path, tag = "upsert")(merged.write.mode(SaveMode.Overwrite).parquet)
  }

  /** Partition-scoped MERGE into a Hive-layout lake partitioned by
    * `partCol`: only partitions present in `incoming` are read, merged
    * (latest wins, as [[intoParquet]]), and swapped — the 100 TB upsert
    * path, where a daily batch touching 3 days of a 5-year lake
    * rewrites 3 partition directories, not the lake.
    *
    * Contract: a key's partition value must be stable across batches
    * (the standard partition-scoped MERGE contract, cf. Delta
    * `replaceWhere`). A key that arrives under a NEW partition value
    * is inserted there without visiting — or removing — its old
    * partition's copy; callers with mutable partition keys need
    * [[intoParquet]]'s full-lake merge.
    *
    * The touched-partition directory list is collected to the driver:
    * it is bounded by the batch's distinct partition values (days, not
    * rows), and is read back from the STAGED write's own directory
    * names, so Hive escaping (`%3A` for ':', `__HIVE_DEFAULT_PARTITION__`
    * for null) can never desynchronize the swap from the data. Each
    * touched partition is swapped rename-away/rename-in (the LakeFs.swap
    * discipline), so an untouched partition is never without its
    * directory and a touched one is missing only for the gap between
    * two renames; a reader racing that gap sees old-or-new, per
    * partition.
    */
  def intoPartitionedParquet(spark: SparkSession, path: String, incoming: DataFrame,
                             keys: Seq[String], versionCol: String,
                             partCol: String): Long = {
    val merged =
      if (!LakeFs.isDirectory(spark, path)) dedupLatest(incoming, keys, versionCol)
      else {
        val touched = incoming.select(col(partCol)).distinct().collect()
          .map(_.get(0))
        val touchedNonNull = touched.filter(_ != null)
        // Null partition values land in __HIVE_DEFAULT_PARTITION__; scope
        // the existing-side read to include them iff the batch has them,
        // so their lake copies join the merge instead of being clobbered.
        val scopeFilter =
          if (touched.contains(null) && touchedNonNull.nonEmpty)
            col(partCol).isin(touchedNonNull.toIndexedSeq: _*) || col(partCol).isNull
          else if (touched.contains(null)) col(partCol).isNull
          else col(partCol).isin(touchedNonNull.toIndexedSeq: _*)
        val existingScoped = spark.read.parquet(path).filter(scopeFilter)
        dedupLatest(
          existingScoped.withColumn("graft_src", lit(0))
            .unionByName(incoming.withColumn("graft_src", lit(1))
              .select(existingScoped.columns.map(col).toIndexedSeq :+ col("graft_src"): _*)),
          keys, versionCol, srcCol = Some("graft_src"))
          .drop("graft_src")
      }
    val tmp = LakeFs.stagePath(path, tag = "upsert_parts")
    merged.write.partitionBy(partCol).mode(SaveMode.Overwrite).parquet(tmp)
    // Swap the partition directories the staged write ACTUALLY
    // produced (already Hive-escaped), not names recomputed from
    // values — the two can differ and a miss would drop data.
    val fs = LakeFs.fs(spark, path)
    fs.mkdirs(new Path(path))
    fs.listStatus(new Path(tmp)).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .foreach(s => LakeFs.swap(spark, new Path(path, s.getPath.getName).toString,
        s.getPath.toString, tag = "upsert"))
    fs.delete(new Path(tmp), true)
    spark.read.parquet(path).count()
  }

  /** One row per key: highest (srcCol, versionCol) wins — srcCol first
    * so any incoming row beats any existing row regardless of version
    * (MERGE semantics), version orders within a side. A content-hash
    * tiebreak makes even a pathological batch (same key+version,
    * different payloads) resolve deterministically instead of by
    * partition order. */
  private[operators] def dedupLatest(df: DataFrame, keys: Seq[String],
                                     versionCol: String,
                                     srcCol: Option[String] = None): DataFrame = {
    val order = srcCol.map(col(_).desc).toSeq ++
      Seq(col(versionCol).desc) :+
      xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).asc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
  }
}
