package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Lake filesystem operations through `org.apache.hadoop.fs.FileSystem`
  * (resolved per-path from the session's Hadoop conf), NOT
  * `java.nio.file` — so the staged sinks (Ingest, Upsert, compact,
  * IncrementalRollup) run unchanged on the stores a 100 TB deployment
  * actually uses: HDFS, S3A, GCS, local file://. `java.nio` only ever
  * worked on the local FS.
  *
  * The sinks stage their writes: the writer fills [[stagePath]], a gate
  * decides, and only then does anything land in the table directory —
  * by [[replace]] (the stage becomes the table) or [[stagedAppend]]
  * (the stage's data files move into it). A batch that fails its gate,
  * or whose writer throws, leaves the table as it was and no stage
  * behind.
  *
  * The lake's file format is parquet with zstd column chunks, and
  * [[writeParquet]] is the one call that writes it: the ingest stage,
  * the rollup delta, `ParquetSink` and `Upsert` all go through it, so
  * the format is stated once and no session conf can change it. Parquet
  * records the codec per column chunk, so readers need nothing: a lake
  * whose older files are snappy (written before zstd) reads as one
  * table, and `ParquetSink.compact` rewrites such files as zstd.
  *
  * Atomicity caveat, by store: HDFS rename is atomic; S3A rename is a
  * non-atomic server-side copy (the swap's "brief no-directory window"
  * widens to the copy duration there — run compactions in a maintenance
  * window, or front the lake with a table format). Local file rename is
  * atomic within a mount. A staged append moves its files one rename
  * each, so a crash part-way through it lands part of the batch.
  */
object LakeFs {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def isDirectory(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** First-level `name=value` partition directory names under `path`,
    * descending into the first match per level (Hive layout discovery,
    * same convention Spark's own partition discovery uses).
    */
  def partitionColumns(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    @annotation.tailrec
    def loop(dir: Path, acc: Vector[String]): Vector[String] = {
      val next = f.listStatus(dir).iterator
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(s => (s.getPath, s.getPath.getName.takeWhile(_ != '=')))
        .nextOption()
      next match {
        case Some((p, colName)) => loop(p, acc :+ colName)
        case None               => acc
      }
    }
    loop(new Path(path), Vector.empty)
  }

  /** Writes `df` to `dir` as the lake's parquet files (zstd), in Hive
    * layout by `partitionBy` when given. The `compression` option takes
    * precedence over `spark.sql.parquet.compression.codec`, so the codec
    * does not depend on the session's conf.
    */
  def writeParquet(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.partitionBy(partitionBy: _*).mode(mode).option("compression", "zstd").parquet(dir)

  /** Where a stage-and-swap of `dst` writes before [[swap]]. */
  def stagePath(dst: String, tag: String): String = dst.stripSuffix("/") + s"__${tag}_tmp"

  /** Stage-and-swap: `write` fills [[stagePath]], which then replaces
    * `dst` (see [[swap]]). A `write` that throws leaves `dst` as it was
    * and the stage deleted.
    */
  def replace(spark: SparkSession, dst: String, tag: String)(write: String => Unit): Unit = {
    val tmp = stagePath(dst, tag)
    try {
      write(tmp)
      swap(spark, dst, tmp, tag)
    } finally fs(spark, tmp).delete(new Path(tmp), true)
  }

  /** Staged append into a flat (unpartitioned) directory: `write` fills
    * [[stagePath]]; if `keep` then holds, the stage's data files move
    * into `dst` (created if absent). Returns the names that landed —
    * none when `keep` is false. The stage is deleted in every case, also
    * when `write` or `keep` throws, so a gate that throws lands nothing.
    * Spark names every file it writes with a fresh UUID, so a move never
    * meets an existing name.
    */
  def stagedAppend(spark: SparkSession, dst: String, tag: String)(write: String => Unit)(
      keep: => Boolean): Seq[String] = {
    val tmp = new Path(stagePath(dst, tag))
    val f = fs(spark, dst)
    try {
      write(tmp.toString)
      if (!keep) Nil
      else {
        val dstP = new Path(dst)
        f.mkdirs(dstP)
        dataFiles(spark, tmp.toString).map { src =>
          // on a checksummed store (the local FS) rename moves the .crc too
          if (!f.rename(src, new Path(dstP, src.getName)))
            throw new java.io.IOException(s"stagedAppend: move $src -> $dstP failed")
          src.getName
        }
      }
    } finally f.delete(tmp, true)
  }

  /** The data files directly under `dir`: every file whose name starts
    * with neither `_` nor `.` (Spark's own rule for what a reader sees).
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[Path] =
    fs(spark, dir).listStatus(new Path(dir)).iterator
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath).toSeq.sortBy(_.getName)

  /** `dst` → `<dst>__<tag>_old` → deleted, `tmp` → `dst`; a single
    * rename when `dst` does not exist yet. Each rename is atomic on
    * HDFS/local (see class doc for S3A); the window between the two
    * renames has no directory at `dst`.
    */
  def swap(spark: SparkSession, dst: String, tmp: String, tag: String): Unit = {
    val f = fs(spark, dst)
    val dstP = new Path(dst)
    val bakP = new Path(dst.stripSuffix("/") + s"__${tag}_old")
    val hadOld = f.exists(dstP)
    if (hadOld && !f.rename(dstP, bakP))
      throw new java.io.IOException(s"swap: rename $dstP -> $bakP failed")
    if (!f.rename(new Path(tmp), dstP))
      throw new java.io.IOException(s"swap: rename $tmp -> $dstP failed")
    if (hadOld) f.delete(bakP, true) // best-effort cleanup of the old generation
  }
}
