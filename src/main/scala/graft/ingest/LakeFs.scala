package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Lake filesystem operations through `org.apache.hadoop.fs.FileSystem`
  * (resolved per-path from the session's Hadoop conf), NOT
  * `java.nio.file` — so the stage-and-swap sinks (Upsert, compact,
  * IncrementalRollup) run unchanged on the stores a 100 TB deployment
  * actually uses: HDFS, S3A, GCS, local file://. `java.nio` only ever
  * worked on the local FS.
  *
  * Atomicity caveat, by store: HDFS rename is atomic; S3A rename is a
  * non-atomic server-side copy (the swap's "brief no-directory window"
  * widens to the copy duration there — run compactions in a maintenance
  * window, or front the lake with a table format). Local file rename is
  * atomic within a mount.
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

  /** Where a stage-and-swap of `dst` writes before [[swap]]. */
  def stagePath(dst: String, tag: String): String = dst.stripSuffix("/") + s"__${tag}_tmp"

  /** Stage-and-swap: `write` fills [[stagePath]], which then replaces
    * `dst` (see [[swap]]).
    */
  def replace(spark: SparkSession, dst: String, tag: String)(write: String => Unit): Unit = {
    val tmp = stagePath(dst, tag)
    write(tmp)
    swap(spark, dst, tmp, tag)
  }

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
