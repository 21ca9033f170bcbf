package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.{DataType, StructType}

/** Lake filesystem operations through `org.apache.hadoop.fs.FileSystem`
  * (resolved per-path from the session's Hadoop conf), NOT
  * `java.nio.file` — so the staged sinks (Ingest, Upsert, compact,
  * IncrementalRollup) run unchanged on the stores a 100 TB deployment
  * actually uses: HDFS, S3A, GCS, local file://. `java.nio` only ever
  * worked on the local FS. Every operation takes the `FileSystem` of its
  * path: a caller resolves it once with [[fs]] and passes it to each
  * step, since building the session's Hadoop conf costs more than the
  * filesystem call it serves. One exception: [[commit]] writes and
  * renames a record with `java.nio` when the `FileSystem` is Hadoop's
  * local one, whose `create` forks `chmod` for each file it makes.
  *
  * The sinks stage their writes: the writer fills [[stagePath]], a gate
  * decides, and only then does anything land in the table directory —
  * by [[replace]] (the stage becomes the table) or [[stagedAppend]]
  * (the stage's data files move into it). A batch that fails its gate,
  * or whose writer throws, leaves the table as it was and no stage
  * behind.
  *
  * The lake's file format is stated here once, and [[writeParquet]] is
  * the one call that writes it: the ingest stage, the rollup delta,
  * `ParquetSink` and `Upsert` all go through it, and no session conf can
  * change it. The format is parquet with zstd column chunks at zstd's
  * default level, in Parquet v2 data pages. A v2 writer encodes a column
  * whose dictionary pays as RLE_DICTIONARY, and falls back to
  * DELTA_BINARY_PACKED for int and long columns (a sorted or all-distinct
  * key costs a few bits a row), to DELTA_BYTE_ARRAY for strings and to
  * PLAIN for doubles. So another reader of the lake must read zstd, v2
  * data pages and those encodings, as Spark's vectorized reader does.
  * Parquet records the codec, the page version and the encodings per
  * column chunk, so a lake whose older files are snappy or v1 reads as
  * one table, and `ParquetSink.compact` rewrites such files in the
  * current format. It writes no `_SUCCESS` marker: no reader looks for
  * one, and a staged append moves only data files.
  *
  * A table that takes batches keeps a commit log, one JSON record per
  * landed batch under `<table>/_graft_log/` ([[commit]]): the importer
  * records each batch's schema, files and counts there, and
  * `IncrementalRollup` its high-water mark. Readers take the newest
  * record ([[newestRecord]], [[loggedSchema]]).
  *
  * Atomicity caveat, by store: HDFS rename is atomic; S3A rename is a
  * non-atomic server-side copy (the swap's "brief no-directory window"
  * widens to the copy duration there — run compactions in a maintenance
  * window, or front the lake with a table format). Local file rename is
  * atomic within a mount. A staged append moves its files one rename
  * each, so a crash part-way through it lands part of the batch.
  */
object LakeFs {

  /** The FileSystem of `path`, from a fresh copy of the session's Hadoop
    * conf. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def isDirectory(fs: FileSystem, path: String): Boolean =
    try fs.getFileStatus(new Path(path)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  /** First-level `name=value` partition directory names under `path`,
    * descending into the first match per level (Hive layout discovery,
    * same convention Spark's own partition discovery uses).
    */
  def partitionColumns(fs: FileSystem, path: String): Seq[String] = {
    @annotation.tailrec
    def loop(dir: Path, acc: Vector[String]): Vector[String] = {
      val next = fs.listStatus(dir).iterator
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

  /** Writes `df` to `dir` as the lake's parquet files (zstd, v2 data
    * pages; see the class doc), in Hive layout by `partitionBy` when
    * given. The `compression` option takes precedence over
    * `spark.sql.parquet.compression.codec`, so the codec does not depend
    * on the session's conf. Write options reach the write's Hadoop conf,
    * where parquet's writer takes its page version and the output
    * committer its `_SUCCESS` marker (turned off).
    */
  def writeParquet(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.partitionBy(partitionBy: _*).mode(mode)
      .option("compression", "zstd")
      .option("parquet.writer.version", "v2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir)

  /** `df` in one partition when its input, `bytes` in `files` files, is
    * no bigger than the split Spark's file scan would cut for it
    * (`FilePartition.maxSplitBytes`: `spark.sql.files.maxPartitionBytes`,
    * `openCostInBytes` and the parallelism); otherwise `df` unchanged.
    * One partition satisfies every clustered distribution, so a window or
    * aggregate over the result plans no exchange. At that size the
    * exchange buys nothing: its map stage is a job of its own, and AQE
    * coalesces its output back to one partition anyway.
    */
  def oneTaskIfSmall(spark: SparkSession, df: DataFrame, bytes: Long, files: Int): DataFrame = {
    val open = spark.sessionState.conf.filesOpenCostInBytes
    val split = FilePartition.maxSplitBytes(spark, bytes + files * open)
    if (bytes <= split) df.coalesce(1) else df
  }

  /** Where a stage-and-swap of `dst` writes before [[swap]]. */
  def stagePath(dst: String, tag: String): String = dst.stripSuffix("/") + s"__${tag}_tmp"

  /** Stage-and-swap: `write` fills [[stagePath]], which then replaces
    * `dst` (see [[swap]]). A `write` that throws leaves `dst` as it was
    * and the stage deleted.
    */
  def replace(fs: FileSystem, dst: String, tag: String)(write: String => Unit): Unit = {
    val tmp = stagePath(dst, tag)
    try {
      write(tmp)
      swap(fs, dst, tmp, tag)
    } finally fs.delete(new Path(tmp), true)
  }

  /** Staged append into a flat (unpartitioned) directory: `write` fills
    * [[stagePath]]; if `keep` then holds, the stage's data files move
    * into `dst` (created if absent). Returns the names that landed —
    * none when `keep` is false. The stage is deleted in every case, also
    * when `write` or `keep` throws, so a gate that throws lands nothing.
    * Spark names every file it writes with a fresh UUID, so a move never
    * meets an existing name.
    */
  def stagedAppend(fs: FileSystem, dst: String, tag: String)(write: String => Unit)(
      keep: => Boolean): Seq[String] = {
    val tmp = new Path(stagePath(dst, tag))
    try {
      write(tmp.toString)
      if (!keep) Nil
      else {
        val dstP = new Path(dst)
        fs.mkdirs(dstP)
        dataFiles(fs, tmp.toString).map { src =>
          // on a checksummed store (the local FS) rename moves the .crc too
          if (!fs.rename(src, new Path(dstP, src.getName)))
            throw new java.io.IOException(s"stagedAppend: move $src -> $dstP failed")
          src.getName
        }
      }
    } finally fs.delete(tmp, true)
  }

  /** The data files directly under `dir`: every file whose name starts
    * with neither `_` nor `.` (Spark's own rule for what a reader sees).
    */
  def dataFiles(fs: FileSystem, dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).iterator
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
  def swap(fs: FileSystem, dst: String, tmp: String, tag: String): Unit = {
    val dstP = new Path(dst)
    val bakP = new Path(dst.stripSuffix("/") + s"__${tag}_old")
    val hadOld = fs.exists(dstP)
    if (hadOld && !fs.rename(dstP, bakP))
      throw new java.io.IOException(s"swap: rename $dstP -> $bakP failed")
    if (!fs.rename(new Path(tmp), dstP))
      throw new java.io.IOException(s"swap: rename $tmp -> $dstP failed")
    if (hadOld) fs.delete(bakP, true) // best-effort cleanup of the old generation
  }

  /** The commit log's directory inside a table; Spark's file index skips
    * `_`-prefixed paths, so readers never see it as data. */
  private val LogDir = "_graft_log"
  /** A record's name: its zero-padded sequence number, so name order is
    * commit order. */
  private val RecordName = """(\d{20})\.json""".r
  private val json = new ObjectMapper()

  private def newestRecordPath(fs: FileSystem, dir: String): Option[Path] = {
    val log = try fs.listStatus(new Path(dir, LogDir))
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    log.map(_.getPath).filter(p => RecordName.matches(p.getName)).maxByOption(_.getName)
  }

  /** The newest commit record of the table directory `dir`. */
  def newestRecord(fs: FileSystem, dir: String): Option[JsonNode] =
    newestRecordPath(fs, dir).map { p =>
      val in = fs.open(p)
      try json.readTree(in) finally in.close()
    }

  /** The schema of the newest commit record of `dir`. */
  def loggedSchema(fs: FileSystem, dir: String): Option[StructType] =
    newestRecord(fs, dir).map(rec => DataType.fromJson(rec.get("schema").toString).asInstanceOf[StructType])

  /** Writes the next commit record of the table directory `dir`, as one
    * JSON object: `schema` (Spark's JSON form of the written schema),
    * `files` (the data files the batch landed) and `fields`, each a
    * string or a number (the importer's `batch_id`, `loaded` and
    * `rejected`; the rollup's `rows` and `high_water`).
    *
    * Created atomically — a hidden temp file renamed onto the record's
    * name — so a reader sees a whole record or none. An existing record
    * is never replaced: `FileSystem.rename` refuses an existing target on
    * HDFS, but the local FS's POSIX rename would overwrite it, so the
    * name is checked first, and a commit that finds it taken fails. The
    * check and the rename are two steps; that is safe under the rule the
    * sequence number already relies on: one writer per table. On Hadoop's
    * local FS the temp file is written and moved with `java.nio`
    * (`ATOMIC_MOVE`, a POSIX rename): Hadoop's local `create` forks
    * `chmod` for the file, its `.crc` and a new log directory. Such a
    * record has no `.crc`, which the local FS reads without a check.
    */
  def commit(fs: FileSystem, dir: String, schema: StructType, files: Seq[String],
             fields: (String, Any)*): Unit = {
    val rec = json.createObjectNode()
    rec.set[JsonNode]("schema", json.readTree(schema.json))
    val names = rec.putArray("files")
    files.foreach(names.add)
    fields.foreach { case (k, v) => rec.set[JsonNode](k, json.valueToTree[JsonNode](v)) }
    val next = newestRecordPath(fs, dir).fold(0L) { p =>
      val RecordName(n) = p.getName: @unchecked
      n.toLong + 1
    }
    val log = new Path(dir, LogDir)
    val name = new Path(log, f"$next%020d.json")
    val tmp = new Path(log, s".${name.getName}.${java.util.UUID.randomUUID()}.tmp")
    val bytes = json.writeValueAsBytes(rec)
    val local = localFile(fs)
    local match {
      case Some(file) =>
        Files.createDirectories(file(log))
        Files.write(file(tmp), bytes, StandardOpenOption.CREATE_NEW)
      case None =>
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
    }
    try {
      if (fs.exists(name)) throw new FileAlreadyExistsException(s"commit record $name already exists")
      local match {
        case Some(file) => Files.move(file(tmp), file(name), StandardCopyOption.ATOMIC_MOVE)
        case None =>
          if (!fs.rename(tmp, name)) throw new java.io.IOException(s"commit: rename $tmp -> $name failed")
      }
    } finally fs.delete(tmp, false)
  }

  /** The `java.nio` path of a Hadoop path when `fs` is Hadoop's local FS
    * itself; `None` for every other store, and for a `FileSystem` that
    * wraps the local one, whose calls must go through the wrapper. */
  private def localFile(fs: FileSystem): Option[Path => java.nio.file.Path] = fs match {
    case l: LocalFileSystem    => Some(p => l.pathToFile(p).toPath)
    case r: RawLocalFileSystem => Some(p => r.pathToFile(p).toPath)
    case _                     => None
  }
}
