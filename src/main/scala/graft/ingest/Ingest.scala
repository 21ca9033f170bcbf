package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's batch-ETL loop re-expressed on Spark (SURVEY.md §3.4):
  * discover CSV batches + manifest sidecars, read with reject
  * quarantine, evolve the schema add-only, dedup within the batch, land
  * in a parquet lake (the offline stand-in for the Greenplum sink — the
  * JDBC path is JdbcSink), archive inputs.
  *
  * All filesystem choreography (discovery, quarantine, archive,
  * full-refresh swap) goes through `org.apache.hadoop.fs.FileSystem`,
  * so upload/lake/archive directories may live on HDFS/S3A/local
  * interchangeably — a 100 TB deployment's landing zone is a shared
  * store, not the driver's local disk. A run builds the session's
  * Hadoop conf once and resolves each directory's FileSystem from it.
  *
  * Scale posture: each batch is APPENDED as new parquet files — history
  * is never rewritten — and costs one pass over its own rows:
  *   1. stage: one PERMISSIVE read of the batch flows through align and
  *      dedup into a parquet write to a stage directory
  *      ([[LakeFs.stagePath]]); the reject and loaded counts are observed
  *      on that write, not counted by separate jobs. A batch no bigger
  *      than one of Spark's file splits is deduped in one task, with no
  *      exchange ([[LakeFs.oneTaskIfSmall]]), so a small batch costs one
  *      Spark job;
  *   2. gate: over the reject limit the stage is deleted and the table
  *      fails (quarantine) with nothing landed;
  *   3. land: the stage's files move into the table directory
  *      ([[LakeFs.stagedAppend]]), or the stage replaces it for a
  *      full-refresh table ([[LakeFs.replace]]);
  *   4. record: one commit record per landed batch goes into
  *      `<table>/_graft_log/` ([[LakeFs.commit]]: batch id, the written
  *      schema, the files, the counts); then the inputs are archived.
  * Add-only column evolution needs no rewrite: every batch is written
  * with the evolved schema, so the newest record's schema reads the
  * whole table ([[readLake]]) and a 100 TB lake absorbs a new column at
  * the cost of one batch.
  *
  * Layout expected under `uploadDir`:
  *   <table>/<batch>.csv[.gz]       data files (any number, none is fine)
  *   <table>/manifest.txt           column manifest (Manifest.parse)
  */
object Ingest {

  final case class TableReport(
      table: String,
      files: Seq[String],
      loaded: Long,
      rejected: Long,
      evolvedColumns: Seq[String],
      failed: Option[String] = None)

  final case class Config(
      uploadDir: String,
      lakeDir: String,
      archiveDir: String,
      errorDir: String = "",
      rejectLimit: Long = 1000,
      dedupKeys: Seq[String] = Nil,
      /** Tables with full-refresh semantics (the reference's dimension
        * class): each batch REPLACES the table via stage-and-swap
        * instead of appending.
        */
      fullRefreshTables: Set[String] = Set.empty)

  /** One run's Hadoop conf, built once, and the FileSystem of each of
    * its directories, resolved from it by the directory's own path. */
  private final case class Stores(hconf: Configuration, upload: FileSystem, lake: FileSystem,
                                  archive: FileSystem)

  /** One tick of the loop. Deterministic table/file ordering (the
    * reference processed files in a fixed order — D-rule parity).
    * A failing table quarantines its files to the error folder and
    * does NOT abort the tick — per-table isolation, like the
    * reference's retry/error folders.
    */
  def run(spark: SparkSession, conf: Config): Seq[TableReport] = {
    val hconf = spark.sessionState.newHadoopConf()
    def store(dir: String) = new Path(dir).getFileSystem(hconf)
    val fs = store(conf.uploadDir)
    if (!LakeFs.isDirectory(fs, conf.uploadDir)) return Nil
    val stores = Stores(hconf, fs, store(conf.lakeDir), store(conf.archiveDir))
    val tables = fs.listStatus(new Path(conf.uploadDir)).filter(_.isDirectory)
      .map(_.getPath).sortBy(_.getName).toSeq
    tables.map { dir =>
      val table = dir.getName
      // the one file list per table: what is read is what is archived
      // or quarantined (a partial `b.csv.tmp` upload is none of them)
      val files = listCsv(fs, dir)
      if (files.isEmpty) TableReport(table, Nil, 0, 0, Nil)
      else try loadTable(spark, conf, stores, dir, files)
      catch {
        case e: Exception =>
          // Default quarantine root: a sibling of the archive dir. Built
          // with Path.getParent, not a literal "..", which HDFS rejects
          // as an invalid path component.
          val errRoot =
            if (conf.errorDir.nonEmpty) new Path(conf.errorDir)
            else {
              val a = new Path(conf.archiveDir)
              Option(a.getParent).map(new Path(_, "error"))
                .getOrElse(new Path(a, "error"))
            }
          val err = new Path(errRoot, table)
          val errFs = err.getFileSystem(hconf)
          errFs.mkdirs(err)
          files.foreach(f => moveReplacing(hconf, fs, f.getPath, errFs, err))
          TableReport(table, files.map(_.getPath.toString), 0, 0, Nil, failed = Some(e.getMessage))
      }
    }
  }

  /** The table's batch files, sorted by path; their statuses carry the
    * sizes the batch id and the one-task rule use, so no file is stat'ed
    * twice. */
  private def listCsv(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).iterator
      .filter { s =>
        val n = s.getPath.getName
        n.endsWith(".csv") || n.endsWith(".csv.gz")
      }
      .toSeq.sortBy(_.getPath.toString)

  /** Move `src` into directory `dstDir` on `dstFs`, replacing any prior
    * copy — the Hadoop-FS equivalent of REPLACE_EXISTING (rename refuses
    * to clobber on most stores). Upload and archive/error may live on
    * different stores, in which case rename is impossible and the move
    * degrades to copy+delete.
    */
  private def moveReplacing(hconf: Configuration, srcFs: FileSystem, src: Path,
                            dstFs: FileSystem, dstDir: Path): Unit = {
    val dst = new Path(dstDir, src.getName)
    if (dstFs.exists(dst)) dstFs.delete(dst, false)
    val ok =
      if (srcFs.getUri == dstFs.getUri) srcFs.rename(src, dst)
      else org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst, true, hconf)
    if (!ok) throw new java.io.IOException(s"move $src -> $dst failed")
  }

  /** Lake reader: the table read with its newest commit record's schema,
    * which every add-only evolved batch extends, so no parquet footer is
    * read to plan it. A table with no `_graft_log/` — a lake written
    * before the commit log existed, or rewritten by `compact`/`Upsert`
    * — is read with parquet `mergeSchema` instead, which unions the
    * footers of every file.
    */
  def readLake(spark: SparkSession, conf: Config, table: String): DataFrame = {
    val dir = s"${conf.lakeDir}/$table"
    readLake(spark, LakeFs.fs(spark, dir), dir)
  }

  private def readLake(spark: SparkSession, fs: FileSystem, dir: String): DataFrame =
    LakeFs.loggedSchema(fs, dir).fold(mergedRead(spark, dir))(spark.read.schema(_).parquet(dir))

  private def mergedRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** A batch's identity: a hash of its sorted input file names and sizes. */
  private def batchId(files: Seq[FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(s => s"${s.getPath.getName}\t${s.getLen}\n")
      .sorted.foreach(l => md.update(l.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def loadTable(spark: SparkSession, conf: Config, stores: Stores,
                        dir: Path, files: Seq[FileStatus]): TableReport = {
    val table = dir.getName
    val manifest = {
      val in = stores.upload.open(new Path(dir, "manifest.txt"))
      try Manifest.parse(new String(in.readAllBytes(), "UTF-8"))
      finally in.close()
    }
    val paths = files.map(_.getPath.toString)

    // One read of the batch. The reject count is observed on the raw
    // PERMISSIVE read, before the corrupt filter, and rides the lake
    // write like the loaded count below. PERMISSIVE parses only the
    // columns a plan needs, but the write needs every column, so each row
    // is parsed whole, once: the reject count and the landed rows come
    // from the same parse, which is all a cache of the read would buy.
    val rejectObs = new Observation()
    val valid = CsvSource.permissive(spark, manifest).option("header", "true").csv(paths: _*)
      .observe(rejectObs, count(col(CsvSource.CORRUPT)).as("n_rejected"))
      .filter(col(CsvSource.CORRUPT).isNull).drop(CsvSource.CORRUPT)

    // Add-only evolution: conform this batch to live-schema ∪ manifest.
    // (Full-refresh tables replace contents, but their schema still only
    // grows — the reference never drops or retypes.)
    val target = s"${conf.lakeDir}/$table"
    val fullRefresh = conf.fullRefreshTables.contains(table)
    val (aligned, evolvedCols) =
      if (LakeFs.isDirectory(stores.lake, target)) {
        // the newest record holds the schema; only a table without one
        // pays the mergeSchema read, which lists every data file
        val live = LakeFs.loggedSchema(stores.lake, target).getOrElse(mergedRead(spark, target).schema)
        val evolved = SchemaEvolution.evolve(live, valid.schema)
        val newCols = evolved.fieldNames.diff(live.fieldNames).toSeq
        (SchemaEvolution.align(valid, evolved), newCols)
      } else (valid, Nil)

    // Idempotent re-import within the batch: deterministic keep-first
    // dedup when keys are declared (row_number, not dropDuplicates — D4).
    // A batch of one split's size takes one task and no exchange.
    val deduped =
      if (conf.dedupKeys.nonEmpty) {
        val w = Window.partitionBy(conf.dedupKeys.map(col): _*)
          .orderBy(aligned.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
        LakeFs.oneTaskIfSmall(spark, aligned, files.map(_.getLen).sum, files.size)
          .withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") === 1).drop("_graft_rn")
      } else aligned

    // Stage → gate → land → record. The loaded count rides the write as
    // an observed metric, like the reject count (§1.2). The write goes to
    // a stage; the reject gate runs once it has observed the count, and
    // throws BEFORE anything lands in the lake (the reference's rule),
    // with the message CsvSource.enforceRejectLimit uses.
    val loadedObs = new Observation()
    val observed = deduped.observe(loadedObs, count(lit(1)).as("n_loaded"))
    def write(stage: String): Unit = LakeFs.writeParquet(observed, stage)
    lazy val rejected: Long = {
      val n = rejectObs.get("n_rejected").asInstanceOf[Long]
      if (n > conf.rejectLimit)
        throw new IllegalStateException(s"reject limit exceeded: $n > ${conf.rejectLimit}")
      n
    }
    lazy val loaded = loadedObs.get("n_loaded").asInstanceOf[Long]
    def record(dir: String, landed: Seq[String]): Unit =
      LakeFs.commit(stores.lake, dir, observed.schema, landed,
        "batch_id" -> batchId(files), "loaded" -> loaded, "rejected" -> rejected)
    // Full refresh is the reference's dimension class: stage-and-swap
    // (LakeFs.replace), so readers never see a partially-replaced table;
    // its record goes into the stage, gated, before the swap.
    if (fullRefresh)
      LakeFs.replace(stores.lake, target, tag = "refresh") { stage =>
        write(stage)
        record(stage, LakeFs.dataFiles(stores.lake, stage).map(_.getName))
      }
    else
      record(target, LakeFs.stagedAppend(stores.lake, target, tag = "append")(write)(rejected <= conf.rejectLimit))

    // Archive inputs (FS move, driver-side — same as the reference).
    val archive = new Path(conf.archiveDir, table)
    stores.archive.mkdirs(archive)
    files.foreach(f => moveReplacing(stores.hconf, stores.upload, f.getPath, stores.archive, archive))
    TableReport(table, paths, loaded, rejected, evolvedCols)
  }
}
