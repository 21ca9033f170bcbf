package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * store, not the driver's local disk.
  *
  * Scale posture: each batch is APPENDED as new parquet files — history
  * is never rewritten. Add-only column evolution composes with parquet
  * `mergeSchema` on read, so a 100 TB lake absorbs a new column at the
  * cost of one batch, not a rewrite.
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

  /** One tick of the loop. Deterministic table/file ordering (the
    * reference processed files in a fixed order — D-rule parity).
    * A failing table quarantines its files to the error folder and
    * does NOT abort the tick — per-table isolation, like the
    * reference's retry/error folders.
    */
  def run(spark: SparkSession, conf: Config): Seq[TableReport] = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = LakeFs.fs(spark, conf.uploadDir)
    val root = new Path(conf.uploadDir)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return Nil
    val tables = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).sortBy(_.getName).toSeq
    tables.map { dir =>
      val table = dir.getName
      // the one file list per table: what is read is what is archived
      // or quarantined (a partial `b.csv.tmp` upload is none of them)
      val files = listCsv(fs, dir)
      if (files.isEmpty) TableReport(table, Nil, 0, 0, Nil)
      else try loadTable(spark, conf, fs, dir, files)
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
          err.getFileSystem(hconf).mkdirs(err)
          files.foreach(f => moveReplacing(hconf, fs, new Path(f), err))
          TableReport(table, files, 0, 0, Nil, failed = Some(e.getMessage))
      }
    }
  }

  private def listCsv(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).iterator
      .filter { s =>
        val n = s.getPath.getName
        n.endsWith(".csv") || n.endsWith(".csv.gz")
      }
      .map(_.getPath.toString).toSeq.sorted

  /** Move `src` into directory `dstDir`, replacing any prior copy —
    * the Hadoop-FS equivalent of REPLACE_EXISTING (rename refuses to
    * clobber on most stores). The destination's FileSystem is resolved
    * from ITS path, not the source's: upload and archive/error may live
    * on different stores, in which case rename is impossible and the
    * move degrades to copy+delete.
    */
  private def moveReplacing(hconf: org.apache.hadoop.conf.Configuration,
                            srcFs: FileSystem, src: Path, dstDir: Path): Unit = {
    val dstFs = dstDir.getFileSystem(hconf)
    val dst = new Path(dstDir, src.getName)
    if (dstFs.exists(dst)) dstFs.delete(dst, false)
    val ok =
      if (srcFs.getUri == dstFs.getUri) srcFs.rename(src, dst)
      else org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst, true, hconf)
    if (!ok) throw new java.io.IOException(s"move $src -> $dst failed")
  }

  /** Lake reader: mergeSchema unions add-only evolved batches. */
  def readLake(spark: SparkSession, conf: Config, table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"${conf.lakeDir}/$table")

  private def loadTable(spark: SparkSession, conf: Config, fs: FileSystem,
                        dir: Path, files: Seq[String]): TableReport = {
    val table = dir.getName
    val manifest = {
      val in = fs.open(new Path(dir, "manifest.txt"))
      try Manifest.parse(new String(in.readAllBytes(), "UTF-8"))
      finally in.close()
    }

    val res = CsvSource.read(spark, manifest, files: _*)
    val rejected = CsvSource.enforceRejectLimit(res, conf.rejectLimit)

    // Add-only evolution: conform this batch to live-schema ∪ manifest.
    // (Full-refresh tables replace contents, but their schema still only
    // grows — the reference never drops or retypes.)
    val target = s"${conf.lakeDir}/$table"
    val fullRefresh = conf.fullRefreshTables.contains(table)
    val (aligned, evolvedCols) =
      if (LakeFs.isDirectory(spark, target)) {
        val live = readLake(spark, conf, table).schema
        val evolved = SchemaEvolution.evolve(live, res.valid.schema)
        val newCols = evolved.fieldNames.diff(live.fieldNames).toSeq
        (SchemaEvolution.align(res.valid, evolved), newCols)
      } else (res.valid, Nil)

    // Idempotent re-import within the batch: deterministic keep-first
    // dedup when keys are declared (row_number, not dropDuplicates — D4).
    val deduped =
      if (conf.dedupKeys.nonEmpty) {
        val w = Window.partitionBy(conf.dedupKeys.map(col): _*)
          .orderBy(aligned.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
        aligned.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") === 1).drop("_graft_rn")
      } else aligned

    // the loaded count rides the lake write as an observed metric —
    // one job instead of a count pass plus the write (§1.2); the
    // reject-limit gate above stays a SEPARATE earlier job because it
    // must throw BEFORE anything lands in the lake.
    val obs = new org.apache.spark.sql.Observation()
    val observed = deduped.observe(obs, count(lit(1)).as("n_loaded"))
    // Full refresh is the reference's dimension class: stage-and-swap
    // (LakeFs.replace), so readers never see a partially-replaced table.
    if (fullRefresh)
      LakeFs.replace(spark, target, tag = "refresh")(observed.write.mode(SaveMode.Overwrite).parquet)
    else observed.write.mode(SaveMode.Append).parquet(target)
    val loaded = obs.get("n_loaded").asInstanceOf[Long]

    // Both branches of the read are materialized by now (valid via the
    // write above, rejects via enforceRejectLimit's count) — release
    // the source cache so a long-running importer doesn't accumulate
    // one InMemoryRelation per batch.
    res.unpersist()

    // Archive inputs (FS move, driver-side — same as the reference).
    val hconf = spark.sessionState.newHadoopConf()
    val archive = new Path(conf.archiveDir, table)
    archive.getFileSystem(hconf).mkdirs(archive)
    files.foreach(f => moveReplacing(hconf, fs, new Path(f), archive))
    TableReport(table, files, loaded, rejected, evolvedCols)
  }
}
