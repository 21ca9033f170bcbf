package graft.ingest

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV batch source with reject quarantine — parity with the reference's
  * Greenplum `LOG ERRORS SEGMENT REJECT LIMIT n` external tables
  * (SURVEY.md §2B B1): malformed rows are captured, not fatal, and the
  * batch fails only when rejects exceed a limit. The PERMISSIVE reader
  * and the reject split are shared with [[JsonSource]].
  */
object CsvSource {

  /** `unpersist()` releases the internal cache backing both branches.
    * Call it AFTER both `valid` and `rejects` have been materialized
    * (written / counted): the cache is what guarantees the corrupt
    * marker is populated consistently across the two branches, so
    * unpersisting early reverts to per-branch re-parses. In a
    * long-lived session or bench loop, not calling it leaks one
    * InMemoryRelation per ingest.
    */
  final case class ReadResult(valid: DataFrame, rejects: DataFrame, unpersist: () => Unit)

  private val CORRUPT = "_graft_corrupt"

  /** Read the CSV files (or directories/globs) `paths` with the declared
    * schema in PERMISSIVE mode. Rows that fail to parse land in
    * `rejects` with their raw line; valid rows come back with exactly
    * the declared schema.
    */
  def read(spark: SparkSession, schema: StructType, paths: String*): ReadResult =
    split(permissive(spark, schema).option("header", "true").csv(paths: _*))

  /** A reader for `schema` plus the corrupt-record column. */
  private[ingest] def permissive(spark: SparkSession, schema: StructType): DataFrameReader =
    spark.read
      .schema(StructType(schema.fields :+ StructField(CORRUPT, StringType, nullable = true)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CORRUPT)

  /** Route a [[permissive]] read into valid rows and rejects. */
  private[ingest] def split(read: DataFrame): ReadResult = {
    // PERMISSIVE parsing is lazy per column; cache so the corrupt
    // marker is populated consistently for both branches.
    val raw = read.cache()
    val valid = raw.filter(col(CORRUPT).isNull).drop(CORRUPT)
    val rejects = raw.filter(col(CORRUPT).isNotNull)
      .select(col(CORRUPT).as("raw_line"))
    ReadResult(valid, rejects, () => { raw.unpersist(); () })
  }

  /** Enforce the reject limit the way the reference does per batch:
    * returns the number of rejects, throwing if over the limit.
    */
  def enforceRejectLimit(r: ReadResult, limit: Long): Long = {
    val n = r.rejects.count()
    if (n > limit)
      throw new IllegalStateException(s"reject limit exceeded: $n > $limit")
    n
  }
}
