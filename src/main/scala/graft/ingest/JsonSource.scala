package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** JSON-lines batch source with reject quarantine — the same
  * PERMISSIVE + corrupt-column routing contract as [[CsvSource]]
  * (SURVEY.md §2B B1), for the API-export / event-log half of an
  * import pipeline where payloads arrive as NDJSON rather than CSV.
  * Type mismatches, truncated objects, and non-JSON lines all land in
  * `rejects` with the raw line preserved; schema drift beyond the
  * declared fields is ignored (add-only evolution is B2's job). Gate
  * the result with [[CsvSource.enforceRejectLimit]].
  */
object JsonSource {

  def read(spark: SparkSession, schema: StructType, paths: String*): CsvSource.ReadResult =
    CsvSource.split(CsvSource.permissive(spark, schema).json(paths: _*))
}
