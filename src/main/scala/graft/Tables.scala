package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared table loaders + determinism helpers (SURVEY.md §2 D-rules).
  *
  * All oracle-checked queries read parquet through these helpers so that
  * the D2 (decimal money math) and D5 (nanosecond timestamp) disciplines
  * are applied in exactly one place.
  */
object Tables {

  /** Load a testdata table: `$sfDir/<name>.parquet`.
    *
    * Inferring a parquet schema is a one-task Spark job that reads a
    * footer, and the same tables are read again and again in one
    * session, so each inferred schema is reused through
    * `spark.read.schema(…)`. The memo keys on the session (weakly), the
    * path, the listing of the path's files (name, length, mtime) and
    * the session's SQL conf: a rewritten directory or a changed conf
    * (`nanosAsLong`, `inferTimestampNTZ`, …) infers afresh.
    */
  def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = (path, files, spark.sessionState.conf.getAllConfs)
        val memo = schemaMemo.synchronized {
          schemaMemo.computeIfAbsent(spark,
            _ => new java.util.concurrent.ConcurrentHashMap[AnyRef, StructType]())
        }
        memo.get(key) match {
          case null =>
            val df = spark.read.parquet(path)
            if (memo.size >= MemoEntriesPerSession) memo.clear()
            memo.put(key, df.schema)
            df
          case schema => spark.read.schema(schema).parquet(path)
        }
    }
  }

  private val schemaMemo = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[AnyRef, StructType]]()
  // a session that keeps changing its conf would otherwise grow the memo
  // without bound; starting over costs one inference per table
  private val MemoEntriesPerSession = 256

  /** Every file under `path` as (name, length, mtime), sorted; None when
    * the path cannot be listed (the plain read then reports why). */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted)
    } catch { case _: java.io.IOException => None }

  def region(s: SparkSession, d: String): DataFrame   = tbl(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = tbl(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = tbl(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = tbl(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = tbl(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = tbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = {
    // every vector query loads through here — register the native
    // codegen kernels so VectorOps resolves to them, not the UDF tier
    graft.functions.VecExpressions.register(s)
    graft.functions.VectorOps.nativeRegistered = true
    tbl(s, d, "embeddings")
  }

  /** events.parquet's `ts` column has shipped in three physical forms
    * across fixture generations; normalize ALL of them to a microsecond
    * TimestampType column so every consumer sees one type (FIXTURES.md,
    * SURVEY §2 D5):
    *  - parquet TIMESTAMP(NANOS): Spark 4.x refuses it by default
    *    (PARQUET_TYPE_ILLEGAL); the legacy conf (runtime-settable) reads
    *    it as Long nanos, converted below.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ (spark.sql.parquet.inferTimestampNTZ default on),
    *    on which unix_micros() and window() fail with DATATYPE_MISMATCH.
    *    Session tz is UTC on both engines, so casting NTZ → TimestampType
    *    preserves the instant exactly (ADVICE r7 high finding).
    *  - TIMESTAMP(MICROS, adjusted): already TimestampType — pass through
    *    (graft.ScaleUp synthesized dirs).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` = integer division on longs; `/` would round-trip through
        // double and lose sub-µs bits (epoch-nanos ≈ 1.7e18 > 2^53).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** D2: money doubles → DECIMAL(18,2) before any arithmetic/aggregation. */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")
  /** D2: rates (discount/tax) → DECIMAL(18,4). */
  def dec4(c: Column): Column = c.cast("decimal(18,4)")

  /** Few-file explode-straggler guard — THE shared helper for every
    * generator-stage (explode/inline/posexplode) input that is
    * row-inflating and corpus-proportional.
    *
    * The pathology (observed three times before this helper existed —
    * stats_permutation_test r13, Lsh.textProbeTopK r14,
    * text_perplexity_sb r15, each costing a multi-×-wall straggler at
    * scale before its local copy of the guard landed): Spark sizes scan
    * partitions by INPUT BYTES, and a parquet row group belongs to the
    * byte-range split holding its MIDPOINT — so a few-file corpus
    * (single-file test fixtures; small compact dims feeding a ×K
    * generator) produces splits where partition COUNT looks healthy
    * while most splits hold zero row groups. The explode's heavy
    * per-row work then lands on the handful of tasks that own rows:
    * the r15 sf100 perplexity probe jstacked to ONE task carrying the
    * whole doc-bigram explode for ~3350 s of a 4180 s run on 32 idle
    * cores; guarding it bought 3.4×.
    *
    * The guard: when the frame reads fewer files than the session's
    * parallelism, ONE narrow shuffle of the raw pre-explode rows
    * spreads them evenly — trivial next to the inflation it
    * parallelizes. On a many-file production layout (any real 100 TB
    * lake) the condition is false and NO shuffle is added, so the
    * guard never costs anything where the scan already parallelizes.
    * File count — not partition count — is the right predicate because
    * file boundaries are what actually bound row-group spread.
    *
    * Apply AFTER the column pruning projection where practical (the
    * shuffle then moves only the needed columns; Catalyst also pushes
    * later Projects below the Repartition, so either order prunes).
    * Results are partitioning-independent for every call site (all are
    * aggregations/joins over the exploded rows), pinned by the oracle
    * re-pass on the four evidence-bar corpora each time a site cuts
    * over.
    */
  def spreadExplodeInput(s: SparkSession, df: DataFrame): DataFrame = {
    val para = s.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= para) df
    else {
      // Volume-adaptive spread (r17, VERDICT r16 item 1): r16 always
      // spread to defaultParallelism, which ANTI-SCALED with cores on
      // tiny corpora — the sf0.1 text-explode family ran FASTER at 8
      // cores than 32 (scaling ratios 0.65-0.72) because 32-way
      // partition overhead outweighed the parallelism on ~0.5 MB of
      // input. Partition count now derives from source bytes: one
      // partition per 64 KiB of compressed input (explode-stage inputs
      // inflate ~30-100x in memory, so 64 KiB of parquet is several MB
      // of generator output + aggregation state per task — real work,
      // not crumbs), capped at the session's parallelism. Large inputs
      // (sf1+: >= 2 MiB) still hit the cap, so scale behavior is
      // unchanged; only the tiny-corpus end stops over-partitioning.
      val hconf = s.sparkContext.hadoopConfiguration
      val bytes = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        try p.getFileSystem(hconf).getFileStatus(p).getLen
        catch { case _: Throwable => 0L }
      }.sum
      // parameterized scale knob (conf, not a box constant): bytes of
      // compressed source per spread partition; SpreadGuardSpec pins
      // the pathology protection with a tiny target, production uses
      // the default
      val target = math.max(1L,
        s.conf.get("spark.graft.spread.targetBytes", "65536").toLong)
      val n = math.min(para.toLong,
        math.max(1L, (bytes + target - 1) / target)).toInt
      if (n > files.length) df.repartition(n) else df
    }
  }
}
