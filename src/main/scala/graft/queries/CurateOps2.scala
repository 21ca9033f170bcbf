package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables => T}
import graft.functions.TextOps.md5Uniform32

/** Round-9 seventh wave: weighted reservoir sampling (A-Res) and the
  * watermark-drop observability row — the sampling depth and streaming
  * runtime evidence between sample_importance's Bernoulli thinning and
  * the b7/b9/b13 streaming rows.
  */
object CurateOps2 {

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    * top-5 docs per language by key = ln(u)/w with u the md5-uniform
    * of the doc key and w = n_chars — every doc's selection probability
    * ∝ its length, sample size exact, and the whole draw reproducible
    * across engines/runs/partitionings (no RNG anywhere — the
    * data_split_hash device). The rank orders by the ROUNDED key with
    * doc_id tiebreak (ORDER-BY-rounded-score precedent, text_entropy);
    * u = 0 cannot occur (md5 prefix of 0 has probability 2⁻³²).
    * Scale: map-only scoring + one per-language top-k window — the
    * TakeOrderedAndProject shape, output 5·|langs| rows.
    */
  val sampleWeightedTopk: Q = Q(
    "sample_weighted_topk",
    """WITH scored AS (
      |  SELECT lang, doc_id, n_chars,
      |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |           / 4294967296.0 AS u
      |  FROM documents),
      |keyed AS (
      |  SELECT lang, doc_id, n_chars,
      |         round(ln(u) / CAST(n_chars AS DOUBLE), 6) AS k
      |  FROM scored),
      |r AS (
      |  SELECT lang, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY k DESC, doc_id ASC) AS rk
      |  FROM keyed)
      |SELECT lang, rk, doc_id, n_chars FROM r WHERE rk <= 5
      |ORDER BY lang NULLS FIRST, rk""".stripMargin
  ) { (s, d) =>
    val u = md5Uniform32(col("doc_id").cast("string")) / lit(BigDecimal("4294967296.0"))
    val keyed = T.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        round(log(u) / col("n_chars").cast("double"), 6).as("k"))
    val w = Window.partitionBy(col("lang")).orderBy(col("k").desc, col("doc_id").asc)
    keyed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang").asc_nulls_first, col("rk"))
  }

  /** B24: WATERMARK-DROP OBSERVABILITY — the streaming runtime
    * evidence that late data past the watermark is actually dropped
    * AND surfaced in metrics (stateOperators.numRowsDroppedByWatermark
    * in the query progress), which is what an operator alerts on at
    * 100 TB. Three explicit micro-batches: on-time rows, a far-future
    * row that advances the watermark and closes the first window
    * (append emits it), then replayed rows far behind the watermark —
    * which must NOT change emitted results and MUST show up in the
    * dropped-rows metric. processAllAvailable between adds pins batch
    * boundaries, so the run is deterministic. Measured accounting
    * detail worth knowing: the metric counts rows AFTER the batch's
    * map-side partial aggregation — 7 late raw rows in one window
    * arrive at the state operator as ONE aggregated row, so
    * numRowsDroppedByWatermark reads 1, not 7 (the raw-row count is
    * not observable at the state store, by design).
    */
  val watermarkMetrics: Q = Q.noOracle("b24_watermark_metrics") { (s, d) =>
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val token = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val agg = mem.toDS().toDF("event_id", "secs")
      .withColumn("ts", timestamp_seconds(col("secs")))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
    // the three feeds, named up front so the state-partition sizing
    // below derives from the ACTUAL feed (ADVICE r16: a literal 28L
    // silently desynchronized from edits to the batches)
    val feed1 = (1L to 20L).map(i => (i, i % 60))     // on-time, window [0,60)
    val feed2 = Seq((100L, 600L))                     // advances watermark
    val feed3 = (200L to 206L).map(i => (i, 30L))     // late, must drop
    val feedRows = (feed1.size + feed2.size + feed3.size).toLong
    // 28-row feed → 1 state partition (scale-adaptive; see
    // StreamOps.withStatePartitions — 3 stateful batches at the batch
    // session's partition count paid ~96 state-store commits for 2
    // state rows)
    val q = graft.streaming.StreamOps.withStatePartitions(s, feedRows) {
      val q0 = agg.writeStream.format("memory").queryName(s"b24_$token")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft_b24_$token").toString)
        .start()
      try {
        // batch 1: 20 on-time rows in window [0, 60)
        mem.addData(feed1)
        q0.processAllAvailable()
        // batch 2: watermark jumps to 590s; window [0,60) closes and emits
        mem.addData(feed2)
        q0.processAllAvailable()
        // batch 3: 7 rows at 30s — far behind the watermark, must drop
        mem.addData(feed3)
        q0.processAllAvailable()
      } finally q0.stop()
      q0
    }
    val emitted = s.table(s"b24_$token").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000L, r.getLong(1))).sortBy(_._1)
    val dropped = q.recentProgress
      .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val firstWindowN = emitted.headOption.map(_._2).getOrElse(0L)
    // ok: the closed window kept its on-time count, the late batch
    // produced NO new emission, and the drop surfaced in the metric
    // (1 post-partial-agg row — see Scaladoc)
    val row = (feedRows, emitted.length.toLong, firstWindowN, dropped,
      firstWindowN == 20L && emitted.length == 1 && dropped >= 1L)
    s.createDataFrame(Seq(row)).toDF(
      "n_sent", "n_windows_emitted", "first_window_n", "n_dropped_late", "ok")
  }

  val all: Seq[Q] = Seq(sampleWeightedTopk, watermarkMetrics)
}
