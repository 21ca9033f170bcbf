package graft

import org.apache.spark.sql.functions._

/** Pins the `Tables` helpers: the parquet schema memo behind
  * `Tables.tbl`, and the shared few-file explode-straggler guard
  * (Tables.spreadExplodeInput) and its partition-health detector
  * (PlanWalk.generateInputPartitionHealth) — the r15 find hoisted into
  * one helper in r16 (VERDICT r15 item 1).
  *
  * Red fixture: an UNGUARDED explode over a single-file corpus reads
  * through however few byte-range splits the file yields — at test
  * scale exactly ONE scan partition carries all 500 docs, the
  * miniature of the sf100 one-task straggler. The guarded twin must
  * spread the same rows across the session's full parallelism.
  */
class SpreadGuardSpec extends SparkSpec {

  private def withAqeOff[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** r17: the guard's spread width is volume-adaptive (one partition
    * per spark.graft.spread.targetBytes of source, default 64 KiB —
    * the r16 spread-to-parallelism anti-scaled on tiny corpora). The
    * pathology/wiring tests below pin the GUARD MECHANISM, which at
    * the few-KB test corpora only engages under a tiny target; the
    * default-width adaptivity has its own test.
    */
  private def withTinyTarget[A](f: => A): A = {
    val key = "spark.graft.spread.targetBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def health(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Long)] =
    PlanWalk.generateInputPartitionHealth(df).map { line =>
      val kv = "(\\w+)=(\\d+)".r.findAllMatchIn(line)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      (kv("parts").toInt, kv("nonEmpty").toInt, kv("max"))
    }

  test("RED: unguarded single-file explode concentrates on one task") {
    withAqeOff {
      val unguarded = Tables.documents(spark, sf())
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      val Seq((parts, nonEmpty, mx)) = health(unguarded)
      // the single parquet fixture file yields ONE populated input
      // partition — every exploded row's work lands on one task
      assert(nonEmpty === 1, s"expected the red fixture to concentrate (parts=$parts)")
      assert(mx === 500L)
    }
  }

  test("guard spreads a single-file corpus to the session parallelism") {
    withAqeOff { withTinyTarget {
      val guarded = Tables.spreadExplodeInput(spark, Tables.documents(spark, sf()))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      val Seq((parts, nonEmpty, _)) = health(guarded)
      assert(parts === spark.sparkContext.defaultParallelism)
      // round-robin repartition of 500 rows over 4 partitions: all carry
      assert(nonEmpty === parts)
    } }
  }

  test("spread width is volume-adaptive: bytes/target, capped at parallelism") {
    // tiny corpus at the DEFAULT 64 KiB target: fewer source bytes than
    // one target unit -> the guard adds NO repartition (the r16
    // spread-to-parallelism shape anti-scaled here: the sf0.1 text
    // family ran faster at 8 cores than 32)
    val docs = Tables.documents(spark, sf())
    assume(docs.inputFiles.length == 1)
    val out = Tables.spreadExplodeInput(spark, docs)
    assert(out.queryExecution.logical eq docs.queryExecution.logical,
      "a sub-target corpus must not be repartitioned at all")
    // mid-size target: width tracks ceil(bytes/target) until the cap
    val p = new org.apache.hadoop.fs.Path(docs.inputFiles.head)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
    val key = "spark.graft.spread.targetBytes"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, math.max(1L, bytes / 2).toString) // -> 2..3 parts
      val mid = Tables.spreadExplodeInput(spark, docs)
      val widths = mid.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
          r.numPartitions
      }
      val expect = ((bytes + math.max(1L, bytes / 2) - 1) / math.max(1L, bytes / 2)).toInt
      assert(widths === Seq(math.min(expect, spark.sparkContext.defaultParallelism)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("guard is a NO-OP when the input already reads many files") {
    val para = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_spread_many_").toString
    Tables.documents(spark, sf()).repartition(para * 2)
      .write.mode("overwrite").parquet(dir)
    val many = spark.read.parquet(dir)
    assume(many.inputFiles.length >= para)
    val out = Tables.spreadExplodeInput(spark, many)
    // no Repartition node added — the frame is returned as-is
    assert(out.queryExecution.logical eq many.queryExecution.logical)
  }

  test("every guarded declared row spreads its document explode at test scale") {
    // the cutover set from VERDICT r15 item 1 (+ the heavy exploders
    // added in the same sweep); each must show its corpus explode input
    // spread across the full parallelism — a future edit that drops the
    // guard re-concentrates to nonEmpty=1 and fails here
    val guarded = Seq(
      // VERDICT r15 item 1's named set
      "dedup_containment", "dedup_ngram_jaccard", "dedup_substring",
      "dedup_paragraph", "text_langid", "sample_dsir", "dedup_contamination",
      "text_bigram_logprob", "text_bpe_tokens",
      // the r16 genhealth-audit sweep: every remaining corpus-
      // proportional explode (documents / events / embeddings)
      "explode_tokens", "explode_outer_tokens", "text_tfidf", "text_rarity",
      "dedup_minhash_lsh", "eval_minhash_accuracy", "dedup_simhash",
      "dedup_simhash_banded", "dedup_incremental", "text_chunk",
      "ngram_topk", "text_entropy", "text_hapax_ratio", "text_heaps_law",
      "text_burstiness", "text_ngram_novelty", "text_vocab_overlap",
      "text_hash_features", "text_collocations", "text_bm25", "zipf_slope",
      "max_concurrency", "quality_gopher_rules", "text_subword_fertility",
      "embedding_centroid_dist", "ann_pq_adc", "dedup_embedding")
    withAqeOff { withTinyTarget {
      val para = spark.sparkContext.defaultParallelism
      val bad = guarded.flatMap { name =>
        val df = SparkEntry.queries(name)(spark, sf())
        val lines = PlanWalk.generateInputPartitionHealth(df)
        // corpus explode = the generate with the LARGEST input; profile/
        // model-side generates (≤100 rows) may legitimately stay narrow
        val kv = lines.map(l => "(\\w+)=(\\d+)".r.findAllMatchIn(l)
          .map(m => m.group(1) -> m.group(2).toLong).toMap)
        kv.sortBy(-_("total")).headOption.collect {
          case h if h("nonEmpty") < math.min(para.toLong, h("total")) =>
            s"$name: ${lines.mkString(" | ")}"
        }
      }
      assert(bad.isEmpty, s"concentrated explode inputs:\n${bad.mkString("\n")}")
    } }
  }

  test("WHOLE-SURFACE gate: no declared query feeds a corpus-sized generator from one partition") {
    // the r16 genhealth sweep as a suite gate, so a FUTURE unguarded
    // explode fails here instead of waiting for the per-round CLI
    // audit. Threshold: a generator input holding ≥ 400 rows at
    // sf0.001 is corpus-proportional (full documents = 500, events =
    // 1000, embeddings = 500; every bounded-by-construction generate —
    // probe sets, literal sequences, calendar grids, dim tables — is
    // ≤ 256). Concentration = all of it on ONE partition. The post-
    // sweep expected set is EMPTY; any hit names a new unguarded row.
    withAqeOff { withTinyTarget {
      spark.catalog.clearCache()
      val offenders = SparkEntry.declared.flatMap { q =>
        val lines =
          try PlanWalk.generateInputPartitionHealth(q.fn(spark, sf()))
          catch { case e: Throwable => Seq(s"HEALTH-FAILED ${e.getMessage}") }
        lines.flatMap { l =>
          if (l.startsWith("HEALTH-FAILED")) Some(s"${q.name}: $l")
          else {
            val kv = "(\\w+)=(\\d+)".r.findAllMatchIn(l)
              .map(m => m.group(1) -> m.group(2).toLong).toMap
            if (kv("total") >= 400L && kv("nonEmpty") <= 1L) Some(s"${q.name}: $l")
            else None
          }
        }
      }
      assert(offenders.isEmpty,
        s"corpus-sized one-partition generator inputs:\n${offenders.mkString("\n")}")
    } }
  }

  test("Tables.tbl infers a directory's schema once: the second frame builds with no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_memo").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val first = jobsOf(Tables.documents(spark, dir))
    assert(first >= 1, "the first read infers the schema from a footer")
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { second = Tables.documents(spark, dir) } == 0)
    assert(second.schema == spark.read.parquet(s"$dir/documents.parquet").schema)
    assert(second.count() == spark.read.parquet(s"${sf()}/documents.parquet").count())
  }

  test("Tables.tbl infers afresh when the directory is rewritten or the SQL conf changes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_stale").toString
    Seq((1L, "a b")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((1L, "a b", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1L, "a b", "en")))

    // a TIMESTAMP(NANOS) column reads as Long nanos only under the legacy
    // conf, and is an illegal parquet type without it
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      assert(Tables.events(spark, dir).collect().toSeq == Seq(org.apache.spark.sql.Row(1L,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L, 123456000L)))))
      assert(Tables.tbl(spark, dir, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      spark.conf.set(key, "false")
      val err = intercept[Exception](Tables.tbl(spark, dir, "events"))
      assert(String.valueOf(err.getMessage).contains("PARQUET_TYPE_ILLEGAL"), err)
      assert(Tables.events(spark, dir).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
