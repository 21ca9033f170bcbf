package graft.ingest

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, sum, to_date, to_timestamp}
import graft.{LakeFooters, SparkSpec, Tables => T}
import graft.operators.{IncrementalRollup, Upsert}

class ParquetSinkSpec extends SparkSpec {

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** The footer of every column of every parquet data file under `dir`. */
  private def footers(dir: String): Seq[LakeFooters.Column] =
    LakeFooters.columns(spark.sessionState.newHadoopConf(), dir)

  /** The footer codecs of every parquet data file under `dir`, by file. */
  private def codecs(dir: String): Map[String, Set[String]] =
    footers(dir).groupBy(_.file).map { case (f, cs) => f -> cs.flatMap(_.codecs).toSet }

  /** Whether all pages are v2 data pages, for every data file under `dir`. */
  private def v2Pages(dir: String): Map[String, Boolean] =
    footers(dir).groupBy(_.file).map { case (f, cs) => f -> cs.forall(_.v2Pages) }

  /** A day's generated batch: six rows over two hosts, sums exact in binary. */
  private def dayRows(day: Int): Seq[(Long, String, String, Double)] =
    (1 to 6).map(i => (day * 10L + i, f"2024-01-$day%02d 0$i:00:00", s"h${i % 2}", i * 0.25))
  private val dayManifest = "id,bigint\nts,timestamp without time zone\nhost,text\nv,double precision"
  private def dayCsv(day: Int): String =
    ("id,ts,host,v" +: dayRows(day).map(_.productIterator.mkString(","))).mkString("", "\n", "\n")

  test("compact rewrites a many-file lake to few files, preserving rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val orders = T.orders(spark, sf())
    // simulate per-batch append accumulation: 4 generations of files
    (1 to 4).foreach { _ =>
      orders.limit(100).repartition(8)
        .write.mode(SaveMode.Append).parquet(dir)
    }
    val before = spark.read.parquet(dir)
    val beforeFiles = before.inputFiles.length
    val beforeCount = before.count()
    assert(beforeFiles >= 32)

    ParquetSink.compact(spark, dir, targetPartitions = 2)

    val after = spark.read.parquet(dir)
    assert(after.count() == beforeCount)
    assert(after.inputFiles.length <= 4,
      s"expected <=4 files after compaction, got ${after.inputFiles.length}")
    assert(!Files.exists(java.nio.file.Paths.get(dir + "__compact_old")))
  }

  test("compact preserves a year/month partition layout and its pruning") {
    val dir = Files.createTempDirectory("graft_compact_part").toString + "/lake"
    val events = T.events(spark, sf())
    // two small-file generations into a partitioned lake
    (1 to 2).foreach { _ =>
      ParquetSink.writePartitioned(
        events.limit(500).repartition(6), "ts", dir, SaveMode.Append)
    }
    val before = spark.read.parquet(dir)
    val beforeCount = before.count()
    assert(LakeFs.partitionColumns(LakeFs.fs(spark, dir), dir) == Seq("part_year", "part_month"))

    ParquetSink.compact(spark, dir, targetPartitions = 2)

    val after = spark.read.parquet(dir)
    assert(after.count() == beforeCount)
    // layout survived: partition dirs still exist and Spark still
    // partition-prunes on them
    assert(LakeFs.partitionColumns(LakeFs.fs(spark, dir), dir) == Seq("part_year", "part_month"))
    val pruned = after.filter(col("part_year") === 2024 && col("part_month") === 1)
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in:\n$plan")
    assert(pruned.inputFiles.forall(_.contains("part_year=2024")),
      "pruned scan still reads files outside the selected partition")
    // a partitioned append AFTER compaction must still work
    ParquetSink.writePartitioned(
      events.limit(10).repartition(1), "ts", dir, SaveMode.Append)
    assert(spark.read.parquet(dir).count() == beforeCount + 10)
  }

  test("compact merges the file schemas: (id, a) + (id, b) compacts to (id, a, b)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_merge").toString + "/t"
    Seq((1L, "x")).toDF("id", "a").write.parquet(dir)
    Seq((2L, "y")).toDF("id", "b").write.mode(SaveMode.Append).parquet(dir)

    ParquetSink.compact(spark, dir, targetPartitions = 1)

    val after = spark.read.parquet(dir)
    assert(after.columns.sorted.toSeq == Seq("a", "b", "id"))
    val rows = after.select("id", "a", "b").orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, Some("x"), None), (2L, None, Some("y"))))
  }

  test("compact of a lake evolved by two Ingest ticks keeps every column and row") {
    val root = Files.createTempDirectory("graft_compact_evolved").toString
    val conf = Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake", archiveDir = s"$root/archive")
    write(s"$root/upload/m/manifest.txt", "id,bigint\nv,double precision")
    write(s"$root/upload/m/b1.csv", "id,v\n1,1.5\n2,2.5\n")
    Ingest.run(spark, conf)
    write(s"$root/upload/m/manifest.txt", "id,bigint\nv,double precision\nhost,text")
    write(s"$root/upload/m/b2.csv", "id,v,host\n3,3.5,web01\n")
    assert(Ingest.run(spark, conf).head.evolvedColumns == Seq("host"))
    // the read before compaction, held in memory: compaction deletes its files
    val lake = Ingest.readLake(spark, conf, "m")
    val before = spark.createDataFrame(lake.collect().toList.asJava, lake.schema)

    ParquetSink.compact(spark, s"$root/lake/m", targetPartitions = 1)

    val after = Ingest.readLake(spark, conf, "m")
    assert(after.columns.sorted.toSeq == Seq("host", "id", "v"))
    assert(LoadAudit.verified(before, after))
  }

  test("every lake writer lands zstd files, whatever the session's parquet codec") {
    import spark.implicits._
    val key = "spark.sql.parquet.compression.codec"
    val prior = spark.conf.getOption(key)
    for (codec <- Seq(None, Some("snappy"))) try {
      codec.foreach(spark.conf.set(key, _))
      val root = Files.createTempDirectory("graft_codec").toString
      val conf = Ingest.Config(
        uploadDir = s"$root/upload", lakeDir = s"$root/lake",
        archiveDir = s"$root/archive", fullRefreshTables = Set("dims"))
      for (day <- 1 to 2) {
        for (t <- Seq("facts", "dims")) {
          write(s"$root/upload/$t/manifest.txt", dayManifest)
          write(s"$root/upload/$t/b$day.csv", dayCsv(day))
        }
        assert(Ingest.run(spark, conf).map(r => (r.loaded, r.failed)) == Seq.fill(2)((6L, None)))
      }
      IncrementalRollup.update(spark, Ingest.readLake(spark, conf, "facts"), "ts",
        Seq("host"), Map("v" -> "sum"), s"$root/rollup")

      val frame = Seq((1L, "2024-01-01 00:00:00", 1, 1), (2L, "2024-02-01 00:00:00", 2, 1))
        .toDF("id", "ts", "day", "version").withColumn("ts", to_timestamp(col("ts")))
      ParquetSink.writePartitioned(frame, "ts", s"$root/partitioned")
      frame.write.option("compression", "snappy").parquet(s"$root/compacted")
      ParquetSink.compact(spark, s"$root/compacted", targetPartitions = 1)
      Upsert.merge(spark, s"$root/merged", frame, Seq("id"), "version")
      Upsert.merge(spark, s"$root/merged", frame, Seq("id"), "version")
      Upsert.intoPartitionedParquet(spark, s"$root/parts", frame, Seq("id"), "version", "day")
      Upsert.intoPartitionedParquet(spark, s"$root/parts", frame, Seq("id"), "version", "day")

      for (w <- Seq("lake/facts", "lake/dims", "rollup", "partitioned", "compacted", "merged", "parts")) {
        val byFile = codecs(s"$root/$w")
        assert(byFile.nonEmpty && byFile.values.forall(_ == Set("ZSTD")), s"$w with $key=$codec: $byFile")
        // every column chunk of every file is written in v2 data pages
        val columns = footers(s"$root/$w")
        assert(columns.forall(_.v2Pages), s"$w: $columns")
        // nor does any of them leave the output committer's _SUCCESS marker
        val s = Files.walk(Paths.get(s"$root/$w"))
        try assert(!s.iterator().asScala.exists(_.getFileName.toString == "_SUCCESS"), w) finally s.close()
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a lake of older snappy files takes an Ingest append and a rollup update") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mixed_codec").toString
    val conf = Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake", archiveDir = s"$root/archive")
    def frame(rs: Seq[(Long, String, String, Double)]): DataFrame =
      rs.toDF("id", "ts", "host", "v").withColumn("ts", to_timestamp(col("ts")))
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(to_date(col("ts")).as("day"), col("host")).agg(sum(col("v")).as("sum_v"))
    // day 1 was landed before the lake's files were zstd
    frame(dayRows(1)).write.option("compression", "snappy").parquet(s"$root/lake/cpu")
    rollup(frame(dayRows(1))).write.option("compression", "snappy").parquet(s"$root/rollup")

    write(s"$root/upload/cpu/manifest.txt", dayManifest)
    write(s"$root/upload/cpu/b2.csv", dayCsv(2))
    assert(Ingest.run(spark, conf).map(r => (r.loaded, r.failed)) == Seq((6L, None)))
    val updated = IncrementalRollup.update(spark, Ingest.readLake(spark, conf, "cpu"), "ts",
      Seq("host"), Map("v" -> "sum"), s"$root/rollup")

    for (d <- Seq("lake/cpu", "rollup")) {
      assert(codecs(s"$root/$d").values.toSet == Set(Set("SNAPPY"), Set("ZSTD")), d)
      // the older files are v1, the landed ones v2, and both read as one table
      assert(v2Pages(s"$root/$d").values.toSet == Set(false, true), d)
    }
    val all = frame(dayRows(1) ++ dayRows(2))
    assert(LoadAudit.verified(all, Ingest.readLake(spark, conf, "cpu")))
    assert(LoadAudit.verified(rollup(all), updated))
  }

  test("an all-distinct bigint key lands delta-packed, smaller than a v1 write of the same frame") {
    val root = Files.createTempDirectory("graft_delta").toString
    // a sorted all-distinct key, as the ingest dedup window leaves `id`
    val df = spark.range(0, 4000, 1, 1).select((col("id") * 7919L).as("id"))
    LakeFs.writeParquet(df, s"$root/lake")
    df.write.option("compression", "zstd").parquet(s"$root/v1")

    val landed = footers(s"$root/lake")
    assert(landed.map(_.column) == Seq("id"), landed)
    assert(landed.head.v2Pages && landed.head.encodings.contains("DELTA_BINARY_PACKED"), landed)
    val v1 = footers(s"$root/v1")
    assert(v1.map(_.column) == Seq("id") && !v1.head.v2Pages, v1)
    def fileBytes(fs: Seq[LakeFooters.Column]): Long = fs.map(c => Files.size(Paths.get(new java.net.URI(c.file)))).sum
    assert(fileBytes(landed) < fileBytes(v1), s"v2 ${fileBytes(landed)} B, v1 ${fileBytes(v1)} B")
    assert(spark.read.parquet(s"$root/lake").orderBy("id").collect().toSeq == df.collect().toSeq)
  }
}
