package graft.ingest

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import graft.{SparkSpec, Tables => T}

class ParquetSinkSpec extends SparkSpec {

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
    assert(LakeFs.partitionColumns(spark, dir) == Seq("part_year", "part_month"))

    ParquetSink.compact(spark, dir, targetPartitions = 2)

    val after = spark.read.parquet(dir)
    assert(after.count() == beforeCount)
    // layout survived: partition dirs still exist and Spark still
    // partition-prunes on them
    assert(LakeFs.partitionColumns(spark, dir) == Seq("part_year", "part_month"))
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
}
