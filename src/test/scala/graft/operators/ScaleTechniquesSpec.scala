package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables => T}
import graft.ingest.ParquetSink

/** The 100 TB techniques that small-scale correctness can't gate:
  * partition pruning on the lake layout, bucketed co-located joins,
  * and salted skew joins — each asserted on observable plan/IO
  * behavior, not just results.
  */
class ScaleTechniquesSpec extends SparkSpec {

  test("partitioned lake sink: time filter prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val orders = T.orders(spark, sf())
    ParquetSink.writePartitioned(orders, "o_orderdate", s"$dir/orders")
    val lake = spark.read.parquet(s"$dir/orders")
    // all rows survive the round trip
    assert(lake.count() == orders.count())
    val pruned = lake.filter(col("part_year") === 1996)
    // inputFiles ignores pruning; assert on the physical scan's
    // partition filters instead
    val plan = pruned.queryExecution.sparkPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("part_year"),
      s"scan must carry a part_year partition filter:\n$plan")
    assert(pruned.count() ==
      orders.filter(year(col("o_orderdate")) === 1996).count())
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = T.orders(spark, sf())
    val c = T.customer(spark, sf())
    o.write.mode(SaveMode.Overwrite).bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable("graft_orders_bkt")
    c.write.mode(SaveMode.Overwrite).bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable("graft_customer_bkt")
    // disable auto-broadcast so the join would otherwise shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_orders_bkt")
        .join(spark.table("graft_customer_bkt"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == o.join(c, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_customer_bkt")
    }
  }

  test("runtime bloom filter semi-join-reduces the fact side of a selective join") {
    // At 100 TB, a selective dim filter should prune fact rows BEFORE the
    // join shuffle. Spark 4's runtime bloom filter does exactly that; the
    // default thresholds (10 GB application side) suppress it at test
    // scale, so lower them and assert the rewrite actually fires.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the application side must carry its own shuffle (here: the
      // per-order pre-aggregation) — that's what the bloom filter saves:
      // rows pruned BEFORE the aggregate's exchange, not after
      def shape = T.lineitem(spark, sf("sf0.01"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("qty"))
        .join(T.orders(spark, sf("sf0.01")).filter(col("o_totalprice") > 400000),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("qty")).as("total_qty"))
      val j = shape
      val optimized = j.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"runtime bloom filter did not inject:\n$optimized")
      // and it must not change results: rerun the same shape with the
      // feature off
      val withBloom = j.collect().map(_.toString).sorted
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = shape.collect().map(_.toString).sorted
      assert(withBloom.sameElements(without))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of left rows share one hot key — the classic straggler shape
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i))
      .toDF("k", "v")
    val right = (0L to 50L).map(k => (k, s"dim_$k")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "v", "name")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", "rk", numSalts = 8)
      .select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // the salt must actually spread the hot key across reducers
    val spread = left.withColumn("_s",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(8)))
      .filter(col("k") === 42L).select("_s").distinct().count()
    assert(spread > 1, "hot key must map to multiple salts")
  }
}
