package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables => T}

class IncrementalRollupSpec extends SparkSpec {

  test("incremental update equals full recompute, touching only new days") {
    val path = Files.createTempDirectory("graft_rollup").toString + "/daily"
    val orders = T.orders(spark, sf())
    val split = lit("1998-01-01").cast("date")
    val old = orders.filter(to_date(col("o_orderdate")) <= split)
    val recent = orders.filter(to_date(col("o_orderdate")) > split)
    assert(old.count() > 0 && recent.count() > 0)

    // initial build from history, then one incremental tick with the
    // full fact table (old days must NOT be re-aggregated or doubled)
    IncrementalRollup.update(spark, old, "o_orderdate",
      Seq("o_orderstatus"), Map("o_totalprice" -> "sum"), path)
    val updated = IncrementalRollup.update(spark, orders, "o_orderdate",
      Seq("o_orderstatus"), Map("o_totalprice" -> "sum"), path)

    val full = orders.groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
      .agg(sum(col("o_totalprice")).as("sum_o_totalprice"))
    assert(updated.count() == full.count())
    val diff = updated.select("day", "o_orderstatus", "sum_o_totalprice")
      .except(full.select("day", "o_orderstatus", "sum_o_totalprice"))
    assert(diff.isEmpty, s"incremental != full recompute: ${diff.take(3).toSeq}")

    // idempotent: another tick with no new days changes nothing, not
    // even the rollup's file list
    def files() = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(path)))(
      _.toArray.map(_.toString).sorted.toSeq)
    val before = files()
    val again = IncrementalRollup.update(spark, orders, "o_orderdate",
      Seq("o_orderstatus"), Map("o_totalprice" -> "sum"), path)
    assert(again.count() == full.count())
    assert(files() == before)
  }

  test("an empty fact and no rollup: an empty frame of the rollup's schema, no directory") {
    val path = Files.createTempDirectory("graft_rollup_empty").toString + "/daily"
    val orders = T.orders(spark, sf())
    // empty at run time, and empty already in the optimized plan
    for (none <- Seq(orders.filter(col("o_orderkey") < 0), orders.filter(lit(false)))) {
      val r = IncrementalRollup.update(spark, none, "o_orderdate",
        Seq("o_orderstatus"), Map("o_totalprice" -> "sum"), path)
      assert(r.columns.toSeq == Seq("day", "o_orderstatus", "sum_o_totalprice"))
      assert(r.isEmpty)
      assert(!Files.exists(java.nio.file.Paths.get(path)))
      assert(!Files.exists(java.nio.file.Paths.get(path + "__rollup_tmp")))
    }
  }
}
