package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables => T}
import graft.ingest.{LakeFs, LoadAudit}

class IncrementalRollupSpec extends SparkSpec {

  private def update(fact: DataFrame, path: String): DataFrame =
    IncrementalRollup.update(spark, fact, "o_orderdate",
      Seq("o_orderstatus"), Map("o_totalprice" -> "sum"), path)

  private def full(fact: DataFrame): DataFrame =
    fact.groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
      .agg(sum(col("o_totalprice")).as("sum_o_totalprice"))

  /** The orders fact split at a day: history up to it, and all of it. */
  private def orders: (DataFrame, DataFrame) = {
    val all = T.orders(spark, sf())
    val old = all.filter(to_date(col("o_orderdate")) <= lit("1998-01-01").cast("date"))
    (old, all)
  }

  /** The commit records of the rollup at `path`. */
  private def records(path: String): Seq[String] = {
    val log = Paths.get(path, "_graft_log")
    if (!Files.isDirectory(log)) Nil
    else scala.util.Using.resource(Files.list(log))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filter(_.matches("""\d+\.json""")).sorted.toSeq)
  }

  private def highWater(path: String): String =
    LakeFs.newestRecord(LakeFs.fs(spark, path), path).get.get("high_water").asText

  private def maxDay(df: DataFrame): String =
    df.agg(max(to_date(col("o_orderdate")))).head().get(0).toString

  test("incremental update equals full recompute, touching only new days") {
    val path = Files.createTempDirectory("graft_rollup").toString + "/daily"
    val (old, all) = orders
    assert(old.count() > 0 && all.count() > old.count())

    // initial build from history, then one incremental tick with the
    // full fact table (old days must NOT be re-aggregated or doubled)
    update(old, path)
    val updated = update(all, path)

    assert(updated.count() == full(all).count())
    val diff = updated.select("day", "o_orderstatus", "sum_o_totalprice")
      .except(full(all).select("day", "o_orderstatus", "sum_o_totalprice"))
    assert(diff.isEmpty, s"incremental != full recompute: ${diff.take(3).toSeq}")

    // idempotent: another tick with no new days changes nothing, not
    // even the rollup's file list, its commit log included
    def files() = scala.util.Using.resource(Files.walk(Paths.get(path)))(
      _.toArray.map(_.toString).sorted.toSeq)
    val before = files()
    val again = update(all, path)
    assert(again.count() == full(all).count())
    assert(files() == before)
  }

  test("high-water mark from the commit log: 2 jobs; past one split, same rollup") {
    for (small <- Seq(true, false)) withSessionConf((if (small) Nil else tinySplits): _*) {
      val path = Files.createTempDirectory("graft_rollup_log").toString + "/daily"
      val (old, all) = orders
      update(old, path)
      assert(records(path) == Seq("00000000000000000000.json"))
      assert(highWater(path) == maxDay(old))
      var updated: DataFrame = null
      val jobs = jobsOf { updated = update(all, path) }
      // one tiny job broadcasts the high-water mark, one writes the delta
      if (small) assert(jobs <= 2, s"$jobs jobs")
      assert(LoadAudit.verified(full(all), updated))
      assert(records(path) == Seq("00000000000000000000.json", "00000000000000000001.json"))
      assert(highWater(path) == maxDay(all))
    }
  }

  test("a rollup with no commit record: one max(day) read, then a record") {
    val path = Files.createTempDirectory("graft_rollup_legacy").toString + "/daily"
    val (old, all) = orders
    // written before the commit log, as a compacted rollup is
    full(old).write.parquet(path)
    var adopted: DataFrame = null
    val adopting = jobsOf { adopted = update(all, path) }
    assert(LoadAudit.verified(full(all), adopted))
    assert(records(path) == Seq("00000000000000000000.json"))
    assert(highWater(path) == maxDay(all))
    // from now on the mark comes from the record, not from a max(day) read
    var again: DataFrame = null
    val next = jobsOf { again = update(all, path) }
    assert(next <= 2 && next < adopting, s"$next jobs after adoption, $adopting adopting")
    assert(LoadAudit.verified(full(all), again))
    assert(records(path) == Seq("00000000000000000000.json"))
  }

  test("an empty fact and no rollup: an empty frame of the rollup's schema, no directory") {
    val path = Files.createTempDirectory("graft_rollup_empty").toString + "/daily"
    val all = T.orders(spark, sf())
    // empty at run time, and empty already in the optimized plan
    for (none <- Seq(all.filter(col("o_orderkey") < 0), all.filter(lit(false)))) {
      val r = update(none, path)
      assert(r.columns.toSeq == Seq("day", "o_orderstatus", "sum_o_totalprice"))
      assert(r.isEmpty)
      assert(!Files.exists(Paths.get(path)))
      assert(!Files.exists(Paths.get(path + "__rollup_tmp")))
    }
  }
}
