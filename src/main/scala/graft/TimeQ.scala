package graft

/** Time one or more declared queries in isolation (bench-loop helper):
  * `tools/run.sh graft.TimeQ <sfDir> <query> [query...]` — warms the
  * scan cache like Bench, then prints per-query wall seconds (median of
  * 3 runs; this box benches ±25% under load).
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = Session.local(Session.envCores)
    // SPARK_GRAFT_PASSES=1 for third-decade probes where a median-of-3
    // would cost hours (r13 sf100 sweep); default stays median-of-3
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    require(passes >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $passes")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val times = (1 to passes).map { _ =>
        // caching queries (text_langid, b6 LSH) must not serve runs
        // 2..3 from the CacheManager — same policy as Bench's passes
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      // true median: average the two middle values for even pass counts
      // (ADVICE r13 — times(n/2) was the upper-middle element)
      val med =
        if (times.size % 2 == 1) times(times.size / 2)
        else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
      println(f"$n%-28s median=$med%6.2f s  (${times.mkString(", ")})")
    }
    spark.stop()
  }
}
