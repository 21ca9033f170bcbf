package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Box-load variance on a shared machine is ±25% (BASELINE vs r2);
    // per-query medians over nPasses make round-over-round deltas
    // signal instead of noise (VERDICT r2 item 7).
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = Session.local(Session.envCores)
    // Warm the page cache, parquet footers, and scan codegen once so
    // per-query timings measure the query, not first-touch JVM costs.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        if (t == "events") Tables.events(spark, sfDir).count()
        else spark.read.parquet(s"$sfDir/$t.parquet").count()
      } catch { case _: Throwable => }
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // A query that throws must NOT contribute its time-to-exception as a
    // timing — 16 analysis-time failures once appeared as 5-10x "speedups"
    // at the ~0.1 s exception floor (ADVICE r7). Track failures explicitly
    // and surface them in the sidecar + summary line.
    val failed = scala.collection.mutable.Map.empty[String, String]
    for (pass <- 1 to nPasses) {
      // Queries that .cache() intermediate frames (text_langid, b6 LSH)
      // would otherwise serve passes 2..n from the CacheManager and the
      // median would report warm-cache times, not the engine; clearing
      // between passes keeps each pass cold and releases the memory.
      if (pass > 1) spark.catalog.clearCache()
      for ((name, fn) <- names) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
        }
      }
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.collect {
      case (name, _) if samples(name).nonEmpty => name -> median(samples(name))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    val failJson = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_passes":$nPasses,"n_failed":${failed.size},"failures":$failJson,"queries":$qs,"sf":"$sfDir"}"""
    // The driver's stdout tail captures only the last ~68 timings; the
    // sidecar file carries the FULL per-query distribution so the whole
    // bench is auditable (VERDICT r5 item 9). Totals unchanged.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_per_query.json"),
      line.getBytes("UTF-8"))
    catch { case _: Throwable => }
    println(line)
    // The detailed line above can exceed the driver's tail capture (r1:
    // "parsed": null — the head with the total was truncated). A short
    // summary line LAST always survives a tail read.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"n_passes":$nPasses,"sf":"$sfDir"}""")
    spark.stop()
  }
}
