package graft

/** Chunked bench runner: times a NAMED SUBSET of the declared queries
  * in its own JVM and writes a partial per-query JSON. The full-surface
  * sf10 sweep (VERDICT r8 item 5) cannot run as one `graft.Bench`
  * process: a single long-lived context accumulates cached frames
  * across 339 queries within a pass (Bench clears only between passes)
  * and one OOM-killed SparkContext voids every query after it — the
  * r9s2 sweep lost 120 of 339 rows exactly that way. A fresh JVM per
  * ~dozen queries bounds the blast radius of any one failure and
  * `clearCache()` after EVERY query keeps each timing cold.
  *
  * Usage: BenchChunk <sfDir> <outJson> <name1> [name2 ...]
  * Env:   SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_PASSES
  *        (default 1 — per-query medians matter less than finishing a
  *        2-decade sweep; the sf0.1 round artifact stays median-of-3).
  * Merge: tools/bench_merge.py folds the chunk files into one
  *        Bench-shaped line for tools/sf10_report.py.
  */
object BenchChunk {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val wanted = args.drop(2)
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "1").toInt
    val spark = Session.local(Session.envCores)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        if (t == "events") Tables.events(spark, sfDir).count()
        else spark.read.parquet(s"$sfDir/$t.parquet").count()
      } catch { case _: Throwable => }
    }
    val all = SparkEntry.queries
    val missing = wanted.filterNot(all.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(",")}")
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failed = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to nPasses; name <- wanted) {
      val t0 = System.nanoTime()
      try {
        all(name)(spark, sfDir).count()
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        failed -= name // a success on any pass supersedes an earlier-pass failure
      } catch { case e: Throwable =>
        if (samples(name).isEmpty)
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
      }
      spark.catalog.clearCache()
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    val qs = wanted.collect {
      case n if samples(n).nonEmpty => s"${jstr(n)}:${median(samples(n))}"
    }.mkString("{", ",", "}")
    val failJson = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val line =
      s"""{"n_passes":$nPasses,"sf":${jstr(sfDir)},"failures":$failJson,"queries":$qs}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), line.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
