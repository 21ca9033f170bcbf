package graft

/** Prints the optimized logical plan of every declared query, keys in
  * name order, with expression ids and generated lambda-variable names
  * normalized, so that two builds can be compared with `diff`: a
  * refactor that claims "same plans" shows an empty diff, or only the
  * keys it names.
  *
  * Usage (after `sbt Test/compile`):
  *   GRAFT_CLASSES=target/scala-2.13/classes:target/scala-2.13/test-classes \
  *     tools/run.sh graft.PlanDump [sfDir [key...]] > plans.txt
  *
  * Runs on `SparkSpec.session` (local[4]); sfDir defaults to sf0.001,
  * and keys, when given, limit the dump to those queries. Expression ids
  * come from one counter per JVM, so a plan whose shape depends on
  * their hash order (the Expand of several `count(DISTINCT …)`) can
  * differ with the keys dumped before it; re-dump such a key alone.
  * Building a plan can run Spark jobs (collected thresholds, caches);
  * the cache is cleared after each key.
  */
object PlanDump {
  /** Masks what differs between two runs of one build: expression ids,
    * generated lambda-variable names (`x_12`), JVM lambda classes and
    * object hashes, and the random suffixes of temp dirs and tables.
    */
  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#N")
      .replaceAll("(lambda [a-z])_\\d+", "$1_N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("@[0-9a-f]{5,8}\\b", "@H")
      .replaceAll("(/tmp/\\w+?_)\\d{6,}", "$1N")
      .replaceAll("_[0-9a-f]{12}\\b", "_H")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = SparkSpec.session
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (key, _) => only.isEmpty || only(key) }
      .foreach { case (key, fn) =>
        val text =
          try normalize(fn(spark, sfDir).queryExecution.optimizedPlan.toString)
          catch { case e: Throwable => s"PLAN-FAILED ${e.getClass.getName}: ${e.getMessage}" }
        println(s"=== $key\n$text")
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
