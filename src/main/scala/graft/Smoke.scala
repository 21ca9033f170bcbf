package graft

/** Local mirror of the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.envCores)
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
