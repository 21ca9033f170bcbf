package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32)
    SparkEntry.queries(args(0))(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      .explain("formatted")
    spark.stop()
  }
}
