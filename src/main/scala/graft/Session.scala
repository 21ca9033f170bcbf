package graft

import org.apache.spark.sql.SparkSession

/** The session of every command-line main: `local[cores]` with as many
  * shuffle partitions, UTC session time, no UI, and the context's log
  * level set to `logLevel`.
  */
object Session {
  /** The core count of the mains that read `SPARK_GRAFT_CPUS` (32 unset). */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
