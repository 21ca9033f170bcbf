package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-count probe for the starContract round structure (VERDICT r16
  * item: "land a CcProbe stage-count artifact so the claim is
  * checkable"). Runs one declared query (default dedup_cluster) with a
  * job-counting listener and prints total Spark jobs, the process CPU
  * seconds and wall seconds of the query. Each local-contraction round
  * of GraphOps.starContract is ONE job (one shuffle: every edge to both
  * endpoints' hash partitions; one result stage: the per-partition
  * contraction, its checkpoint and its changed flag), so jobs and CPU
  * seconds grow by one round's cost per extra round.
  *
  * Usage: tools/run.sh graft.CcProbe <sfDir> [query_key]
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "dedup_cluster"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val fn = SparkEntry.queries(name)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    val n = fn(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    // listener bus is async; give it a moment to drain before reading
    Thread.sleep(500)
    println(f"ccprobe query=$name rows=$n jobs=${jobs.get()} cpu_s=$cpu%.2f sec=$sec%.2f")
    spark.stop()
  }
}
