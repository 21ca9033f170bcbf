package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), UTC, small
  * shuffle fan-out for test speed.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with the session confs `settings` set, then restores
    * each key's prior value (or unsets it). */
  def withSessionConf[A](settings: (String, String)*)(body: => A): A = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Session confs under which every file input is bigger than one of
    * Spark's file splits: the splits are a few bytes long. */
  val tinySplits: Seq[(String, String)] =
    Seq("spark.sql.files.maxPartitionBytes" -> "16", "spark.sql.files.openCostInBytes" -> "1")

  /** The Spark jobs `body` runs, counted by a listener that sees only
    * jobs submitted under a local-property tag. A fence job submitted
    * after `body` is awaited, so every job of `body` has been delivered
    * (one listener queue is FIFO).
    */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("fence"), "listener never saw the fence job")
      seen.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
