package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark JVM entry point, launched once per run by run.py.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --cores <n> [--corpus <dir> --warm-corpus <dir>]
  *   [--size full|smoke]
  *   [--expected <expected.tsv>] [--record 1]
  *
  * Prints `PERFBENCH_READY` once set-up is done and, as its last line,
  * `PERFBENCH_RESULT <json>` with the run's counts and metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int, corpus: String, warmCorpus: String, smoke: Boolean,
                        expected: Path, record: Boolean)

  /** What a workload hands back: ops attempted, ops whose output was
    * wrong or that threw, and metrics by name as (value, unit). */
  final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)],
                           sidecar: Map[String, Any] = Map.empty)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")), m.getOrElse("cores", "4").toInt, m.getOrElse("corpus", ""),
      m.getOrElse("warm-corpus", ""),
      m.getOrElse("size", "full") == "smoke", Paths.get(m.getOrElse("expected", "expected.tsv")),
      m.getOrElse("record", "0") == "1")
  }

  def session(args: Args): SparkSession = {
    val local = args.work.resolve("spark-local")
    Files.createDirectories(local)
    // local[N] with N = min(nproc, 4) and as many shuffle partitions;
    // AQE and every other setting stay as Spark ships them.
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this JVM so far, all threads. The kernel leaves
    * out time the hypervisor stole from a vCPU. */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Seconds of CPU steal on the whole box so far, from /proc/stat. */
  def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").lift(8).map(_.toDouble / 100.0).getOrElse(0.0)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(args)
    System.err.println(f"perfbench: session up in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val tracer = if (args.trace) Some(new Tracer) else None
    val outcome =
      try args.workload match {
        case "ingest_ticks" => new IngestTicks(spark, args, tracer).run()
        case "lake_queries" | "corpus_curation" => new QueryMix(spark, args, tracer).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    // run.py reports 0 for the per-layer metrics of layers a workload
    // does not run
    val metrics =
      if (args.trace) outcome.metrics else outcome.metrics :+ (("peak_rss_mb", peakRssMb(), "MB"))
    val body = Json.obj(Seq(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
      "sidecar" -> Json.obj(outcome.sidecar.toSeq)))
    println("PERFBENCH_RESULT " + body.json)
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for the result line and the sidecar. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).json
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case Raw(r) => r
    case x => str(x.toString)
  }

  final case class Raw(json: String)

  def obj(kv: Seq[(String, Any)]): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
