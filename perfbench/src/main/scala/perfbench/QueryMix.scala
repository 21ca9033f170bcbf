package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `lake_queries` and `corpus_curation`: closed loops over a fixed query
  * mix on the read-only corpus. Each pass runs every query of the mix
  * once, in an order the seed permutes; a run makes round(`--seconds` /
  * `PassSeconds`) passes.
  * An op is one `SparkEntry.queries` call plus collecting its result.
  */
final class QueryMix(spark: SparkSession, args: Main.Args, tracer: Option[Tracer]) {
  import QueryMix._

  private val sc = spark.sparkContext
  private val mix = if (args.workload == "lake_queries") LakeMix else CorpusMix
  private val size = if (args.smoke) "smoke" else "full"

  private def runOp(name: String, k: Int, expected: Map[String, Expected]): Op = {
    val fn = SparkEntry.queries(name)
    val steal0 = Main.stealSeconds()
    val ((df, rows, buildS), span) = Tracer.span(sc, s"query#$k:$name") {
      val t0 = System.nanoTime()
      val df = fn(spark, args.corpus)
      val buildS = (System.nanoTime() - t0) / 1e9
      (df, df.collect(), buildS)
    }
    val fp = Fingerprint.of(df.schema, rows)
    val execS = span.seconds - buildS
    spark.catalog.clearCache()
    val ok = expected.get(name) match {
      case None => args.record || complain(name, "no expected fingerprint recorded")
      case Some(e) =>
        (e.rows == fp.rows && e.schema == fp.schema && e.hash.forall(_ == fp.hash)) ||
          complain(name, s"got rows=${fp.rows} hash=${fp.hash} schema=${fp.schema}; want $e")
    }
    if (args.record)
      recorded(name) = Expected(fp.rows, if (SparkEntry.oracleSql.contains(name)) Some(fp.hash) else None, fp.schema)
    Op(name, span, buildS, execS, fp.rows, ok, Main.stealSeconds() - steal0)
  }

  private val recorded = mutable.LinkedHashMap.empty[String, Expected]

  private def complain(name: String, msg: String): Boolean = {
    System.err.println(s"perfbench: $name: $msg")
    false
  }

  def run(): Main.Outcome = {
    val expected = loadExpected(size)
    // warm-up: every query of the mix once on the tiny corpus, three at a
    // time (class loading, code generation, first JIT), then `WarmPasses`
    // whole passes of the mix on the measured corpus, so the measured
    // passes do not pay the JIT's first compiles for full-size data
    val w0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(WarmThreads)
    try {
      pool.invokeAll(mix.map(q => (() => SparkEntry.queries(q)(spark, args.warmCorpus).collect()): Callable[Any]).asJava)
        .asScala.foreach(_.get())
    } finally pool.shutdown()
    spark.catalog.clearCache()
    val warmPasses = if (args.smoke) 0 else WarmPasses
    val warmCpu = (0 until warmPasses).map { pass =>
      val c0 = Main.cpuSeconds()
      new Random(args.seed * 7919L - 1 - pass).shuffle(mix).foreach { q =>
        SparkEntry.queries(q)(spark, args.corpus).collect()
        spark.catalog.clearCache()
      }
      Main.cpuSeconds() - c0
    }
    System.err.println(f"perfbench: warm-up took ${(System.nanoTime() - w0) / 1e9}%.1f s, " +
      warmCpu.map(c => f"$c%.1f").mkString("CPU s per pass: ", ", ", ""))
    println("PERFBENCH_READY")
    tracer.foreach(sc.addSparkListener)
    val gc0 = Main.gcSeconds()
    val ops = mutable.ArrayBuffer.empty[Op]
    // a fixed number of passes, not a time limit, so every commit and seed
    // measures the same ops
    val passes = if (args.smoke) 1 else math.max(1, math.round(args.seconds / PassSeconds).toInt)
    for (pass <- 0 until passes) {
      new Random(args.seed * 7919L + pass).shuffle(mix).foreach { q =>
        ops += (try runOp(q, ops.size, expected) catch {
          case e: Exception =>
            complain(q, e.toString)
            spark.catalog.clearCache()
            Op(q, null, Double.NaN, Double.NaN, 0, ok = false, 0)
        })
      }
    }
    val gc = Main.gcSeconds() - gc0
    sc.stop() // drains the listener bus before the trace is read
    if (args.record) writeExpected(args.expected)

    val done = ops.filter(_.span != null).toSeq
    val times = done.map(_.span.seconds)
    val cpus = done.map(_.span.cpuSeconds)
    val busy = times.sum
    val n = math.max(1, done.size).toDouble
    val lakeBytes = Tables.map(t => Files.size(Paths.get(args.corpus, s"$t.parquet"))).sum
    val csvBytes = Files.readString(Paths.get(args.corpus, "csv_bytes.txt")).trim.toDouble
    val e2e = Seq(
      ("op_cpu_s_gmean", Main.geomean(cpus), "s"),
      ("op_cpu_s_p90", Main.percentile(cpus, 0.9), "s"),
      ("ops_per_cpu_s", done.size / cpus.sum, "1/s"),
      ("rows_per_cpu_s", done.map(_.rows).sum / cpus.sum, "rows/s"),
      ("ok_frac", ops.count(_.ok).toDouble / ops.size, "fraction"),
      ("lake_bytes_per_csv_byte", lakeBytes / csvBytes, "ratio"))
    val layers = tracer.map { tr =>
      val jobs = done.map(op => op -> tr.jobsOf(op.span.id)).toMap
      def perOp(f: Tracer.JobRec => Long) = done.map(op => jobs(op).map(f).sum).sum / n
      val families = mix.map(family).distinct.map { fam =>
        (s"family.${fam}_s", done.filter(op => family(op.name) == fam).map(_.span.seconds).sum / passes, "s")
      }
      Seq(
        ("query.build_s", Main.median(done.map(_.buildS)), "s"),
        ("query.exec_s", Main.median(done.map(_.execS)), "s"),
        ("query.jobs", done.map(op => jobs(op).size).sum / n, "count"),
        ("query.tasks", perOp(_.tasks), "count"),
        ("query.shuffle_bytes", perOp(_.shuffleBytes), "bytes"),
        ("query.spill_bytes", perOp(_.spillBytes), "bytes"),
        ("query.input_bytes", perOp(_.inputBytes), "bytes"),
        ("query.core_busy_frac", perOp(_.runMs) * n / 1000.0 / (busy * args.cores), "fraction"),
        ("jvm.gc_s", gc / n, "s"),
        ("spark.task_overhead_s", perOp(j => j.wallMs - j.runMs) / 1000.0, "s"),
        ("trace.op_cpu_s_gmean", Main.geomean(cpus), "s"),
        ("wall.op_s_p50", Main.median(times), "s"),
        ("wall.op_s_p90", Main.percentile(times, 0.9), "s")) ++ families
    }.getOrElse(Nil)
    val perQuery = done.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, xs) =>
      Map[String, Any]("query" -> q, "samples" -> xs.size, "op_s_median" -> Main.median(xs.map(_.span.seconds)),
        "op_s" -> xs.map(_.span.seconds), "cpu_s" -> xs.map(_.span.cpuSeconds), "steal_s" -> xs.map(_.stealS),
        "build_s_median" -> Main.median(xs.map(_.buildS)), "exec_s_median" -> Main.median(xs.map(_.execS)),
        "rows" -> xs.head.rows,
        "jobs" -> tracer.map(tr => xs.map(op => tr.jobsOf(op.span.id).size).sum / xs.size.toDouble).getOrElse(Double.NaN))
    }
    Main.Outcome(ops.size.toLong, ops.count(!_.ok).toLong, if (args.trace) layers else e2e,
      Map("passes" -> passes, "warm_cpu_s" -> warmCpu, "op_s_p50" -> Main.median(times),
        "op_s_p90" -> Main.percentile(times, 0.9), "ops_per_s" -> done.size / busy, "queries" -> perQuery))
  }

  private def loadExpected(size: String): Map[String, Expected] = {
    val f = args.expected
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.toSeq.map(_.split("\t", -1))
      .collect { case Array(`size`, q, rows, hash, schema) =>
        q -> Expected(rows.toLong, if (hash == "-") None else Some(hash), schema)
      }.toMap
  }

  /** Rewrites the expected-fingerprint lines of the queries just run. */
  private def writeExpected(f: Path): Unit = {
    val old = if (Files.exists(f)) Files.readAllLines(f).asScala.toSeq else Nil
    val keep = old.filterNot(l => recorded.keys.exists(q => l.startsWith(s"$size\t$q\t")))
    val mine = recorded.toSeq.map { case (q, e) =>
      Seq(size, q, e.rows.toString, e.hash.getOrElse("-"), e.schema).mkString("\t")
    }
    Files.write(f, (keep ++ mine).sorted.asJava)
  }

}

object QueryMix {

  /** One op: the query, its span, the time to build and to collect the
    * frame, its result rows, and whether the result matched. */
  final case class Op(name: String, span: Tracer.Span, buildS: Double, execS: Double, rows: Long, ok: Boolean,
                      stealS: Double)

  /** Expected result of one query: row count and schema, plus the content
    * hash for queries with a DuckDB oracle. */
  final case class Expected(rows: Long, hash: Option[String], schema: String)

  val WarmThreads = 3

  /** Warm-up passes on the measured corpus, after the tiny-corpus warm-up.
    * CPU time per pass falls for about four passes; one is what the time
    * budget allows, and it takes the steepest part of that fall. */
  val WarmPasses = 1

  /** Seconds of `--seconds` per measured pass (two passes at 20 s). */
  val PassSeconds = 10.0

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val LakeMix: Seq[String] = Seq(
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18", "ts_rolling_1h", "window_rank",
    "agg_cube", "join_anti", "join_asof")

  /** An odd number of queries: with whole passes the median op is then
    * the mean of the middle query's own samples (`ann_ivf_topk`), not of
    * the slowest sample of one query and the fastest of the next. */
  val CorpusMix: Seq[String] = Seq(
    "dedup_cluster", "ann_ivf_topk", "text_tfidf", "text_repetition",
    "b6_lsh_text_near_dup", "embedding_quantize", "pipeline_curate")

  /** Family of a query, by registry name prefix. */
  val Families: Seq[(String, String)] = Seq(
    "tpch" -> "tpch_", "ts" -> "ts_", "window" -> "window_", "agg" -> "agg_", "join" -> "join_",
    "dedup" -> "dedup_", "ann" -> "ann_", "text" -> "text_", "lsh" -> "b6_lsh_",
    "embedding" -> "embedding_", "pipeline" -> "pipeline_")

  def family(q: String): String = Families.find(f => q.startsWith(f._2)).map(_._1).getOrElse("other")
}
