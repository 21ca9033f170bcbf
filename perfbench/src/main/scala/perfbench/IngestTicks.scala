package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.{DriverManager, Timestamp}
import java.time.{LocalDate, ZoneOffset}
import graft.ingest.{Ingest, JdbcSink, LoadAudit}
import graft.operators.IncrementalRollup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `ingest_ticks`: the importer's own job, one closed-loop op per tick.
  *
  * Before each tick a seeded generator drops one day of monitoring CSVs
  * into the upload dir (untimed). The op, timed from that drop to the
  * dashboard answer, is: `Ingest.run`, `IncrementalRollup.update` over
  * the append table, `JdbcSink.appendInto` of that day's rows into an
  * embedded in-memory Derby, and one dashboard query on the rollup.
  *
  * The generator is the oracle: it knows every table's loaded, rejected
  * and evolved counts per tick, the rollup's per-host aggregates, and the
  * exact rows each lake table must hold at the end (checked with
  * `LoadAudit.verified`).
  */
final class IngestTicks(spark: SparkSession, args: Main.Args, tracer: Option[Tracer]) {
  import IngestTicks._

  private val sc = spark.sparkContext
  private val rowsPerFile = if (args.smoke) SmokeRowsPerFile else 3000
  private val nHosts = 40
  private val derbyUrl = s"jdbc:derby:memory:perfbench${math.abs(args.seed)}"

  /** One generated table: schema (in manifest order), the rows each lake
    * table must hold, and per-tick delivery. */
  private final class Table(val name: String, val fullRefresh: Boolean) {
    var columns: Seq[(String, String, DataType)] = Nil
    val truth = mutable.ArrayBuffer.empty[Row]
  }

  /** One upload/lake/Derby universe: the warm-up and the measured run
    * each get their own. */
  private final class World(val root: Path, val jdbcTable: String, rowsPerFile: Int) {
    val tables: Seq[Table] = Seq(new Table("background_jobs", false), new Table("cpu_samples", false),
      new Table("hosts", true), new Table("http_requests", false))
    val conf = Ingest.Config(
      uploadDir = root.resolve("upload").toString, lakeDir = root.resolve("lake").toString,
      archiveDir = root.resolve("archive").toString, errorDir = root.resolve("error").toString,
      dedupKeys = Seq("id"), fullRefreshTables = tables.filter(_.fullRefresh).map(_.name).toSet)
    val rollupPath: String = root.resolve("rollup").toString
    private var nextId = 0L
    /** Expected per-(day, host) rollup of cpu_samples: (sum bytes, max cpu). */
    val rollup = mutable.Map.empty[(LocalDate, String), (Long, Double)]
    var jdbcRows = 0L
    var csvBytes = 0L

    /** Drops tick `t`'s files; returns what the importer must report. */
    def drop(t: Int): Seq[Expect] = {
      val rnd = new Random(args.seed * 1000003L + t)
      val day = Day0.plusDays(t)
      tables.map { tb =>
        tb.columns = schemaOf(tb.name, t)
        val dir = root.resolve("upload").resolve(tb.name)
        Files.createDirectories(dir)
        Files.write(dir.resolve("manifest.txt"),
          tb.columns.map { case (c, pg, _) => s"$c,$pg" }.mkString("\n").getBytes(UTF_8))
        if (idle(tb.name, t)) Expect(tb.name, idle = true, 0, 0, Nil)
        else {
          val nFiles = tb.name match { case "cpu_samples" => 3; case "http_requests" => 2; case _ => 1 }
          val lines = Array.fill(nFiles)(mutable.ArrayBuffer.empty[String])
          val kept = mutable.ArrayBuffer.empty[Row]
          var rejected = 0L
          val n = if (tb.name == "hosts") nHosts else rowsPerFile * nFiles
          for (i <- 0 until n) {
            val id = if (tb.name == "hosts") i.toLong else { nextId += 1; nextId }
            val values = tb.columns.map { case (c, _, _) => value(tb.name, c, id, day, t, rnd) }
            val f = rnd.nextInt(nFiles)
            if (tb.name != "hosts" && rnd.nextDouble() < 0.005) {
              // a malformed numeric cell: PERMISSIVE parsing rejects the row
              val bad = tb.columns.indexWhere(_._3 == DoubleType)
              lines(f) += values.updated(bad, "n/a").map(csv).mkString(",")
              rejected += 1
            } else {
              val line = values.map(csv).mkString(",")
              lines(f) += line
              if (tb.name != "hosts" && rnd.nextDouble() < 0.005) lines(rnd.nextInt(nFiles)) += line
              kept += Row.fromSeq(values)
            }
          }
          if (tb.fullRefresh) tb.truth.clear()
          tb.truth ++= kept
          if (tb.name == "cpu_samples") kept.foreach { r =>
            val k = (day, r.getString(2))
            val (b, c) = rollup.getOrElse(k, (0L, Double.MinValue))
            rollup(k) = (b + r.getLong(4), math.max(c, r.getDouble(3)))
          }
          lines.zipWithIndex.foreach { case (ls, k) =>
            val bytes = (tb.columns.map(_._1).mkString(",") +: ls).mkString("", "\n", "\n").getBytes(UTF_8)
            Files.write(dir.resolve(f"t$t%04d_$k.csv"), bytes)
            csvBytes += bytes.length
          }
          val evolved = if (tb.name == "cpu_samples" && t == EvolveTick) Seq("mem") else Nil
          Expect(tb.name, idle = false, kept.size.toLong, rejected, evolved)
        }
      }
    }

    /** Lake footers the mergeSchema probe of each loading table reads. */
    def probeFiles(expects: Seq[Expect]): Long =
      expects.filterNot(_.idle).map(e => parquetFiles(root.resolve("lake").resolve(e.table)).size.toLong).sum

    def lakeParquet: Seq[Path] = parquetFiles(root.resolve("lake")) ++ parquetFiles(Path.of(rollupPath))
  }

  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  /** Exactly one table is idle every tick (so ok_frac does not depend on
    * how many ticks fit in a run): the full-refresh dimension is replaced
    * on even ticks, background_jobs delivers on odd ticks. */
  private def idle(table: String, t: Int): Boolean = table match {
    case "hosts" => t % 2 == 1
    case "background_jobs" => t % 2 == 0
    case _ => false
  }

  private def schemaOf(table: String, t: Int): Seq[(String, String, DataType)] = {
    val id = ("id", "bigint", LongType)
    val ts = ("ts", "timestamp", TimestampType)
    table match {
      case "cpu_samples" =>
        Seq(id, ts, ("host", "text", StringType), ("cpu", "double precision", DoubleType),
          ("bytes", "bigint", LongType)) ++
          (if (t >= EvolveTick) Seq(("mem", "double precision", DoubleType)) else Nil)
      case "http_requests" =>
        Seq(id, ts, ("path", "text", StringType), ("status", "integer", IntegerType),
          ("latency_ms", "double precision", DoubleType))
      case "background_jobs" =>
        Seq(id, ts, ("job", "text", StringType), ("duration_s", "double precision", DoubleType))
      case "hosts" =>
        Seq(id, ("host", "text", StringType), ("site", "text", StringType), ("cores", "integer", IntegerType))
    }
  }

  private def value(table: String, c: String, id: Long, day: LocalDate, t: Int, r: Random): Any =
    (table, c) match {
      case (_, "id") => id
      case (_, "ts") => Timestamp.from(day.atStartOfDay(ZoneOffset.UTC).toInstant.plusSeconds(r.nextInt(86400)))
      case ("hosts", "host") => s"host$id"
      case (_, "host") => s"host${r.nextInt(nHosts)}"
      case (_, "cpu") => r.nextInt(10000) / 100.0
      case (_, "bytes") => r.nextInt(1000000).toLong
      case (_, "mem") => r.nextInt(6400) / 100.0
      case (_, "path") => UrlPaths(r.nextInt(UrlPaths.length))
      case (_, "status") => Statuses(r.nextInt(Statuses.length))
      case (_, "latency_ms") => r.nextInt(500000) / 100.0
      case (_, "job") => s"job${r.nextInt(12)}"
      case (_, "duration_s") => r.nextInt(360000) / 100.0
      case (_, "site") => s"site${(id + t) % 3}"
      case (_, "cores") => 4 + ((id * 7 + t) % 5).toInt * 4
    }

  private def csv(v: Any): String = v match {
    case ts: Timestamp => ts.toInstant.toString.replace('T', ' ').stripSuffix("Z")
    case x => x.toString
  }

  private def runTick(w: World, t: Int): Tick = {
    val expects = w.drop(t)
    val probeFiles = w.probeFiles(expects)
    val before = w.lakeParquet.toSet
    val day = Day0.plusDays(t)
    val tag = s"${w.jdbcTable}#$t"
    val steal0 = Main.stealSeconds()
    val c0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    val (reports, sIngest) = Tracer.span(sc, s"ingest#$tag")(Ingest.run(spark, w.conf))
    val (_, sRollup) = Tracer.span(sc, s"rollup#$tag") {
      IncrementalRollup.update(spark, Ingest.readLake(spark, w.conf, "cpu_samples"), "ts",
        Seq("host"), Map("bytes" -> "sum", "cpu" -> "max"), w.rollupPath)
    }
    val (_, sJdbc) = Tracer.span(sc, s"jdbc#$tag")(appendDay(w, day))
    val (answer, sDash) = Tracer.span(sc, s"dashboard#$tag") {
      spark.read.parquet(w.rollupPath)
        .filter(col("day") > lit(java.sql.Date.valueOf(day.minusDays(7))))
        .groupBy("host").agg(sum("sum_bytes").as("bytes"), max("max_cpu").as("cpu"))
        .orderBy("host").collect()
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuSeconds = Main.cpuSeconds() - c0
    val stealSeconds = Main.stealSeconds() - steal0
    val after = w.lakeParquet
    val written = after.filterNot(before)
    val newRows = expects.find(_.table == "cpu_samples").map(_.loaded).getOrElse(0L)
    w.jdbcRows += newRows
    val ok = checkReports(reports, expects, tag) & checkDashboard(w, day, answer, tag) & checkJdbc(w, tag)
    Tick(t, seconds, sIngest, sRollup, sJdbc, sDash, reports, expects, ok, probeFiles,
      written.size.toLong, written.map(Files.size).sum, newRows, cpuSeconds, stealSeconds)
  }

  /** Appends the day's rows to Derby, first adding (add-only) any column
    * the warehouse table lacks, as the importer's sink step would. */
  private def appendDay(w: World, day: LocalDate): Unit = {
    val rows = Ingest.readLake(spark, w.conf, "cpu_samples").filter(to_date(col("ts")) === lit(java.sql.Date.valueOf(day)))
    val conn = DriverManager.getConnection(derbyUrl + ";create=true")
    try {
      val rs = conn.getMetaData.getColumns(null, null, w.jdbcTable, null)
      val live = mutable.ArrayBuffer.empty[StructField]
      while (rs.next()) live += StructField(rs.getString("COLUMN_NAME"), StringType)
      rs.close()
      if (live.nonEmpty)
        JdbcSink.alterAddColumnsDdl(w.jdbcTable, StructType(live.toSeq), rows.schema)
          .foreach(ddl => conn.createStatement().execute(ddl))
    } finally conn.close()
    JdbcSink.appendInto(rows, JdbcSink.Config(url = derbyUrl, table = w.jdbcTable,
      numPartitions = args.cores, driver = DerbyDriver))
  }

  private def complain(tag: String, msg: String): Boolean = {
    System.err.println(s"perfbench: $tag: $msg")
    false
  }

  /** Whether the importer handled one table's batch as the generator
    * expects. An idle table must load nothing; the known defect reports
    * it failed as well (its `*.csv*` glob matches no file), which is not
    * ok, but is no wrong output either. */
  private def loadOk(e: Expect, r: Ingest.TableReport): Boolean =
    r.failed.isEmpty && r.loaded == e.loaded && r.rejected == e.rejected && r.evolvedColumns == e.evolved

  private def checkReports(reports: Seq[Ingest.TableReport], expects: Seq[Expect], tag: String): Boolean =
    expects.map { e =>
      reports.find(_.table == e.table) match {
        case None => complain(tag, s"${e.table}: no report")
        case Some(r) if e.idle => r.loaded == 0 || complain(tag, s"${e.table}: idle table loaded ${r.loaded}")
        case Some(r) => loadOk(e, r) ||
          complain(tag, s"${e.table}: got loaded=${r.loaded} rejected=${r.rejected} " +
            s"evolved=${r.evolvedColumns} failed=${r.failed}, want ${e.loaded}/${e.rejected}/${e.evolved}")
      }
    }.forall(identity)

  private def checkDashboard(w: World, day: LocalDate, answer: Array[Row], tag: String): Boolean = {
    val want = w.rollup.toSeq.filter(_._1._1.isAfter(day.minusDays(7)))
      .groupBy(_._1._2).map { case (h, xs) => h -> (xs.map(_._2._1).sum, xs.map(_._2._2).max) }
    val got = answer.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got == want || complain(tag, s"dashboard answer differs from the generator (${got.size} vs ${want.size} hosts)")
  }

  private def checkJdbc(w: World, tag: String): Boolean = {
    val conn = DriverManager.getConnection(derbyUrl)
    val n = try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${w.jdbcTable}")
      rs.next(); rs.getLong(1)
    } finally conn.close()
    n == w.jdbcRows || complain(tag, s"Derby holds $n rows, want ${w.jdbcRows}")
  }

  /** End-of-run content check of every lake table against the generator. */
  private def audit(w: World): Boolean =
    w.tables.map { tb =>
      val schema = StructType(tb.columns.map { case (c, _, dt) => StructField(c, dt) })
      val width = schema.size
      val rows = tb.truth.map(r => if (r.length == width) r else Row.fromSeq(r.toSeq.padTo(width, null)))
      val truth = spark.createDataFrame(rows.asJava, schema)
      LoadAudit.verified(truth, Ingest.readLake(spark, w.conf, tb.name)) ||
        complain("audit", s"lake table ${tb.name} differs from the generator's rows")
    }.forall(identity)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }

  def run(): Main.Outcome = {
    Class.forName(DerbyDriver)
    // warm-up: ticks of the measured size in a throwaway world, through
    // every kind of tick (first load, idle tables, a full refresh, the
    // column evolution), so the measured ticks do not pay class loading,
    // code generation and most of the JIT's compiles (after three warm-up
    // ticks, CPU time per tick still fell by a third over the measured
    // ticks)
    val w0 = System.nanoTime()
    val warm = new World(args.work.resolve("warm"), "WARM_CPU_SAMPLES", rowsPerFile)
    val nWarm = if (args.smoke) EvolveTick + 1 else WarmTicks
    val warmCpu = (0 until nWarm).map { t =>
      val c0 = Main.cpuSeconds()
      runTick(warm, t)
      spark.catalog.clearCache()
      Main.cpuSeconds() - c0
    }
    deleteTree(warm.root)
    System.err.println(f"perfbench: warm-up took ${(System.nanoTime() - w0) / 1e9}%.1f s, " +
      warmCpu.map(c => f"$c%.1f").mkString("CPU s per tick: ", ", ", ""))
    val w = new World(args.work.resolve("run"), "CPU_SAMPLES", rowsPerFile)
    println("PERFBENCH_READY")
    tracer.foreach(sc.addSparkListener)
    val gc0 = Main.gcSeconds()
    val ticks = mutable.ArrayBuffer.empty[Tick]
    // a fixed number of ticks, not a time limit: every commit and seed then
    // grows the same lake, so op times compare the same work
    val nTicks = if (args.smoke) SmokeTicks else math.max(1, math.round(args.seconds / TickSeconds).toInt)
    while (ticks.size < nTicks) {
      ticks += (try runTick(w, ticks.size) catch {
        case e: Exception =>
          complain(s"tick ${ticks.size}", e.toString)
          Tick(ticks.size, Double.NaN, null, null, null, null, Nil, Nil, ok = false, 0, 0, 0, 0, 0, 0)
      })
      spark.catalog.clearCache()
    }
    val gc = Main.gcSeconds() - gc0
    val audited = audit(w)
    val lakeBytes = w.lakeParquet.map(Files.size).sum
    sc.stop() // drains the listener bus before the trace is read
    try DriverManager.getConnection(derbyUrl + ";drop=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a completed drop this way

    val done = ticks.filter(!_.seconds.isNaN)
    val times = done.map(_.seconds).toSeq
    val cpus = done.map(_.cpuSeconds).toSeq
    val busy = times.sum
    val tableTicks = done.flatMap(_.expects)
    val loadsOk = done.map(tk => tk.expects.count(e => tk.reports.find(_.table == e.table).exists(loadOk(e, _)))).sum
    val tablesFailed = done.map(tk => tk.reports.count(_.failed.isDefined)).sum
    val failed = ticks.count(!_.ok) + (if (audited) 0 else 1)
    val perTick = math.max(1, done.size).toDouble
    val e2e = Seq(
      ("op_cpu_s_gmean", Main.geomean(cpus), "s"),
      ("op_cpu_s_p90", Main.percentile(cpus, 0.9), "s"),
      ("ops_per_cpu_s", done.size / cpus.sum, "1/s"),
      ("rows_per_cpu_s", done.flatMap(_.reports.map(_.loaded)).sum / cpus.sum, "rows/s"),
      ("ok_frac", loadsOk.toDouble / math.max(1, tableTicks.size), "fraction"),
      ("lake_bytes_per_csv_byte", lakeBytes.toDouble / w.csvBytes, "ratio"))
    val layers = tracer.map { tr =>
      def jobs(s: Tracer.Span) = tr.jobsOf(s.id)
      def jobSecs(js: Seq[Tracer.JobRec]) = js.map(j => (j.end - j.start) / 1000.0).sum
      val ingestJobs = done.map(tk => jobs(tk.ingest))
      def part(kind: String) = Main.median(ingestJobs.map(js => jobSecs(ingestSteps(js).collect { case (j, `kind`) => j })).toSeq)
      val rollupScanned = done.map(tk => jobs(tk.rollup).map(_.inputRecords).sum).sum
      val allJobs = done.flatMap(tk => Seq(tk.ingest, tk.rollup, tk.jdbc, tk.dashboard).flatMap(jobs))
      Seq(
        ("ingest.run_s", Main.median(done.map(_.ingest.seconds).toSeq), "s"),
        ("ingest.driver_self_s", Main.median(done.map(tk => Tracer.selfSeconds(tk.ingest, jobs(tk.ingest))).toSeq), "s"),
        ("ingest.csv_parse_s", part("csv_parse"), "s"),
        ("ingest.schema_probe_s", part("schema_probe"), "s"),
        ("ingest.lake_write_s", part("lake_write"), "s"),
        ("ingest.jobs_per_tick", ingestJobs.map(_.size).sum / perTick, "count"),
        ("ingest.rows_loaded", done.flatMap(_.reports.map(_.loaded)).sum / perTick, "rows"),
        ("ingest.rows_rejected", done.flatMap(_.reports.map(_.rejected)).sum / perTick, "rows"),
        ("ingest.tables_failed", tablesFailed / perTick, "count"),
        ("ingest.lake_files_written", done.map(_.filesWritten).sum / perTick, "count"),
        ("ingest.lake_bytes_written", done.map(_.bytesWritten).sum / perTick, "bytes"),
        ("ingest.schema_probe_files", done.map(_.probeFiles).sum / perTick, "count"),
        ("rollup.update_s", Main.median(done.map(_.rollup.seconds).toSeq), "s"),
        ("rollup.rows_scanned_per_new_row", rollupScanned.toDouble / math.max(1L, done.map(_.newRows).sum), "ratio"),
        ("jdbc.append_s", Main.median(done.map(_.jdbc.seconds).toSeq), "s"),
        ("jdbc.rows_per_s", done.map(_.newRows).sum / done.map(_.jdbc.seconds).sum, "rows/s"),
        ("jvm.gc_s", gc / perTick, "s"),
        ("spark.task_overhead_s", allJobs.map(j => j.wallMs - j.runMs).sum / 1000.0 / perTick, "s"),
        ("trace.op_cpu_s_gmean", Main.geomean(cpus), "s"),
        ("wall.op_s_p50", Main.median(times), "s"),
        ("wall.op_s_p90", Main.percentile(times, 0.9), "s"))
    }.getOrElse(Nil)
    val sidecar = Map[String, Any](
      "warm_cpu_s" -> warmCpu,
      "op_s_p50" -> Main.median(times), "op_s_p90" -> Main.percentile(times, 0.9),
      "ops_per_s" -> done.size / busy,
      "rows_per_s" -> done.flatMap(_.reports.map(_.loaded)).sum / busy,
      "ticks" -> done.map(tk => Map[String, Any]("tick" -> tk.t, "op_s" -> tk.seconds,
        "cpu_s" -> tk.cpuSeconds, "steal_s" -> tk.stealSeconds,
        "ingest_s" -> tk.ingest.seconds, "rollup_s" -> tk.rollup.seconds, "jdbc_s" -> tk.jdbc.seconds,
        "dashboard_s" -> tk.dashboard.seconds, "probe_files" -> tk.probeFiles,
        "tables_failed" -> tk.reports.filter(_.failed.isDefined).map(_.table),
        "jobs" -> tracer.map(tr => ingestSteps(tr.jobsOf(tk.ingest.id)).map { case (j, k) => s"$k: ${j.callSite}" }).getOrElse(Nil))).toSeq)
    Main.Outcome(ticks.size.toLong, failed.toLong, if (args.trace) layers else e2e, sidecar)
  }

  /** Which ingest step each job belongs to, judged per SQL execution:
    * the execution that writes bytes is the lake write, the one called
    * from CsvSource is the reject-gate parse, and the remaining one called
    * from Ingest is the live-lake schema probe. */
  private def ingestSteps(jobs: Seq[Tracer.JobRec]): Seq[(Tracer.JobRec, String)] = {
    val step = jobs.groupBy(_.execution).map { case (x, js) =>
      x -> (if (js.exists(_.outputBytes > 0)) "lake_write"
      else if (js.exists(_.callSite.contains("CsvSource"))) "csv_parse"
      else if (js.exists(_.callSite.contains("Ingest.scala"))) "schema_probe"
      else "other")
    }
    jobs.map(j => j -> step(j.execution))
  }
}

object IngestTicks {
  /** What the importer must report for one table on one tick. */
  final case class Expect(table: String, idle: Boolean, loaded: Long, rejected: Long, evolved: Seq[String])

  /** One tick's op: its time, the spans of its four steps, the importer's
    * reports and what the lake gained. */
  final case class Tick(t: Int, seconds: Double, ingest: Tracer.Span, rollup: Tracer.Span,
                        jdbc: Tracer.Span, dashboard: Tracer.Span,
                        reports: Seq[Ingest.TableReport], expects: Seq[Expect], ok: Boolean,
                        probeFiles: Long, filesWritten: Long, bytesWritten: Long, newRows: Long,
                        cpuSeconds: Double, stealSeconds: Double)

  val Day0: LocalDate = LocalDate.of(2024, 3, 1)
  /** The tick whose cpu_samples batch adds the `mem` column. */
  val EvolveTick = 2
  /** Warm-up ticks of a full-size run (at least EvolveTick + 1): the JIT
    * takes about ten ticks to bring a tick's CPU time near its floor. */
  val WarmTicks = 8
  /** Seconds of `--seconds` per measured tick: a run makes
    * round(seconds / TickSeconds) ticks (seven at 20 s). */
  val TickSeconds = 3.0
  /** A smoke run's size: ticks, and rows per fact file. */
  val SmokeTicks = 4
  val SmokeRowsPerFile = 150
  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  val UrlPaths: Array[String] = Array("/", "/login", "/api/items", "/api/orders", "/search", "/static/app.js")
  val Statuses: Array[Int] = Array(200, 200, 200, 200, 301, 404, 500)
}
