package graft.ingest

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** B1 (CSV + rejects) and the §3.4 pipeline end-to-end on temp dirs. */
class IngestSpec extends SparkSpec {

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  test("CsvSource splits valid rows from rejects") {
    val dir = Files.createTempDirectory("graft_csv").toString
    write(s"$dir/batch1.csv",
      """id,val,ts
        |1,2.5,2024-01-01 00:00:00
        |2,not_a_number,2024-01-01 00:01:00
        |3,7.25,2024-01-01 00:02:00
        |""".stripMargin)
    val schema = Manifest.parse(
      """id,bigint
        |val,double precision
        |ts,timestamp without time zone""".stripMargin)
    val r = CsvSource.read(spark, schema, s"$dir/*.csv")
    assert(r.valid.count() == 2)
    assert(r.rejects.count() == 1)
    assert(r.rejects.collect().head.getString(0).contains("not_a_number"))
    assertThrows[IllegalStateException](CsvSource.enforceRejectLimit(r, 0))
    assert(CsvSource.enforceRejectLimit(r, 5) == 1)
  }

  test("gzipped CSV batches load transparently (the reference's upload format)") {
    val dir = Files.createTempDirectory("graft_gz").toString
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(Paths.get(s"$dir/batch.csv.gz")))
    gz.write("id,v\n1,2.5\n2,7.25\n".getBytes("UTF-8")); gz.close()
    val schema = Manifest.parse("id,bigint\nv,double precision")
    val r = CsvSource.read(spark, schema, s"$dir/*.csv.gz")
    assert(r.valid.count() == 2 && r.rejects.count() == 0)
  }

  test("Manifest maps PostgreSQL-ish types, tolerates unknowns") {
    val st = Manifest.parse(
      """a,text
        |b,integer
        |# comment
        |c,numeric
        |d,mystery_type""".stripMargin)
    import org.apache.spark.sql.types._
    assert(st.fieldNames.toSeq == Seq("a", "b", "c", "d"))
    assert(st("b").dataType == IntegerType)
    assert(st("c").dataType == DecimalType(18, 4))
    assert(st("d").dataType == StringType)
  }

  test("volume CSV path: 60k-row lineitem batch loads losslessly") {
    import org.apache.spark.sql.functions.{col, sum}
    val root = Files.createTempDirectory("graft_vol").toString
    val li = graft.Tables.lineitem(spark, sf("sf0.01"))
    li.coalesce(1).write.option("header", "true")
      .csv(s"$root/tmpcsv")
    // move the csv into the ingest layout
    val csv = Files.list(Paths.get(s"$root/tmpcsv"))
      .filter(_.toString.endsWith(".csv")).findFirst().get()
    write(s"$root/upload/lineitem/manifest.txt",
      """l_orderkey,bigint
        |l_partkey,bigint
        |l_suppkey,bigint
        |l_linenumber,integer
        |l_quantity,double precision
        |l_extendedprice,double precision
        |l_discount,double precision
        |l_tax,double precision
        |l_returnflag,text
        |l_linestatus,text
        |l_shipdate,timestamp without time zone""".stripMargin)
    Files.move(csv, Paths.get(s"$root/upload/lineitem/b1.csv"))
    val conf = Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake",
      archiveDir = s"$root/archive")
    val rep = Ingest.run(spark, conf).find(_.table == "lineitem").get
    assert(rep.loaded == 60000 && rep.rejected == 0)
    val lake = Ingest.readLake(spark, conf, "lineitem")
    // lossless: decimal-exact sum of a money column survives the
    // parquet -> CSV -> parquet round trip
    val a = li.agg(sum(graft.Tables.dec2(col("l_extendedprice")))).collect().head.getDecimal(0)
    val b = lake.agg(sum(graft.Tables.dec2(col("l_extendedprice")))).collect().head.getDecimal(0)
    assert(a == b)
  }

  test("full-refresh table class: each batch replaces contents via stage-and-swap") {
    val root = Files.createTempDirectory("graft_fullref").toString
    val conf = Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake",
      archiveDir = s"$root/archive", fullRefreshTables = Set("users"))
    write(s"$root/upload/users/manifest.txt", "id,bigint\nname,text")
    write(s"$root/upload/users/b1.csv", "id,name\n1,ann\n2,bob\n")
    Ingest.run(spark, conf)
    assert(Ingest.readLake(spark, conf, "users").count() == 2)
    // second extract: complete replacement, not append
    write(s"$root/upload/users/b2.csv", "id,name\n3,cho\n")
    Ingest.run(spark, conf)
    val lake = Ingest.readLake(spark, conf, "users")
    assert(lake.count() == 1)
    assert(lake.collect().head.getString(1) == "cho")
    assert(!Files.exists(Paths.get(s"$root/lake/users__refresh_tmp")))
    assert(!Files.exists(Paths.get(s"$root/lake/users__refresh_old")))
  }

  test("a failing table quarantines to the error folder without aborting the tick") {
    val root = Files.createTempDirectory("graft_err").toString
    val conf = Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake",
      archiveDir = s"$root/archive", errorDir = s"$root/error",
      rejectLimit = 0)
    // table 'aaa' is entirely corrupt (exceeds rejectLimit=0);
    // table 'bbb' is clean and must still load
    write(s"$root/upload/aaa/manifest.txt", "id,bigint\nv,double precision")
    write(s"$root/upload/aaa/bad.csv", "id,v\nnot,numbers\nat,all\n")
    write(s"$root/upload/bbb/manifest.txt", "id,bigint\nv,double precision")
    write(s"$root/upload/bbb/ok.csv", "id,v\n1,1.5\n")
    val reports = Ingest.run(spark, conf)
    val aaa = reports.find(_.table == "aaa").get
    val bbb = reports.find(_.table == "bbb").get
    assert(aaa.failed.isDefined && aaa.loaded == 0)
    assert(Files.exists(Paths.get(s"$root/error/aaa/bad.csv")))
    assert(!Files.exists(Paths.get(s"$root/upload/aaa/bad.csv")))
    assert(bbb.failed.isEmpty && bbb.loaded == 1)
    assert(Ingest.readLake(spark, conf, "bbb").count() == 1)
  }

  test("Ingest.run: load, dedup, evolve add-only across batches, archive") {
    val root = Files.createTempDirectory("graft_ingest").toString
    val conf = Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake",
      archiveDir = s"$root/archive", dedupKeys = Seq("id"))

    // batch 1: plain two-column table, one duplicated id
    write(s"$root/upload/metrics/manifest.txt", "id,bigint\nv,double precision")
    write(s"$root/upload/metrics/b1.csv", "id,v\n1,1.5\n1,1.5\n2,2.5\n")
    // a partial upload beside the batch: never loaded, never archived
    write(s"$root/upload/metrics/b3.csv.tmp", "id,v\n9,9.5\n")
    val rep1 = Ingest.run(spark, conf)
    assert(rep1.map(_.table) == Seq("metrics"))
    assert(rep1.head.loaded == 2) // dedup kept one of the id=1 rows
    assert(rep1.head.rejected == 0)
    // inputs archived away
    assert(!Files.exists(Paths.get(s"$root/upload/metrics/b1.csv")))
    assert(Files.exists(Paths.get(s"$root/archive/metrics/b1.csv")))

    // batch 2: a new column appears (Tableau-upgrade scenario)
    write(s"$root/upload/metrics/manifest.txt",
      "id,bigint\nv,double precision\nhost,text")
    write(s"$root/upload/metrics/b2.csv", "id,v,host\n3,3.5,web01\n")
    val rep2 = Ingest.run(spark, conf)
    assert(rep2.head.evolvedColumns == Seq("host"))

    val lake = Ingest.readLake(spark, conf, "metrics")
    assert(lake.count() == 3)
    assert(lake.columns.sorted.toSeq == Seq("host", "id", "v"))
    // old rows surface the new column as NULL
    val hosts = lake.select("host").collect().map(r => Option(r.getString(0))).toSeq
    assert(hosts.count(_.isEmpty) == 2 && hosts.flatten == Seq("web01"))
    assert(Files.exists(Paths.get(s"$root/upload/metrics/b3.csv.tmp")))
    assert(!Files.exists(Paths.get(s"$root/archive/metrics/b3.csv.tmp")))

    // tick 3: no new file is an idle table, not a failed one
    val rep3 = Ingest.run(spark, conf)
    assert(rep3.head.failed.isEmpty && rep3.head.loaded == 0 && rep3.head.files.isEmpty)
    assert(!Files.exists(Paths.get(s"$root/error")))
    assert(Ingest.readLake(spark, conf, "metrics").count() == 3)
  }
}
