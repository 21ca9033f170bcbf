package graft

import java.nio.file.{Files, Paths}

/** Runnable demo of the ingest loop (SURVEY.md §3.4): builds a synthetic
  * upload dir (two batches, second one evolving the schema, one corrupt
  * row), runs two ticks, prints the reports and the resulting lake.
  *
  * Usage: tools/run.sh graft.IngestDemo [workDir]
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      Files.createTempDirectory("graft_demo").toString)
    val spark = Session.local(4)

    def write(p: String, s: String): Unit = {
      val path = Paths.get(p); Files.createDirectories(path.getParent)
      Files.writeString(path, s)
    }
    val conf = ingest.Ingest.Config(
      uploadDir = s"$root/upload", lakeDir = s"$root/lake",
      archiveDir = s"$root/archive", dedupKeys = Seq("id"))

    write(s"$root/upload/samples/manifest.txt", "id,bigint\ncpu,double precision")
    write(s"$root/upload/samples/b1.csv", "id,cpu\n1,0.5\n1,0.5\n2,oops\n3,0.9\n")
    println("tick 1: " + ingest.Ingest.run(spark, conf))

    write(s"$root/upload/samples/manifest.txt",
      "id,bigint\ncpu,double precision\nhost,text")
    write(s"$root/upload/samples/b2.csv", "id,cpu,host\n4,0.7,web01\n")
    println("tick 2: " + ingest.Ingest.run(spark, conf))

    val lake = ingest.Ingest.readLake(spark, conf, "samples")
    println(s"lake rows=${lake.count()} cols=${lake.columns.toSeq.sorted}")
    lake.orderBy("id").show(truncate = false)
    spark.stop()
  }
}
