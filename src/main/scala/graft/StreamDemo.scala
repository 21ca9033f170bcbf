package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable end-to-end Structured Streaming drive (SURVEY.md §2B B7 on
  * the FILE source — the reference's actual arrival mode, periodic file
  * drops): CSV batches land in a watched directory, a watermarked
  * tumbling aggregation maintains state, results stream to a parquet
  * sink with checkpointing; batches are fed while the query runs.
  *
  * Usage: tools/run.sh graft.StreamDemo [workDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      Files.createTempDirectory("graft_stream").toString)
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))
    val spark = Session.local(4)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))

    val q = spark.readStream.schema(schema)
      .option("header", "true").csv(in)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    def drop(name: String, rows: String): Unit = {
      Files.writeString(Paths.get(s"$in/$name"), "event_id,ts,user_id,event_type,value\n" + rows)
      q.processAllAvailable()
    }
    drop("b1.csv",
      """1,2024-01-01 00:05:00,1,click,1.0
        |2,2024-01-01 00:40:00,2,view,1.0
        |3,2024-01-01 01:10:00,1,click,1.0
        |""".stripMargin)
    drop("b2.csv",
      """4,2024-01-01 01:20:00,2,click,1.0
        |5,2024-01-01 02:30:00,1,view,1.0
        |6,2024-01-01 03:45:00,2,view,1.0
        |""".stripMargin)
    // advancing watermark past 02:00 finalizes the first two windows
    drop("b3.csv", "7,2024-01-01 04:30:00,1,click,1.0\n")
    q.processAllAvailable()
    q.stop()

    val result = spark.read.parquet(out)
      .orderBy("window_start", "event_type")
    println(s"[stream-demo] finalized rows=${result.count()}")
    result.show(truncate = false)
    spark.stop()
  }
}
