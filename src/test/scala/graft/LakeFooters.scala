package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Prints what the parquet footers of a lake directory say about each
  * column of each data file: codec, encodings, whether every page is a
  * v2 data page, and compressed and uncompressed bytes. One tab-separated
  * line per file and column, files in path order, then a `total` line.
  *
  * Usage (after `sbt Test/compile`):
  *   GRAFT_CLASSES=target/scala-2.13/classes:target/scala-2.13/test-classes \
  *     tools/run.sh graft.LakeFooters <dir>
  *
  * Reads footers only, through Hadoop's `FileSystem` of `dir`; starts no
  * Spark session.
  */
object LakeFooters {

  /** One column of one data file, summed over its row groups. `v2Pages`
    * holds when every chunk's encoding stats say it uses v2 data pages. */
  final case class Column(file: String, column: String, codecs: Set[String], encodings: Set[String],
                          v2Pages: Boolean, compressedBytes: Long, uncompressedBytes: Long)

  /** The columns of every `.parquet` file under `dir`, recursively, files
    * in path order and columns in schema order. */
  def columns(conf: Configuration, dir: String): Seq[Column] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listFiles(root, true)
    val paths = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.toString)
    paths.flatMap(fileColumns(conf, _))
  }

  private def fileColumns(conf: Configuration, file: Path): Seq[Column] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val chunks = try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally r.close()
    val byColumn = chunks.groupBy(_.getPath.toDotString)
    chunks.map(_.getPath.toDotString).distinct.map { column =>
      val cs = byColumn(column)
      Column(file.toString, column,
        cs.map(_.getCodec.name).toSet,
        cs.flatMap(_.getEncodings.asScala.map(_.name)).toSet,
        cs.forall(c => Option(c.getEncodingStats).exists(_.usesV2Pages)),
        cs.map(_.getTotalSize).sum,
        cs.map(_.getTotalUncompressedSize).sum)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.LakeFooters <dir>")
    val cols = columns(new Configuration(), args(0))
    println(Seq("file", "column", "codec", "encodings", "v2_pages", "compressed", "uncompressed").mkString("\t"))
    cols.foreach { c =>
      println(Seq(c.file, c.column, c.codecs.toSeq.sorted.mkString(","), c.encodings.toSeq.sorted.mkString(","),
        c.v2Pages, c.compressedBytes, c.uncompressedBytes).mkString("\t"))
    }
    println(Seq("total", s"${cols.map(_.file).distinct.size} files", "", "", cols.forall(_.v2Pages),
      cols.map(_.compressedBytes).sum, cols.map(_.uncompressedBytes).sum).mkString("\t"))
  }
}
