package perfbench

import java.util.Locale
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.util.hashing.MurmurHash3

/** Order-independent result fingerprint: row count, schema, and the
  * wrapping sum of a 64-bit hash per row over every column in name
  * order. Summing (not XOR-ing) keeps duplicate rows visible.
  *
  * Floating-point cells are hashed at 10 significant digits, so the
  * last-bit noise of a re-associated floating sum does not read as a
  * wrong answer, while any real change of a value does.
  */
object Fingerprint {

  final case class Fp(rows: Long, hash: String, schema: String)

  def schemaOf(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").sorted.mkString(",")

  def of(schema: StructType, rows: Array[Row]): Fp = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      val s = order.map(i => cell(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1ee7).toLong & 0xffffffffL)
      sum += h
    }
    Fp(rows.length.toLong, f"$sum%016x", schemaOf(schema))
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else String.format(Locale.ROOT, "%.9e", Double.box(if (d == 0.0) 0.0 else d))

  private def cell(v: Any): String = v match {
    case null                    => "∅"
    case d: Double               => real(d)
    case f: Float                => real(f.toDouble)
    case b: java.math.BigDecimal => real(b.doubleValue)
    case b: Array[Byte]          => b.map(x => f"$x%02x").mkString
    case r: Row                  => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x                       => x.toString
  }
}
