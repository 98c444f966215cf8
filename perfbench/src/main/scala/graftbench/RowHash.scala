package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** An order-independent digest of a query's rows that `oracle.py`
  * reproduces from DuckDB's rows: columns in name order, one line per row
  * (values tab-separated), lines sorted by their UTF-8 bytes, then
  * SHA-256 over the header and the lines. Floating-point values are
  * encoded by their IEEE-754 bits (negative zero folded into zero), so a
  * match means equal values, not equal renderings. */
object RowHash {

  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => bits(d)
    case f: Float => bits(f.toDouble)
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] => n.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case b: Boolean => b.toString
    case s: String => escape(s)
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => escape(other.toString)
  }

  private def bits(d: Double): String =
    if (d.isNaN) "nan"
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  private val unsigned: Ordering[Array[Byte]] = (a, b) =>
    java.util.Arrays.compareUnsigned(a, b)

  def digest(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\t").getBytes(UTF_8))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("\t").getBytes(UTF_8))
    lines.sorted(unsigned).foreach { l => md.update('\n'.toByte); md.update(l) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** SHA-256 over the bytes of the `part-*` files under `dir`, in name
    * order: the digest of a single-file TSV sink. */
  def files(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
