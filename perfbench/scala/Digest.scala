package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical row digest of a query result, the same rule
  * `perfbench/oracle_digests.py` applies to the DuckDB oracle's rows:
  * columns sorted by name, each cell rendered type-tagged, rows sorted by
  * their UTF-8 bytes, SHA-256 over header and rows.
  *
  * Doubles are rendered by IEEE bits, so -0.0 and 0.0 differ (as they do in
  * `tools/compare.py`) and every NaN reads the same. */
object Digest {

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case d: Double => "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => cell(f.toDouble)
    case i @ (_: Byte | _: Short | _: Int | _: Long) => "i:" + i.toString
    case i: java.math.BigInteger => "i:" + i.toString
    case d: java.math.BigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case s: String => "s:" + escape(s)
    case t: java.sql.Timestamp => "t:" + micros(t.toInstant)
    case t: java.time.Instant => "t:" + micros(t)
    case t: java.time.LocalDateTime => "t:" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D:" + d.toEpochDay
    case b: Array[Byte] => "x:" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"digest: unsupported cell type ${other.getClass.getName}")
  }

  private def decimal(d: java.math.BigDecimal): String =
    "n:" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")

  /** Digest of a result given its column names and rows. */
  def of(columns: Seq[String], rows: Seq[Seq[Any]]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r(i))).mkString("\t").getBytes(UTF_8))
    val sorted = lines.sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("cols:" + columns.sorted.mkString(",") + "\n").getBytes(UTF_8))
    sorted.foreach { l => md.update(l); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def of(schema: StructType, rows: Seq[Row]): String =
    of(schema.fieldNames.toSeq, rows.map(_.toSeq))
}
