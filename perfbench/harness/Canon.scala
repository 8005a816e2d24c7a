package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result fingerprint, the JVM twin of perfbench/canon.py
  * (which follows `canon()` in tools/oracle_check.py). Floats print as
  * %.4f of their exact binary value (round half even, the way Python
  * formats them), -0.0 keeps its sign, columns are taken in name order,
  * rows are sorted before hashing. */
object Canon {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def fmtDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else {
      val s = new JBigDecimal(d).setScale(4, RoundingMode.HALF_EVEN).toPlainString
      val negative = d < 0 || (d == 0.0 && 1.0 / d < 0)
      if (negative && !s.startsWith("-")) "-" + s else s
    }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case d: JBigDecimal => fmtDouble(d.doubleValue)
    case d: scala.math.BigDecimal => fmtDouble(d.toDouble)
    case t: java.sql.Timestamp =>
      LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC).format(tsFmt)
    case t: java.time.Instant => LocalDateTime.ofInstant(t, ZoneOffset.UTC).format(tsFmt)
    case t: LocalDateTime => t.format(tsFmt)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString
    case r: Row =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => s"$n:${cell(r.get(i))}" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Row count and sha256 over sorted canonical rows. */
  def fingerprint(schema: StructType, rows: Seq[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    tuples(rows.map(r => order.toSeq.map(i => r.get(i))))
  }

  def tuples(rows: Seq[Seq[Any]]): (Long, String) = {
    val lines = rows.map(_.map(cell).mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.size.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}
