package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row

/** Order-independent result fingerprint: row count plus a SHA-256 over
  * the sorted, normalised rows. The normalisation follows
  * tools/diffcheck.py (columns sorted by name, NULL marker, floats
  * quantised to 1e-6, booleans as 0/1); `fingerprint.py` computes the
  * same value for the DuckDB oracle, so the two must stay in step. */
object Fingerprint {
  val Null = "\u0000NULL"

  /** Python's `f"{v:.6f}"`: round half-even on the exact binary value,
    * and keep the sign of a negative value that rounds to zero. */
  def float6(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else {
      val s = new JBigDecimal(v).setScale(6, RoundingMode.HALF_EVEN)
        .toPlainString
      if ((v < 0 || 1.0 / v < 0) && !s.startsWith("-")) "-" + s else s
    }

  def decimal(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Python's `str(datetime)`: microseconds only when non-zero. */
  def timestamp(t: java.time.LocalDateTime): String = {
    val micros = t.getNano / 1000
    tsFormat.format(t) + (if (micros == 0) "" else f".$micros%06d")
  }

  def cell(v: Any): String = v match {
    case null => Null
    case d: Double => float6(d)
    case f: Float => float6(f.toDouble)
    case b: Boolean => if (b) "1" else "0"
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case t: java.sql.Timestamp =>
      timestamp(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.Instant =>
      timestamp(t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.LocalDateTime => timestamp(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => r.toSeq.map(cell).mkString("(", ", ", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case other => other.toString
  }

  case class Print(rows: Long, sha256: String)

  def of(columns: Seq[String], rows: Array[Row]): Print = {
    val order = columns.indices.sortBy(columns(_))
    val encoded = rows.map { r =>
      order.map(i => cell(r.get(i))).mkString("\u001f").getBytes(UTF_8)
    }
    java.util.Arrays.sort(encoded,
      (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    encoded.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(e)
    }
    Print(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
