package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, computed identically by
  * `oracle.py` over DuckDB's answer, so a Spark result can be checked
  * against the oracle without shipping rows between processes.
  *
  * The canonical form mirrors the compare in `tools/check.py`: columns
  * sorted by name, rows sorted, and numbers compared at 1e-6 — every
  * oracle rounds its doubles to at most six places, so rounding to six
  * places (then dropping trailing zeros, so 3 and 3.0 agree) is exact on
  * both engines. */
object Digest {
  final case class Expected(rows: Long, sha256: String)

  def cell(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case b: java.math.BigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  private def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else decimal(new java.math.BigDecimal(d))

  private def decimal(b: java.math.BigDecimal): String = {
    val s = b.setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    val t = if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    if (t == "-0") "0" else t
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** sha256 over "\u001e"-joined lines: the sorted column names, then
    * each row's cells (in sorted-column order) joined by "\u001f", the
    * rows sorted by their UTF-8 bytes. */
  def of(columns: Seq[String], rows: Array[Row]): Expected = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val header = order.map(_._1).mkString("\u001f")
    val lines = rows.map(r => order.map { case (_, i) => cell(r.get(i)) }.mkString("\u001f").getBytes(UTF_8))
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    lines.foreach { l => md.update(0x1e.toByte); md.update(l) }
    Expected(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  /** None when the result matches, else why it does not. */
  def check(expected: Expected, columns: Seq[String], rows: Array[Row]): Option[String] = {
    val got = of(columns, rows)
    if (got.rows != expected.rows) Some(s"${got.rows} rows, oracle has ${expected.rows}")
    else if (got.sha256 != expected.sha256) Some(s"digest ${got.sha256.take(12)} differs from oracle ${expected.sha256.take(12)}")
    else None
  }
}
