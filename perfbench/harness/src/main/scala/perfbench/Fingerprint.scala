package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Content fingerprint of a result, canonicalized the way the repository's
  * DuckDB gate (`scripts/check_oracle.py`) compares results: columns in
  * name order, rows sorted, doubles rounded to 9 decimal places, and NaN,
  * null and -0.0 each given one spelling. Column types are part of the
  * fingerprint, so a result that changes type does not pass. */
object Fingerprint {

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else {
      val r = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def canonValue(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case s: String => quote(s)
    case b: JBigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      "ts" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "ts" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => "lts" + t.toString
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => "0x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row =>
      (if (r.schema == null) r.toSeq.map(canonValue)
       else r.schema.fieldNames.toSeq.zip(r.toSeq).map { case (n, x) =>
         n + "=" + canonValue(x) }).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonValue(k) + ":" + canonValue(x) }
        .sorted.mkString("map{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonValue).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Canonical lines: one header naming the columns and their types, then
    * one line per row, rows sorted. */
  def canonLines(schema: StructType, rows: Seq[Row]): Seq[String] = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = cols.map { case (f, _) => f.name + ":" + f.dataType.simpleString }
      .mkString("|")
    header +: rows.map(r => cols.map { case (_, i) => canonValue(r.get(i)) }
      .mkString("\u0001")).sorted
  }

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def of(schema: StructType, rows: Seq[Row]): String = sha256(canonLines(schema, rows))

  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect().toSeq
    (rows.size.toLong, of(df.schema, rows))
  }
}
