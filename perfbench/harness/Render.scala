package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical, type-aware rendering of query results, shared byte for byte
  * with `perfbench/checks.py` so a Spark answer and a DuckDB answer of the
  * same query hash equal. Columns are taken in name order; rows form a
  * multiset (sorted rendered lines), so the digest does not depend on how
  * partitions happened to interleave.
  */
object Render {
  def value(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "<null>"
    case (b: Boolean, _) => if (b) "true" else "false"
    case (x: Float, _) => float(x.toDouble)
    case (x: Double, _) => float(x)
    case (x: java.math.BigDecimal, _) => x.toPlainString
    case (x: scala.math.BigDecimal, _) => x.bigDecimal.toPlainString
    case (x: java.sql.Timestamp, _) =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case (x: java.time.Instant, _) =>
      "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case (x: java.time.LocalDateTime, _) =>
      "t" + (x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        x.getNano / 1000)
    case (x: java.sql.Date, _) => "D" + x.toLocalDate.toEpochDay
    case (x: java.time.LocalDate, _) => "D" + x.toEpochDay
    case (x: Array[Byte], _) => "0x" + x.map(b => f"$b%02x").mkString
    case (r: Row, st: StructType) =>
      st.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
        f.name + ":" + value(r.get(i), f.dataType)
      }.mkString("{", ",", "}")
    case (s: scala.collection.Seq[_], at: ArrayType) =>
      s.map(value(_, at.elementType)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], mt: MapType) =>
      m.toSeq.map { case (k, x) =>
        (value(k, mt.keyType), value(x, mt.valueType))
      }.sorted.map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case (x, _) => x.toString
  }

  /** IEEE-754 bits, so the two engines never disagree on decimal output. */
  def float(d: Double): String =
    if (d.isNaN) "nan" else f"d${java.lang.Double.doubleToLongBits(d)}%016x"

  def row(r: Row, schema: StructType): String =
    schema.fields.zipWithIndex.sortBy(_._1.name)
      .map { case (f, i) => value(r.get(i), f.dataType) }
      .mkString("\u0001")

  def digest(lines: Iterator[String]): String = sha256(lines.toSeq.sorted)

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def rows(rs: Array[Row], schema: StructType): String =
    digest(rs.iterator.map(row(_, schema)))
}
