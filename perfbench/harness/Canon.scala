package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a result set, value-for-value identical
  * to `canon.py`'s digest of the DuckDB answer: columns sorted by name,
  * each value in an exact type-tagged text form, rows sorted. */
object Canon {
  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString("cols:", ",", "\n")
      .getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def real(d: Double): String =
    if (d.isNaN) "fnan"
    else if (d.isInfinite) (if (d > 0) "finf" else "f-inf")
    else if (d == 0.0) "f0"
    else "f" + new java.math.BigDecimal(d).toPlainString

  private def micros(s: Long, nanos: Long): Long = s * 1000000L + nanos / 1000L

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n @ (_: Byte | _: Short | _: Int | _: Long) => "i" + n.toString
    case f: Float => real(f.toDouble)
    case d: Double => real(d)
    case d: java.math.BigDecimal =>
      "d" + d.stripTrailingZeros.toPlainString
    case s: String => s"s${s.length}:$s"
    case t: java.sql.Timestamp =>
      "t" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => "t" + micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t" + micros(i.getEpochSecond, i.getNano)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => value(k) + "=" + value(x) }.toSeq.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "?" + other.toString
  }
}
