package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-sensitive digest of a collected result.
  *
  * Every registered query ends in an `orderBy` on a unique key, so the
  * row order is part of the answer and is hashed. Values are rendered
  * canonically: doubles and floats to 12 significant digits (so a
  * last-ulp difference from floating-point summation order does not
  * read as a wrong result), map entries sorted by key, nested rows and
  * arrays recursively. The column names and types are hashed too.
  */
object Digest {
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => other.toString
  }

  def renderDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString

  /** Hex SHA-256 over the schema line and one line per row, in order. */
  def of(schema: String, rows: Iterator[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.getBytes("UTF-8"))
    rows.foreach { r => md.update('\n'.toByte); md.update(render(r).getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
