package perfbench

import java.math.MathContext

import org.apache.spark.sql.Row

/** Order-free digest of a result set that does not pin bytes a later
  * correctness fix may legitimately change in the last bits: rows are
  * sorted by their canonical text, and floating-point values are
  * rounded to 9 significant digits (so summation order does not show). */
object Digest {
  private val Digits = new MathContext(9)

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0" // also -0.0
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString

  /** Canonical text of one value; nested rows, arrays and maps recurse,
    * map entries are sorted. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case s: String => Json.str(s)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def ofRows(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(canon).sorted.foreach { line =>
      md.update(line.getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map(x => f"$x%02x").mkString
  }
}
