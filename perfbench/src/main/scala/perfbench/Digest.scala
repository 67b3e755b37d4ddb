package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-free digest of a result table, computed identically by
  * `oracle.py` over DuckDB values, so an engine output can be checked
  * against an expectation the engine never produced.
  *
  * The comparison rules are `tools/check_oracle.py`'s: columns are
  * compared by sorted name, rows as a multiset, values exactly, and an
  * integer equals a double of the same value. Each value is rendered to a
  * canonical token (doubles by their IEEE bits), a row is its tokens in
  * sorted-column order, and the table digest is the column list, the row
  * count and the 64-bit sum of the rows' md5 prefixes. */
object Digest {

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("|", "\\|").replace(",", "\\,")

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 9.0e18) "I" + d.toLong
    else "F" + java.lang.Double.doubleToLongBits(d)

  def token(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case x: Byte => "I" + x
    case x: Short => "I" + x
    case x: Int => "I" + x
    case x: Long => "I" + x
    case x: BigInt => "I" + x
    case x: java.math.BigInteger => "I" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal =>
      val s = x.stripTrailingZeros
      if (s.scale <= 0) "I" + s.toBigIntegerExact else dbl(x.doubleValue)
    case x: scala.math.BigDecimal => token(x.bigDecimal)
    case x: String => "S" + esc(x)
    case x: Array[Byte] => "X" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: java.sql.Date => "D" + x.toLocalDate.toString
    case x: java.time.LocalDate => "D" + x.toString
    case x: java.sql.Timestamp => token(x.toInstant)
    case x: java.time.Instant =>
      "T" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      token(x.toInstant(java.time.ZoneOffset.UTC))
    case x: Row => (0 until x.length).map(i => token(x.get(i)))
      .mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => token(k) + ":" + token(w) }.sorted
        .mkString("<", ",", ">")
    case x: scala.collection.Seq[_] => x.map(token).mkString("[", ",", "]")
    case x: Array[_] => x.map(token).mkString("[", ",", "]")
    case x => "S" + esc(x.toString)
  }

  /** `rows:<n>;cols:<a,b>;sum:<u64>` over the rows' values. */
  def of(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val line = order.map(i => token(r.get(i))).mkString("|")
      val h = md.digest(line.getBytes(UTF_8))
      var x = 0L
      var i = 0
      while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
      sum += x
      n += 1
    }
    s"rows:$n;cols:${columns.sorted.mkString(",")};" +
      s"sum:${java.lang.Long.toUnsignedString(sum)}"
  }
}
