package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical text of result values and the hashes built from it.
  *
  * Query results are compared with fingerprints `oracle.py` derives from
  * DuckDB, so `query` must render values exactly as that script does:
  * fractional numbers rounded to 9 significant digits (half-even), plain
  * notation, trailing zeros stripped; rows in result order; columns sorted
  * by name. ETL tables are compared with the generator's model inside one
  * JVM, so `table` keeps every digit and ignores row order. */
object Fingerprint {

  private val Nine = new MathContext(9, RoundingMode.HALF_EVEN)
  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def frac(b: JBigDecimal): String = {
    val s = b.round(Nine).stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else frac(new JBigDecimal(d))

  /** Oracle-comparable text of one value. */
  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case n: java.math.BigInteger => n.toString
    case f: Float => real(f.toDouble)
    case d: Double => real(d)
    case b: JBigDecimal => frac(b)
    case b: BigDecimal => frac(b.bigDecimal)
    case t: java.sql.Timestamp => t.toLocalDateTime.format(TsFormat)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.time.Instant => t.toString
    case bs: Array[Byte] => bs.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Ordered result fingerprint: `rows:<n>:<sha256>`. */
  def query(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(columns).mkString("\u0001")
    val body = rows.iterator.map(r =>
      order.map(i => value(r.get(i))).mkString("\u0001"))
    s"rows:${rows.size}:${sha256(Iterator(header) ++ body)}"
  }

  // ---- exact, order-independent (ETL tables) ----------------------------

  def exactValue(v: Any): String = v match {
    case null => "\\N"
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case other => other.toString
  }

  /** Multiset fingerprint: row count and the sum of 64-bit row hashes. */
  def table(rows: Iterator[Seq[Any]]): (Long, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(r.map(exactValue).mkString("\u0001").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    (n, sum)
  }
}
