package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a query result.
  *
  * Each row becomes one canonical string: its values in the order of the
  * sorted column names, floating-point and decimal values rounded to
  * [[Digits]] significant digits first. The fingerprint is the row count
  * and the sum, modulo 2^64, of the first eight bytes of each row
  * string's MD5. A sum does not depend on row order, and the rounding
  * absorbs the last-bit differences a changed partition order can give a
  * floating-point sum. `reference.py` fingerprints the DuckDB oracle's
  * results with this code too, through [[Reference.main]].
  */
object Fingerprint {
  val Digits = 9
  private val mc = new MathContext(Digits, RoundingMode.HALF_EVEN)
  private val epoch = java.time.LocalDate.of(1970, 1, 1)

  def num(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString

  def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else num(new JBigDecimal(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Canonical text of one value; nested values recurse. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: JBigDecimal => num(b)
    case b: BigDecimal => num(b.bigDecimal)
    case n: java.lang.Number => n.toString
    case s: String => s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Unsigned 64-bit hash of one row's canonical values. */
  def rowHash(values: Seq[Any]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(values.map(canon).mkString("\u0001").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Fingerprint of rows whose columns are named `columns`. */
  def of(columns: Seq[String], rows: Iterator[Seq[Any]]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(order.map(r)) }
    f"$n:${sum}%016x"
  }

  /** Collects `df` on the driver and fingerprints it. */
  def of(df: DataFrame): String =
    of(df.columns.toSeq, df.collect().iterator.map(_.toSeq))
}
