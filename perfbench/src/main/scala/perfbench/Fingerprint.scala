package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query result: `rows:rowsum:columns`.
  *
  * Each row is rendered canonically (columns in name order, floating and
  * decimal values rounded to 9 significant digits, timestamps as epoch
  * microseconds, dates as epoch days), hashed with MD5, and the first 8
  * bytes of the hashes are summed modulo 2^64, so row order does not
  * matter but row multiplicity does. `fingerprint.py` implements the same
  * rendering for DuckDB results; the two must change together.
  */
object Fingerprint {
  private val Sep = "\u001f"
  private val Digits = new MathContext(9, RoundingMode.HALF_EVEN)

  def of(df: DataFrame): String = {
    val names = df.columns.toIndexedSeq
    val order = names.indices.sortBy(i => (names(i), i))
    var rows = 0L
    var sum = 0L
    df.collect().foreach { r =>
      sum += hash64(order.map(i => canon(r.get(i))).mkString(Sep))
      rows += 1
    }
    f"$rows:$sum%016x:${hash64(order.map(names).mkString(Sep))}%016x"
  }

  private def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  private def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: JBigDecimal => decimal(x)
    case x: scala.math.BigDecimal => decimal(x.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: Instant => micros(t)
    case t: LocalDateTime => micros(t.toInstant(ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else decimal(new JBigDecimal(d))

  private def decimal(b: JBigDecimal): String =
    if (b.signum == 0) "0"
    else {
      val r = b.round(Digits).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  private def micros(t: Instant): String =
    (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
}
