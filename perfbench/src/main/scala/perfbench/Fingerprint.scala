package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a result: its row count plus the sum
  * (mod 2^64) of the first 8 bytes of SHA-256 over each row's canonical
  * text. Columns are taken in name order; numbers are rounded to 10
  * significant digits, so the last-bit drift of floating sums under a
  * different shuffle order does not count as a change. `oracle_check.py`
  * builds the same text from DuckDB results, value for value. */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows\t$hash"
}

object Fingerprint {
  private val mc = new MathContext(10, RoundingMode.HALF_EVEN)

  private def num(b: JBigDecimal): String = {
    val r = b.round(mc)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def micros(epochSecond: Long, nano: Int): Long =
    epochSecond * 1000000L + nano / 1000

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else num(new JBigDecimal(d))
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case s: String => s
    case t: java.sql.Timestamp =>
      micros(Math.floorDiv(t.getTime, 1000L), t.getNanos).toString
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano).toString
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(df: DataFrame): Fingerprint = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u001f")
      val h = md.digest(text.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    Fingerprint(n, f"$sum%016x")
  }

  /** name → fingerprint, from the committed tab-separated file. */
  def load(path: java.nio.file.Path): Map[String, Fingerprint] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> Fingerprint(a(1).toLong, a(2)))
      .toMap
}
