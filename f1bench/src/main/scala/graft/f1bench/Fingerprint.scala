package graft.f1bench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a result: its row count plus the sum
  * (mod 2^64) of one 64-bit hash per row. Summing makes the fingerprint
  * ignore row order but not row multiplicity. Values are normalized the way
  * `tools/check_oracle.py` compares them: doubles rounded to 9 decimals
  * (absolute), NaN as one token, both zeros as 0, and columns taken in name
  * order so a reordered projection fingerprints the same.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  def render: String = f"$rows%d:$hash%016x"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(':')
    Fingerprint(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => normDouble(d)
    case f: Float => normDouble(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }

  private def normDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  /** 64-bit hash of one row's normalized text (first 8 bytes of its MD5). */
  def rowHash(text: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(text.getBytes(StandardCharsets.UTF_8))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  /** Fingerprint rows whose columns are named `columns` (in row order). */
  def of(columns: Seq[String], rows: Iterator[Row]): Fingerprint = {
    val order = columns.indices.sortBy(columns(_)).toArray
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      h += rowHash(order.map(i => norm(r.get(i))).mkString("\u001f"))
    }
    Fingerprint(n, h)
  }
}
