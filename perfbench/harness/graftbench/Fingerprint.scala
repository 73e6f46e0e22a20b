package graftbench

import java.math.{MathContext, RoundingMode}
import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a collected result: every row is
  * rendered to a canonical string, hashed with MD5, and the 128-bit
  * row hashes are summed (mod 2^128), so the fingerprint depends on
  * the multiset of rows and not on their order. Doubles are rounded
  * to 12 significant digits first: Spark may sum partial aggregates
  * in a different order from run to run, which moves the last bits
  * of a double but not its first twelve digits. */
object Fingerprint {
  private val Digits = new MathContext(12, RoundingMode.HALF_EVEN)

  def of(rows: Array[Row]): String = {
    var hi = 0L
    var lo = 0L
    var carry = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(canonical(r).getBytes("UTF-8"))
      val h = java.nio.ByteBuffer.wrap(d)
      val a = h.getLong
      val b = h.getLong
      val nlo = lo + b
      carry = if (java.lang.Long.compareUnsigned(nlo, lo) < 0) 1L else 0L
      lo = nlo
      hi = hi + a + carry
    }
    f"$hi%016x$lo%016x"
  }

  def canonical(v: Any): String = v match {
    case null => "~"
    case r: Row => (0 until r.length).map(i => canonical(r.get(i))).mkString("{", "|", "}")
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => "D" + b.toPlainString
    case b: scala.math.BigDecimal => "D" + b.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant =>
      "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case s: String => s"S${s.length}:$s"
    case bytes: Array[Byte] => "B" + bytes.map(b => f"$b%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }
        .sorted.mkString("M(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else if (d == 0.0) "F0"
    else "F" + new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString
}
