package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result fingerprint: row count plus the wrapping
  * sum of a per-row hash. Doubles are rounded to 32 mantissa bits
  * first, so a last-bit difference from a reordered floating-point sum
  * (partial aggregates merge in completion order) does not read as a
  * wrong answer.
  */
object Fingerprint {

  final case class Fp(rows: Long, hash: Long) {
    override def toString: String = s"rows=$rows hash=${java.lang.Long.toHexString(hash)}"
  }

  /** Executes `df` once, exactly as planned (sorts and projections
    * included), and fingerprints its rows inside the tasks.
    */
  def of(df: DataFrame): Fp = {
    val sc = df.sparkSession.sparkContext
    val n = sc.longAccumulator("graftbench.fp.rows")
    val h = sc.longAccumulator("graftbench.fp.hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      var rows = 0L
      var sum = 0L
      it.foreach { r => rows += 1; sum += mix(value(r)) }
      n.add(rows)
      h.add(sum)
    }
    Fp(n.value, h.value)
  }

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def roundedBits(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN) 0x7FF8000000000000L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)

  private def ordered(xs: Iterator[Any]): Long =
    xs.foldLeft(0x51ED27L)((acc, v) => mix(acc * 31 + value(v)))

  def value(v: Any): Long = v match {
    case null => 0x6A09E667F3BCC909L
    case d: Double => roundedBits(d)
    case f: Float => roundedBits(f.toDouble)
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case b: Boolean => if (b) 1L else 2L
    case s: String => MurmurHash3.stringHash(s).toLong
    case a: Array[Byte] => MurmurHash3.bytesHash(a).toLong
    case b: java.math.BigDecimal => MurmurHash3.stringHash(b.stripTrailingZeros.toPlainString).toLong
    case b: BigDecimal => value(b.bigDecimal)
    case t: java.sql.Timestamp => t.getTime * 1000000L + t.getNanos % 1000000
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.time.Instant => t.getEpochSecond * 1000000000L + t.getNano
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case r: Row => ordered(r.toSeq.iterator)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case s: scala.collection.Seq[_] => ordered(s.iterator)
    case other => MurmurHash3.stringHash(other.toString).toLong
  }
}
