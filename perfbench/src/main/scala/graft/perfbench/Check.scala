package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Result fingerprints that compare rows decoded from Arrow IPC with rows
  * collected straight from Spark: a row count, an order-free sum of row
  * hashes and an order-sensitive chain. Values hash by their JVM type, which
  * both sides share (Long, Double, String, LocalDateTime, ...); arrays hash
  * as sequences whether they arrive as an Arrow list or a Spark array.
  */
final case class Fingerprint(rows: Long, unordered: Long, ordered: Long) {
  def matches(o: Fingerprint, orderMatters: Boolean): Boolean =
    rows == o.rows && unordered == o.unordered && (!orderMatters || ordered == o.ordered)
}

object Check {
  private def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def text(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)

  private def value(v: Any): Long = v match {
    case null => 0x5555L
    case s: String => text(s)
    case l: Long => mix(l)
    case i: Int => mix(i.toLong ^ 0x1000L)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d) ^ 0x2000L)
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong ^ 0x3000L)
    case b: Boolean => if (b) 0x77L else 0x78L
    case d: java.math.BigDecimal => text(d.stripTrailingZeros.toPlainString)
    case d: BigDecimal => text(d.bigDecimal.stripTrailingZeros.toPlainString)
    case b: Array[Byte] => mix(java.util.Arrays.hashCode(b).toLong)
    case r: org.apache.spark.sql.Row => seq(r.toSeq)
    case s: scala.collection.Seq[_] => seq(s)
    case l: java.util.List[_] => seq(l.asScala.toSeq)
    case other => text(other.toString)
  }

  private def seq(values: scala.collection.Seq[_]): Long =
    values.foldLeft(values.size.toLong)((h, v) => mix(h * 31 + value(v)))

  /** Fingerprint of rows given as value sequences. */
  def of(rows: Iterator[scala.collection.Seq[Any]]): Fingerprint = {
    var n = 0L; var sum = 0L; var chain = 17L
    rows.foreach { r =>
      val h = seq(r)
      n += 1; sum += h; chain = mix(chain ^ h)
    }
    Fingerprint(n, sum, chain)
  }

  def ofRows(rows: Array[org.apache.spark.sql.Row]): Fingerprint = of(rows.iterator.map(_.toSeq))
}
