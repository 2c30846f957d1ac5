package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Output checks. Each returns None when the answer is right and a short
  * reason when it is not.
  */
object Checks {

  /** Canonical text of a value: doubles to 8 significant digits (summation
    * order may move the last bits between runs), arrays and maps
    * order-independent, timestamps as UTC instants.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.8g", java.lang.Double.valueOf(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case x => x.toString
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Row count and an order-independent digest (sum of row hashes). */
  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def digest(rows: Iterator[Row]): Digest = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += hash64(canon(r)) }
    Digest(n, h)
  }

  def sameDigest(got: Digest, want: Digest): Option[String] =
    if (got == want) None
    else Some(s"rows/digest ${got.rows}/${got.hex}, reference ${want.rows}/${want.hex}")

  private def counts(rows: Seq[Row]): Map[String, Int] =
    rows.groupMapReduce(canon)(_ => 1)(_ + _)

  /** LIMIT without ORDER BY: any `limit` qualifying rows are a right
    * answer, so the answer must be a sub-multiset of every qualifying row
    * and hold min(limit, qualifying) rows.
    */
  def limitedSubset(got: Seq[Row], qualifying: Seq[Row], limit: Int): Option[String] = {
    val want = math.min(limit, qualifying.size)
    if (got.size != want) Some(s"${got.size} rows, expected $want")
    else {
      val w = counts(qualifying)
      counts(got).find { case (k, c) => w.getOrElse(k, 0) < c }
        .map { case (k, _) => s"row $k does not qualify" }
    }
  }

  def sameCount(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what $got, expected $want")
}
