package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result.
  *
  * Each row is rendered canonically and hashed; the digest is the row
  * count plus the wrapping sum of the 64-bit row hashes, so it does not
  * depend on row order or partitioning. Doubles and floats are rounded to
  * six significant digits (and magnitudes under 1e-9 to zero), so
  * reassociated floating sums agree. Array elements are sorted, because
  * `collect_list` and friends give no element order. */
object Digest {

  def canonicalDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.5e", Double.box(d))

  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal => canonicalDouble(b.doubleValue)
    case b: BigDecimal => canonicalDouble(b.toDouble)
    case r: Row => (0 until r.length).map(i => canonical(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).sorted.mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case other => other.toString
  }

  /** 64-bit hash of a string: the first eight bytes of its SHA-256. */
  def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def combine(rows: Iterator[Row]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, sum), r) => (n + 1, sum + hash64(canonical(r))) }

  def format(count: Long, sum: Long): String = f"$count%d:$sum%016x"

  def ofRows(rows: Seq[Row]): String = { val (n, s) = combine(rows.iterator); format(n, s) }

  /** Digest of a DataFrame, computed where the rows live. */
  def of(df: DataFrame): String = {
    val parts = df.rdd.mapPartitions(it => Iterator(combine(it))).collect()
    format(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
