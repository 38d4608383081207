package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-independent digest of a result: row count plus the wrapping sum of
  * a 64-bit hash of each row's canonical text. Doubles and floats are
  * rounded to 10 significant digits first, so a result whose last bits
  * depend on the order partial aggregates were merged in still matches. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  val zero: Digest = Digest(0L, 0L)

  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":")
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}

object RowHash {

  private val mc = new java.math.MathContext(10)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  /** Canonical text of one value. Nested values keep their structure;
    * NULL is distinct from every string. */
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = md.digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(b).getLong
  }

  /** Execute `df`'s own physical plan (as a sink would, like graft.Bench's
    * `toRdd.count()` drain) and digest every row it produces. */
  def digest(df: DataFrame): Digest = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { ir =>
        h += rowHash(toRow(ir).asInstanceOf[Row])
        n += 1
      }
      Iterator.single(Digest(n, h))
    }.fold(Digest.zero)(_ + _)
  }
}
