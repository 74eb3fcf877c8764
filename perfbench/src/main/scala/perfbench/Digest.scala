package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Row count plus an order-insensitive content digest: the sum, modulo
  * 2^64, of a 64-bit hash of every row's canonical text. Equal
  * multisets of rows give equal digests whatever their order or
  * partitioning. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  def hex: String = f"$sum%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  /** Canonical text of one value; `|` separates columns, so it and the
    * escape character are escaped inside strings. */
  def render(v: Any): String = v match {
    case null => "\\N"
    case s: String => s.replace("\\", "\\\\").replace("|", "\\|")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def row(r: Row): String = r.toSeq.map(render).mkString("|")

  def hash(text: String): Long =
    ByteBuffer.wrap(MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8)))
      .getLong

  def ofTexts(rows: Iterator[String]): Digest =
    rows.foldLeft(empty)((d, t) => Digest(d.rows + 1, d.sum + hash(t)))

  /** Digest of a DataFrame, computed in its tasks, without collecting
    * its rows. */
  def of(df: DataFrame): Digest =
    df.rdd.mapPartitions(it => Iterator(ofTexts(it.map(row))))
      .fold(empty)(_ + _)
}
