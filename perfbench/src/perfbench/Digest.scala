package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query's output: each row rendered to a
  * canonical string, the strings sorted, then MD5'd with the column
  * names. Floating-point values are rounded to 9 significant digits, so
  * a different summation order (task arrival order varies run to run)
  * cannot change the digest. */
object Digest {
  private val Sig = new MathContext(9)

  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(render).sorted
    val md5 = MessageDigest.getInstance("MD5")
    md5.update(df.columns.mkString("\u0001").getBytes(UTF_8))
    rows.foreach { r => md5.update('\n'.toByte); md5.update(r.getBytes(UTF_8)) }
    (rows.length.toLong, md5.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  private def render(r: Row): String = r.toSeq.map(value).mkString("\u0001")

  private def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toString
}
