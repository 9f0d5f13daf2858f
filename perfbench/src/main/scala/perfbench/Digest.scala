package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-sensitive output digest: the row count plus a SHA-256 over the rows
  * in result order, with columns sorted by name and floating-point values
  * rounded to 9 decimals (the comparison `tools/local_check.py` makes
  * against the DuckDB oracle). */
object Digest {
  final case class Value(rows: Long, sha: String) {
    override def toString: String = s"$rows:$sha"
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else {
      val r = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.stripTrailingZeros
      if (r.signum == 0) "0" else r.toPlainString
    }

  def of(df: DataFrame): Value = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    df.collect().foreach { r =>
      md.update(order.map(i => render(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
      n += 1
    }
    Value(n, md.digest().take(12).map("%02x".format(_)).mkString)
  }
}
