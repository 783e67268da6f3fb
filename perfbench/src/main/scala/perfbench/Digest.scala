package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}

/** The query_mix execution sink: like the `noop` sink it computes every
  * output column (unlike `count()`, which prunes them), and it folds each
  * row into an order-insensitive digest, so the timed execution is also the
  * one whose output is checked. A row renders with its columns sorted by
  * name, nulls as `<N>`, floating-point values rounded to 6 decimal places
  * (the normalisation of the repository's DuckDB oracle comparison), and the
  * digest is the row count plus the 64-bit sum of the rows' SHA-256
  * prefixes. `oracle.py` stores the digest of each card's output after
  * checking that output against DuckDB.
  */
object Digest {

  final case class Value(rows: Long, sum: Long) {
    def +(o: Value): Value = Value(rows + o.rows, sum + o.sum)
    def hex: String = f"$rows%d:$sum%016x"
  }

  def of(df: DataFrame): Value = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    df.rdd.mapPartitions { rows =>
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        val b = sha.digest(order.map(i => render(r.get(i))).mkString("\u001f")
          .getBytes(StandardCharsets.UTF_8))
        sum += java.nio.ByteBuffer.wrap(b).getLong
        n += 1
      }
      Iterator(Value(n, sum))
    }.collect().foldLeft(Value(0L, 0L))(_ + _)
  }

  def render(v: Any): String = v match {
    case null => "<N>"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString
}
