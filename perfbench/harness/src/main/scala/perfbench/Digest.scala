package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive content digest of a query result.
  *
  * Each row is rendered canonically (columns sorted by name, doubles by
  * their IEEE bits, nested values recursively) and hashed with SHA-256;
  * the digest is the row count plus the sum and the xor of the 64-bit
  * row-hash prefixes. Sum and xor are commutative, so row order does
  * not matter; the sum keeps duplicate rows from cancelling out.
  */
object Digest {

  def of(rows: Seq[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = rowHash(r)
      sum += h
      xor ^= h
    }
    f"${rows.size}:$sum%016x:$xor%016x"
  }

  def rowHash(r: Row): Long = {
    val bytes = MessageDigest.getInstance("SHA-256")
      .digest(canonical(r).getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
  }

  def canonical(v: Any): String = v match {
    case null => "null"
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (n, i) => s"$n=${canonical(r.get(i))}" }
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case d: Double =>
      if (d.isNaN) "NaN" else f"d${java.lang.Double.doubleToLongBits(d)}%x"
    case f: Float =>
      if (f.isNaN) "NaN" else f"f${java.lang.Float.floatToIntBits(f)}%x"
    case b: java.math.BigDecimal => "m" + b.toPlainString
    case b: BigDecimal => "m" + b.bigDecimal.toPlainString
    case s: String => "s" + s.length + ":" + s
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("b", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.getClass.getSimpleName + ":" + other.toString
  }
}
