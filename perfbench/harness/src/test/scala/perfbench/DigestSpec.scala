package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("tags", ArrayType(StringType))))
  private def row(k: Long, v: Double, tags: String*): Row =
    new GenericRowWithSchema(Array[Any](k, v, tags.toSeq), schema)

  private val rows = Seq(row(1, 0.5, "a"), row(2, Double.NaN), row(3, -0.0, "b", "c"))

  test("the digest ignores row order") {
    assert(Digest.of(rows) == Digest.of(rows.reverse))
    assert(Digest.of(rows) == Digest.of(Seq(rows(1), rows(2), rows(0))))
  }

  test("the digest ignores column order") {
    val swapped = StructType(schema.fields.reverse)
    val r = new GenericRowWithSchema(Array[Any](Seq("a"), 0.5, 1L), swapped)
    assert(Digest.of(Seq(r)) == Digest.of(Seq(row(1, 0.5, "a"))))
  }

  test("the digest sees content, duplicates and count") {
    assert(Digest.of(rows) != Digest.of(rows.updated(0, row(1, 0.25, "a"))))
    assert(Digest.of(rows :+ rows.head) != Digest.of(rows))
    // a duplicated pair cancels under xor alone; the sum keeps it visible
    assert(Digest.of(rows ++ Seq(rows.head, rows.head)) != Digest.of(rows))
    assert(Digest.of(Seq(row(1, 0.0))) != Digest.of(Seq(row(1, -0.0))))
  }
}
