package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val rows = Seq(
    Row(1L, "a", 1.5, null),
    Row(2L, "b|c", 2.5, Seq(1, 2)),
    Row(3L, null, -0.0, Map("k" -> 1)),
    Row(3L, null, -0.0, Map("k" -> 1)))

  private def digest(rs: Seq[Row]) = Digest.ofTexts(rs.iterator.map(Digest.row))

  test("the digest ignores row order") {
    val d = digest(rows)
    assert(rows.permutations.forall(p => digest(p) == d))
  }

  test("the digest ignores how rows are split across partitions") {
    val whole = digest(rows)
    for (cut <- 0 to rows.size) {
      val (a, b) = rows.splitAt(cut)
      assert(digest(a) + digest(b) == whole)
    }
  }

  test("the digest sees a changed value, a lost row and a lost duplicate") {
    val d = digest(rows)
    assert(digest(rows.updated(0, Row(1L, "a", 1.25, null))) != d)
    assert(digest(rows.tail) != d)
    assert(digest(rows.dropRight(1)).rows == d.rows - 1)
  }

  test("canonical text keeps NULL apart from the text of NULL and escapes the separator") {
    assert(Digest.row(Row(null)) != Digest.row(Row("\\N")))
    assert(Digest.row(Row("a|b")) != Digest.row(Row("a", "b")))
    assert(Digest.render(Map("b" -> 2, "a" -> 1)) == Digest.render(Map("a" -> 1, "b" -> 2)))
    assert(Digest.render(new java.math.BigDecimal("1E+2")) == "100")
  }
}
