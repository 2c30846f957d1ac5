package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val rows = (1 to 50).map(i => Row(i.toLong, s"line $i", Map("app" -> "api"), Seq(i, i + 1)))

  test("a digest is order-independent and sees a dropped or changed row") {
    val d = Checks.digest(rows.iterator)
    assert(Checks.sameDigest(Checks.digest(rows.reverse.iterator), d).isEmpty)
    assert(Checks.sameDigest(Checks.digest(rows.tail.iterator), d).isDefined)
    val changed = rows.updated(3, Row(4L, "line 4!", Map("app" -> "api"), Seq(4, 5)))
    assert(Checks.sameDigest(Checks.digest(changed.iterator), d).isDefined)
  }

  test("double noise below eight significant digits does not move a digest") {
    val a = Checks.digest(Iterator(Row(0.1 + 0.2), Row(1e-3)))
    val b = Checks.digest(Iterator(Row(0.3), Row(1e-3)))
    assert(a == b)
    assert(Checks.digest(Iterator(Row(0.3001))) != Checks.digest(Iterator(Row(0.3))))
  }

  test("a digest rejects an added row and a duplicated one") {
    val d = Checks.digest(rows.iterator)
    assert(Checks.sameDigest(Checks.digest((rows :+ Row(51L, "x", Map.empty, Nil)).iterator), d).isDefined)
    assert(Checks.sameDigest(Checks.digest((rows :+ rows.head).iterator), d).isDefined)
  }

  test("limitedSubset accepts any qualifying rows and rejects others") {
    assert(Checks.limitedSubset(rows.take(10), rows, 10).isEmpty)
    assert(Checks.limitedSubset(rows.takeRight(10), rows, 10).isEmpty)
    assert(Checks.limitedSubset(rows.take(9), rows, 10).isDefined)
    assert(Checks.limitedSubset(rows.take(9) :+ Row(99L, "no", Map.empty, Nil), rows, 10).isDefined)
    assert(Checks.limitedSubset(rows.take(5) ++ rows.take(5), rows, 10).isDefined)
    assert(Checks.limitedSubset(rows.take(3), rows.take(3), 100).isEmpty)
  }

  test("a count off by one is rejected") {
    assert(Checks.sameCount("rows", 1000, 1000).isEmpty)
    assert(Checks.sameCount("rows", 999, 1000).isDefined)
    assert(Checks.sameCount("rows", 1001, 1000).isDefined)
  }

  test("push bodies count their entries, not lookalikes inside lines") {
    val body = """{"streams":[{"stream":{"a":"b"},"values":[["17","x [\"12\", y"],["18","z"]]}]}"""
    assert(LokiFixture.pushedEntries(body) == 2)
  }
}
