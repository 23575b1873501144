package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Checks.PartStat

/** Every output check passes on a right answer and fails on a wrong one. */
class ChecksSpec extends AnyFunSuite {
  private val k1 = PartKey(2018, 1, 2, 23)
  private val k2 = PartKey(2018, 1, 3, 0)
  private val expected = Map(k1 -> (PartTruth(10, 100), "2018-01-02 23:00"), k2 -> (PartTruth(12, 90), "2018-01-03 00:00"))
  private val actual = Map(k1 -> PartStat(10, 100, Set("2018-01-02 23:00")), k2 -> PartStat(12, 90, Set("2018-01-03 00:00")))

  test("partition counts, sums and Sydney-local keys") {
    assert(Checks.partitions(actual, expected).isEmpty)
    assert(Checks.partitions(actual, expected.updated(k1, (PartTruth(11, 100), "2018-01-02 23:00"))).nonEmpty)
    assert(Checks.partitions(actual, expected.updated(k1, (PartTruth(10, 101), "2018-01-02 23:00"))).nonEmpty)
    assert(Checks.partitions(actual, expected.updated(k1, (PartTruth(10, 100), "2018-01-02 12:00"))).nonEmpty)
    assert(Checks.partitions(actual, expected - k2).nonEmpty)
    assert(Checks.partitions(actual - k2, expected).nonEmpty)
  }

  test("registered partitions") {
    assert(Checks.registered(Set(k1, k2), Set(k1, k2)).isEmpty)
    assert(Checks.registered(Set(k1), Set(k1, k2)).nonEmpty)
    assert(Checks.registered(Set(k1, k2), Set(k1)).nonEmpty)
  }

  test("query answers") {
    import Common.cellOrd
    val rows = Seq((112.0, -43.0, 12), (112.5, -43.0, 15))
    assert(Checks.rows("q", rows.reverse, rows).isEmpty)
    assert(Checks.rows("q", rows, rows.updated(1, (112.5, -43.0, 16))).nonEmpty)
    assert(Checks.rows("q", rows, rows.take(1)).nonEmpty)
  }

  test("redrive of truncated files") {
    val t = Seq(0 -> "a.txt", 1 -> "b.txt", 2 -> "c.txt")
    // after 6 drains: a failed 6 times (quarantined at 5), b 5 times, c 4 times
    val in = Set("retry5__c.txt")
    val q = Map("a.txt" -> 5L, "b.txt" -> 5L)
    assert(Checks.redrive(t, 6, 5, in, q).isEmpty)
    assert(Checks.redrive(t, 5, 5, in, q).nonEmpty)
    assert(Checks.redrive(t, 6, 5, Set("retry4__c.txt"), q).nonEmpty)
    assert(Checks.redrive(t, 6, 5, in, q.updated("a.txt", 4L)).nonEmpty)
    assert(Checks.redrive(t, 6, 5, in, q - "b.txt").nonEmpty)
  }

  test("ledger cross-check") {
    val rec = Seq("CREATE DATABASE" -> "SUCCEEDED", "ALTER TABLE" -> "SUCCEEDED")
    assert(Checks.ledger(2, rec).isEmpty)
    assert(Checks.ledger(3, rec).nonEmpty)
    assert(Checks.ledger(2, rec.updated(1, "ALTER TABLE" -> "FAILED")).nonEmpty)
  }
}
