package graft

import org.scalatest.funsuite.AnyFunSuite

/** The committed `Summary_2011.csv` test resource is exactly what its
  * generator ([[Summary2011Fixture]]) writes from the recorded seed, and
  * it has the shape and invariants of FIXTURES.md §A1. */
class Summary2011FixtureSpec extends AnyFunSuite {

  private lazy val committed: Seq[String] = {
    val src = scala.io.Source.fromFile(Summary2011Fixture.path, "UTF-8")
    try src.getLines().toIndexedSeq finally src.close()
  }

  test("committed Summary_2011 fixture equals its generator's output") {
    assert(committed == Summary2011Fixture.lines())
    assert(Summary2011Fixture.lines(Summary2011Fixture.Seed + 1) != committed)
  }

  test("Summary_2011 fixture: 2,945 rows with the §A1 invariants") {
    assert(committed.head == "CustomerID,T1,recency1,FREQUENCY,profit")
    val rows = committed.tail.map(_.split(","))
    assert(rows.size == 2945 && rows.forall(_.length == 5))
    val ids = rows.map(_(0))
    assert(ids.distinct.size == ids.size, "CustomerID must be unique")
    assert(ids.count(_ == "null") == 1 &&
      committed(Summary2011Fixture.NullIdLine - 1).startsWith("null,"))
    rows.foreach { a =>
      val (t1, recency, freq, profit) =
        (a(1).toInt, a(2).toInt, a(3).toInt, a(4).toDouble)
      val line = a.mkString(",")
      assert(t1 >= 2 && t1 <= 51, line)
      assert(recency >= 1 && recency <= t1, line)
      assert(freq >= 1 && freq <= 50, line)
      assert(profit > 0 && a(4).contains('.'), line)
    }
  }
}
