package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def xs(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("a percentile needs ten samples beyond it") {
    assert(Stats.percentile(xs(19), 0.5).isEmpty)
    assert(Stats.percentile(xs(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs(99), 0.9).isEmpty)
    assert(Stats.percentile(xs(100), 0.9).contains(90.0))
    assert(Stats.percentile(xs(1000), 0.99).contains(990.0))
  }

  test("tail reports the highest supported percentile") {
    assert(Stats.tail(xs(100)).contains(0.9 -> 90.0))
    assert(Stats.tail(xs(40)).contains(0.75 -> 30.0))
    assert(Stats.tail(xs(19)).isEmpty)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("freshness maps each file to the first commit reaching its high-water mark") {
    val scheduled = IndexedSeq(0L, 100L, 200L)
    val hwm = IndexedSeq(10L, 20L, 30L)
    // the first batch holds file 0 plus an event of file 1 delivered late
    // (ts 15 < file 1's mark 20): file 1 is not visible yet
    val commits = Seq(Stats.Commit(150, 15), Stats.Commit(260, 20), Stats.Commit(400, 30))
    assert(Stats.freshness(scheduled, hwm, commits) == IndexedSeq(Some(150L), Some(160L), Some(200L)))
  }

  test("a late event older than every mark never advances visibility") {
    val commits = Seq(Stats.Commit(50, 5), Stats.Commit(300, 10))
    assert(Stats.freshness(IndexedSeq(0L, 100L), IndexedSeq(10L, 20L), commits) ==
      IndexedSeq(Some(300L), None))
  }

  test("freshness uses the running high-water mark, not each batch's own") {
    // commits arrive out of order and a later batch carries only old events
    val commits = Seq(Stats.Commit(300, 5), Stats.Commit(200, 30))
    assert(Stats.freshness(IndexedSeq(0L, 0L), IndexedSeq(10L, 30L), commits) ==
      IndexedSeq(Some(200L), Some(200L)))
  }

  test("file marks must increase strictly") {
    intercept[IllegalArgumentException](
      Stats.freshness(IndexedSeq(0L, 0L), IndexedSeq(10L, 10L), Nil))
  }

  test("backlog counts published files not yet visible") {
    val published = IndexedSeq(0L, 10L, 20L)
    val visible = IndexedSeq(Some(15L), Some(30L), None)
    assert(Stats.backlog(published, visible, Seq(5L, 15L, 25L, 35L)) == Seq(1, 1, 2, 1))
  }

  test("a backlog that climbs across the run grows; a steady one does not") {
    assert(Stats.backlogGrows(Seq(1, 2, 1, 5, 8, 12)))
    assert(!Stats.backlogGrows(Seq(3, 2, 3, 2, 3, 4)))
  }
}
