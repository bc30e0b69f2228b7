package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedSnapshot, Commit, IncrementalMart, TopkMart}

/** The maintained top-k view must equal a recompute from the mart after
  * EVERY batch, while taking the O(k + batch) candidate path on monotone
  * batches and paying the mart rescan ONLY on retractions — the returned
  * rescan flag pins which path ran, and the eviction test proves the
  * refill promotes a group no bounded candidate set contained.
  */
class TopkMartSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val keyCols = Seq("id")
  private val payloadCols = Seq("custkey", "price", "status")
  private val K = 5

  /** A parsed-changelog-shaped batch: (id, custkey=group, price, op, ts). */
  private def batchOf(rows: Seq[(Long, Long, Double, String, Long)]): DataFrame =
    rows.map { case (id, g, p, op, ts) =>
      (id, g, p, "OK", op, ts, if (op == "d") -1 else 1)
    }.toDF("id", "custkey", "price", "status", "op", "ts_ms", "sign")

  private case class Dirs(snap: String, mart: String, topk: String)
  private def dirs(): Dirs = {
    val tmp = Files.createTempDirectory("graft_topk").toString
    Dirs(s"$tmp/snap", s"$tmp/mart", s"$tmp/topk")
  }

  private def merge(d: Dirs, b: DataFrame, id: Long): Boolean =
    TopkMart.merge(d.snap, d.mart, d.topk, keyCols, payloadCols,
      "custkey", "price", K)(b, id)

  /** Driver-side recompute: top-K of the mart by (total desc, g asc). */
  private def expectedTopk(d: Dirs): Seq[(Long, Long, BigDecimal)] =
    IncrementalMart.readMart(spark, d.mart).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
      .sortBy { case (g, _, total) => (-total, g) }.take(K).toSeq

  private def gotTopk(d: Dirs): Seq[(Long, Long, BigDecimal)] =
    TopkMart.readTopk(spark, d.topk).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
      .sortBy { case (g, _, total) => (-total, g) }.toSeq

  test("a wrong-k caller fails the precondition with NO state change") {
    val d = dirs()
    merge(d, batchOf(Seq((1L, 1L, 10.0, "c", 1L))), 0L)
    val snapV = BucketedSnapshot.latestVersion(d.snap)
    val martV = Commit.latest(d.mart)
    val topkV = Commit.latest(d.topk)
    // r13 advice: _K is validated BEFORE IncrementalMart.merge — a k
    // mismatch must be a pure precondition failure, not a mart silently
    // advanced one batch past the top-k view
    intercept[IllegalArgumentException] {
      TopkMart.merge(d.snap, d.mart, d.topk, keyCols, payloadCols,
        "custkey", "price", K + 1)(batchOf(Seq((2L, 2L, 5.0, "c", 2L))), 1L)
    }
    assert(BucketedSnapshot.latestVersion(d.snap) === snapV)
    assert(Commit.latest(d.mart) === martV)
    assert(Commit.latest(d.topk) === topkV)
    // replaying the same batch with the stored k proceeds normally
    merge(d, batchOf(Seq((2L, 2L, 5.0, "c", 2L))), 1L)
    assert(gotTopk(d) === expectedTopk(d))
  }

  test("monotone batches take the candidate path; top-k equals the recompute") {
    val d = dirs()
    // 12 groups, group g holds keys {g, g+100} worth g dollars each
    val b0 = batchOf((1L to 12L).flatMap(g =>
      Seq((g, g, g.toDouble, "c", 1000L), (g + 100, g, g.toDouble, "c", 1000L))))
    assert(merge(d, b0, 0L) === true) // first batch: scan once, by contract
    assert(gotTopk(d) === expectedTopk(d))

    // pure inserts: group 2 surges into the top-k, group 13 is born
    val b1 = batchOf(Seq((201L, 2L, 500.0, "c", 2000L),
      (202L, 13L, 7.5, "c", 2000L)))
    assert(merge(d, b1, 1L) === false, "insert-only batch must not rescan")
    assert(gotTopk(d) === expectedTopk(d))
    assert(gotTopk(d).head._1 === 2L) // the surge is visible

    // an upward UPDATE of an existing key (same group) is monotone too
    val b2 = batchOf(Seq((12L, 12L, 400.0, "u", 3000L)))
    assert(merge(d, b2, 2L) === false)
    assert(gotTopk(d) === expectedTopk(d))
  }

  test("a retraction that evicts a member rescans and refills from outside") {
    val d = dirs()
    // groups 1..10 worth 100+g; group 50 worth 5 (well outside top-5)
    val b0 = batchOf((1L to 10L).map(g => (g, g, 100.0 + g, "c", 1000L))
      :+ (50L, 50L, 5.0, "c", 1000L))
    merge(d, b0, 0L)
    val before = gotTopk(d).map(_._1)
    assert(!before.contains(50L))

    // tombstone the top member's only key — its group vanishes from the
    // mart entirely; the refill (group 5) was neither stored nor touched
    val b1 = batchOf(Seq((10L, 10L, 0.0, "d", 2000L)))
    assert(merge(d, b1, 1L) === true, "retraction must force the rescan")
    val after = gotTopk(d)
    assert(after === expectedTopk(d))
    assert(!after.map(_._1).contains(10L))
    assert(after.map(_._1).contains(5L), "refill must promote an untouched group")

    // a DOWNWARD update of a member (key moves wholesale to lower price)
    val b2 = batchOf(Seq((9L, 9L, 1.0, "u", 3000L)))
    assert(merge(d, b2, 2L) === true)
    assert(gotTopk(d) === expectedTopk(d))
  }

  test("group-moving updates touch donor and recipient; replay is a no-op") {
    val d = dirs()
    val b0 = batchOf((1L to 8L).map(g => (g, g, 10.0 * g, "c", 1000L)))
    merge(d, b0, 0L)
    // key 8 MOVES from group 8 to group 1: group 8 loses everything
    // (retraction at the donor), group 1 gains — rescan required
    val b1 = batchOf(Seq((8L, 1L, 80.0, "u", 2000L)))
    assert(merge(d, b1, 1L) === true)
    val t = gotTopk(d)
    assert(t === expectedTopk(d))
    assert(!t.map(_._1).contains(8L))
    assert(t.find(_._1 == 1L).get._3 === BigDecimal(90.0))

    // replaying a committed batch is a no-op and reports no rescan
    val snap = gotTopk(d)
    assert(merge(d, b1, 1L) === false)
    assert(gotTopk(d) === snap)
  }
}
