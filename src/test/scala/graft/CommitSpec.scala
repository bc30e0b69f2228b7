package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Commit

/** The one commit protocol every versioned store and sink shares: a batch
  * is committed iff its marker exists, and readers resolve versions from
  * the markers alone.
  */
class CommitSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("an orphan version dir is invisible to latest/before and the replay overwrites it") {
    val dir = Files.createTempDirectory("graft_commit").toString
    def write(id: Long, rows: Seq[Int]): Unit =
      rows.toDF("x").write.mode("overwrite").parquet(s"$dir/v=$id")
    def latestRows(): Set[Int] =
      Commit.readLatest(spark, dir).get.as[Int].collect().toSet

    Commit.once(dir, 0L)(write(0L, Seq(1)))
    Commit.once(dir, 1L)(write(1L, Seq(1, 2)))
    // batch 2 crashed after its write, before its marker
    write(2L, Seq(99))
    assert(Commit.versions(dir) === Seq(0L, 1L))
    assert(Commit.latest(dir) === Some(1L))
    assert(Commit.before(dir, 3L) === Some(1L))
    assert(latestRows() === Set(1, 2))

    assert(Commit.once(dir, 2L)(write(2L, Seq(1, 2, 3))).isDefined)
    assert(Commit.latest(dir) === Some(2L))
    assert(Commit.before(dir, 2L) === Some(1L))
    assert(latestRows() === Set(1, 2, 3))
  }

  test("a committed batch skips its write; a failed write commits nothing") {
    val dir = Files.createTempDirectory("graft_commit").toString
    var calls = 0
    assert(Commit.once(dir, 5L) { calls += 1; "wrote" } === Some("wrote"))
    assert(Commit.once(dir, 5L) { calls += 1; "wrote" } === None)
    assert(calls === 1)

    intercept[IllegalStateException] {
      Commit.once(dir, 6L)(throw new IllegalStateException("crash"))
    }
    assert(Commit.versions(dir) === Seq(5L))
    assert(Commit.once(dir, 6L) { calls += 1 }.isDefined)
    assert(calls === 2)
  }
}
