package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cdc.{CdcOps, CdcSim, Envelope}
import graft.streaming.{Commit, IncrementalJoin}

/** The maintained join must equal a full recompute of
  * snapshot(orders) ⋈ snapshot(customer) after EVERY batch — including
  * the batch that delivers updates and tombstones on both sides — and
  * re-running the stream with the same checkpoint must be a no-op.
  */
class IncrementalJoinSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val aPayload = Seq("custkey", "price", "status")
  private val bPayload = Seq("name", "nationkey", "bal")

  private def dropTo(dir: String, name: String, df: DataFrame): Unit = {
    val stage = dir + "_stage_" + name
    df.select("value").coalesce(1).write.mode("overwrite").text(stage)
    val src = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".txt")).head
    Files.createDirectories(Paths.get(dir))
    Files.copy(src.toPath, Paths.get(dir, s"$name.txt"))
  }

  test("maintained join equals the full recompute after every batch; replay is a no-op") {
    val tmp = Files.createTempDirectory("graft_ij").toString
    val in = s"$tmp/in"
    val och = CdcSim.ordersChangelog(spark, sf)
    val cch = CdcSim.customerChangelog(spark, sf)
    val isC = expr("get_json_object(value, '$.op')") === "c"

    def run(): Unit = {
      val q = IncrementalJoin.start(spark, in,
        CdcSim.payloadSchema, CdcSim.customerSchema,
        aPayload, bPayload, "custkey",
        s"$tmp/j", s"$tmp/a", s"$tmp/b", s"$tmp/chk")
      q.awaitTermination()
    }

    def expected(of: Column, cf: Column): DataFrame = {
      val sa = CdcOps.snapshotLatest(
        Envelope.parse(och.filter(of).select("value"), CdcSim.payloadSchema),
        Seq("id"), "ts_ms", aPayload)
      val sb0 = CdcOps.snapshotLatest(
        Envelope.parse(cch.filter(cf).select("value"), CdcSim.customerSchema),
        Seq("id"), "ts_ms", bPayload)
      val sb = sb0.toDF(sb0.columns.map("b_" + _): _*)
      sa.join(sb, col("custkey") === col("b_id"))
    }

    def assertSame(got: DataFrame, exp: DataFrame): Unit = {
      info("got schema: " + got.schema.simpleString)
      info("exp schema: " + exp.schema.simpleString)
      val g = got.localCheckpoint(); val e = exp.localCheckpoint()
      assert(g.exceptAll(e).count() === 0 && e.exceptAll(g).count() === 0)
      assert(g.count() > 0, "join must be non-empty for the check to mean anything")
    }

    // batch 1: creates on both sides
    dropTo(s"$in/a", "x1", och.filter(isC))
    dropTo(s"$in/b", "x1", cch.filter(isC))
    run()
    assertSame(IncrementalJoin.readJoin(spark, s"$tmp/j").get, expected(isC, isC))

    // batch 2: updates + tombstones on both sides — touched-key repair
    dropTo(s"$in/a", "x2", och.filter(!isC))
    dropTo(s"$in/b", "x2", cch.filter(!isC))
    run()
    assertSame(IncrementalJoin.readJoin(spark, s"$tmp/j").get,
      expected(lit(true), lit(true)))

    // replay with the same checkpoint: no new batch, no new version
    val versionsBefore = Commit.versions(s"$tmp/j")
    run()
    assert(Commit.versions(s"$tmp/j") === versionsBefore)
  }

  test("a side whose first batches are empty joins as an empty snapshot") {
    val tmp = Files.createTempDirectory("graft_ij_empty").toString
    val isC = expr("get_json_object(value, '$.op')") === "c"
    val a = Envelope.parse(CdcSim.ordersChangelog(spark, sf).filter(isC)
      .select("value"), CdcSim.payloadSchema).localCheckpoint()
    val b = Envelope.parse(CdcSim.customerChangelog(spark, sf).filter(isC)
      .select("value"), CdcSim.customerSchema).localCheckpoint()
    def merge(aB: DataFrame, bB: DataFrame, id: Long): Unit =
      IncrementalJoin.merge(s"$tmp/j", s"$tmp/a", s"$tmp/b",
        aPayload, bPayload, "custkey")(aB, bB, id)

    // batch 0 carries only the left topic: the right store holds no rows yet
    merge(a, b.limit(0), 0L)
    assert(IncrementalJoin.readJoin(spark, s"$tmp/j").get.count() === 0)
    // batch 1 delivers the right side: every matched pair appears
    merge(a.limit(0), b, 1L)
    val got = IncrementalJoin.readJoin(spark, s"$tmp/j").get
    val want = a.join(b.toDF(b.columns.map("b_" + _): _*),
      col("custkey") === col("b_id"))
    assert(want.count() > 0)
    assert(got.count() === want.count())
  }
}
