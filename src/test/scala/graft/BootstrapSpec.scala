package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cdc.{CdcOps, CdcQueries, CdcSim}
import graft.streaming.{Bootstrap, BucketedSnapshot, CdcPipeline, Commit}

/** Two-phase Debezium bootstrap: bulk-seed the compacted-topic view (live
  * op='r' rows + retained op='d' tombstones), then stream the change tail.
  * Pins (1) seed + tail == full-log batch snapshot even when the tail
  * redelivers pre-cut changes — including creates of keys deleted before
  * the cut (no resurrection), and (2) replay of both phases is a no-op.
  */
class BootstrapSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("compacted seed + streamed tail equals the full-log snapshot; replays are no-ops") {
    val tmp = Files.createTempDirectory("graft_boot").toString
    val in = s"$tmp/in"; Files.createDirectories(Paths.get(in))
    val dir = s"$tmp/snap"
    // retention horizon far beyond the changelog's ts spread: every
    // tombstone survives the test window (the aging sides of the horizon
    // are cdc_log_compact's spec)
    val retention = 1L << 50

    // the cut: creates land before it, some updates/deletes land each side
    val parsed = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    val cut = parsed.filter(col("op") === "c").agg(max(col("ts_ms")))
      .collect()(0).getLong(0)

    // snapshot phase = the compacted-topic read as of the cut: latest
    // record per key, retained tombstones included, re-encoded as envelopes
    val payload = struct(col("id"), col("custkey"), col("price"), col("status"))
    val seedEnv = CdcOps.logCompact(parsed.filter(col("ts_ms") <= cut),
        Seq("id"), "ts_ms", CdcQueries.payloadCols, retention)
      .select(to_json(struct(
        when(col("op") === "d", payload).as("before"),
        when(col("op") =!= "d", payload).as("after"),
        when(col("op") === "d", lit("d")).otherwise(lit("r")).as("op"),
        col("ts_ms").as("ts_ms"))).as("value"))
      .localCheckpoint()
    assert(seedEnv.filter(get_json_object(col("value"), "$.op") === "d").count() > 0,
      "test premise: some keys are deleted before the cut")
    Bootstrap.seed(spark, seedEnv, CdcSim.payloadSchema, Seq("id"), dir, retention)
    assert(Commit.versions(dir) === Seq(Bootstrap.SeedVersion))

    // tail phase: post-cut changes PLUS redelivered pre-cut creates — among
    // them creates of already-deleted keys (id % 10 === 0), the resurrection
    // hazard the retained tombstones must defeat
    val redelivered = CdcSim.ordersChangelog(spark, sf)
      .filter(get_json_object(col("value"), "$.op") === "c" &&
        get_json_object(col("value"), "$.after.id").cast("long") % 10 === 0)
      .limit(50)
    CdcSim.ordersChangelog(spark, sf)
      .filter(get_json_object(col("value"), "$.ts_ms").cast("long") > cut)
      .unionByName(redelivered)
      .select("value").coalesce(1).write.mode("overwrite").text(s"$tmp/stage")
    val src = new java.io.File(s"$tmp/stage").listFiles()
      .filter(_.getName.endsWith(".txt")).head
    Files.copy(src.toPath, Paths.get(in, "tail.txt"))
    Bootstrap.startTail(spark, CdcPipeline.Files(in), CdcSim.payloadSchema,
      Seq("id"), dir, s"$tmp/chk", retention).awaitTermination()

    val got = BucketedSnapshot.readSnapshot(spark, dir).get
    val expected = CdcQueries.snapshotLatest(spark, sf)
    assert(got.filter(col("id") % 10 === 0).count() === 0, "resurrected keys")
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)

    // replay both phases: seed hits its commit marker, the tail its
    // checkpoint — store unchanged
    Bootstrap.seed(spark, seedEnv, CdcSim.payloadSchema, Seq("id"), dir, retention)
    Bootstrap.startTail(spark, CdcPipeline.Files(in), CdcSim.payloadSchema,
      Seq("id"), dir, s"$tmp/chk", retention).awaitTermination()
    val again = BucketedSnapshot.readSnapshot(spark, dir).get
    assert(again.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(again).count() === 0)
  }
}
