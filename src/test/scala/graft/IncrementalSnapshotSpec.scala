package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cdc.{CdcQueries, CdcSim}
import graft.streaming.{CdcPipeline, IncrementalSnapshot}

class IncrementalSnapshotSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("snapshot converges to batch semantics across incremental file drops") {
    val tmp = Files.createTempDirectory("graft_inc").toString
    val in = s"$tmp/in"; Files.createDirectories(Paths.get(in))
    val ch = CdcSim.ordersChangelog(spark, sf)

    def drop(name: String, filter: org.apache.spark.sql.Column): Unit = {
      ch.filter(filter).select("value").coalesce(1)
        .write.mode("overwrite").text(s"$tmp/stage_$name")
      val src = new java.io.File(s"$tmp/stage_$name").listFiles()
        .filter(_.getName.endsWith(".txt")).head
      Files.copy(src.toPath, Paths.get(in, s"$name.txt"))
    }
    def run(): Unit = {
      val q = IncrementalSnapshot.start(spark, CdcPipeline.Files(in),
        CdcSim.payloadSchema, Seq("id"), s"$tmp/snap", s"$tmp/chk")
      q.awaitTermination()
    }

    // first drop: creates + updates only; snapshot must contain every key
    drop("a", expr("get_json_object(value, '$.op')") =!= "d")
    run()
    val mid = IncrementalSnapshot.readSnapshot(spark, s"$tmp/snap").get
    assert(mid.filter(col("id") % 10 === 0).count() > 0) // deletes not applied yet

    // second drop: the tombstones; snapshot must now equal the batch result
    drop("b", expr("get_json_object(value, '$.op')") === "d")
    run()
    val fin = IncrementalSnapshot.readSnapshot(spark, s"$tmp/snap").get
    val expected = CdcQueries.snapshotLatest(spark, sf)
    assert(fin.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(fin).count() === 0)

    // replaying with the same checkpoint is a no-op
    run()
    val again = IncrementalSnapshot.readSnapshot(spark, s"$tmp/snap").get
    assert(again.count() === expected.count())
  }
  test("a crash after the marker: replay is a no-op, N+1 merges on top") {
    val tmp = Files.createTempDirectory("graft_crash").toString
    val dir = s"$tmp/snap"
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    def slice(m: Int) = ch.filter(col("id") % 3 === m).limit(150).localCheckpoint()
    def merge(m: Int, id: Long): Unit =
      IncrementalSnapshot.merge(dir, Seq("id"), CdcQueries.payloadCols)(slice(m), id)
    def keys(): Set[Long] =
      IncrementalSnapshot.readSnapshot(spark, dir).get
        .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

    merge(0, 0L)
    // batch 1 commits (version dir, then marker) and the process dies before
    // the stream checkpoint records it, so the stream redelivers batch 1
    merge(1, 1L)
    val v1 = keys()
    assert(IncrementalSnapshot.latestVersion(dir) === Some(1L))

    // the redelivery (here with different rows) must not remerge
    merge(2, 1L)
    assert(IncrementalSnapshot.latestVersion(dir) === Some(1L))
    assert(keys() === v1)

    // and the stream keeps going: batch 2 merges on top of version 1
    merge(2, 2L)
    assert(IncrementalSnapshot.latestVersion(dir) === Some(2L))
    val v2 = keys()
    assert(v2.filter(_ % 3 != 2) === v1)
    assert(v2.exists(_ % 3 == 2))
  }
  test("time travel reads every committed version; vacuum retains the newest") {
    val tmp = Files.createTempDirectory("graft_tt").toString
    val dir = s"$tmp/snap"
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()

    // three batches with different key slices so every version differs
    def slice(m: Int) = ch.filter(col("id") % 3 === m).limit(150).localCheckpoint()
    def state(): Set[String] =
      IncrementalSnapshot.readSnapshot(spark, dir).get
        .select(concat_ws("|", col("id"), col("ts_ms"))).collect()
        .map(_.getString(0)).toSet
    val seen = (0L to 2L).map { b =>
      IncrementalSnapshot.merge(dir, Seq("id"), CdcQueries.payloadCols)(slice(b.toInt), b)
      b -> state()
    }.toMap
    assert(IncrementalSnapshot.versions(dir) === Seq(0L, 1L, 2L))
    assert(seen(0L) !== seen(2L))

    // VERSION AS OF: exact hit, rounding down, pre-history, and beyond-latest
    def asOf(v: Long): Option[Set[String]] =
      IncrementalSnapshot.readSnapshotAsOf(spark, dir, v)
        .map(df => df.select(concat_ws("|", col("id"), col("ts_ms"))).collect()
          .map(_.getString(0)).toSet)
    (0L to 2L).foreach(v => assert(asOf(v) === Some(seen(v))))
    assert(asOf(-1L) === None)
    assert(asOf(99L) === Some(seen(2L)))

    // vacuum to the newest 2: version 0 is gone from index, travel, and disk;
    // the latest read is untouched
    assert(IncrementalSnapshot.vacuum(dir, keep = 2) === Seq(0L))
    assert(IncrementalSnapshot.versions(dir) === Seq(1L, 2L))
    assert(asOf(0L) === None)
    assert(asOf(1L) === Some(seen(1L)))
    assert(!Files.exists(Paths.get(dir, "v=0")))
    assert(state() === seen(2L))

    // a replayed pre-vacuum batch id must not resurrect: marker gone, but
    // merge of batch 0 again would be a NEW merge on current state — the
    // stream's checkpoint prevents that in practice; here we only assert
    // vacuum never drops the latest version even when keep is minimal
    assert(IncrementalSnapshot.vacuum(dir, keep = 1) === Seq(1L))
    assert(state() === seen(2L))
  }
  test("a crash before the marker leaves an unread orphan, no keys lost") {
    val tmp = Files.createTempDirectory("graft_orphan").toString
    val dir = s"$tmp/snap"
    val ch = CdcSim.parsedChangelog(spark, sf).limit(200).localCheckpoint()
    def keys(): Set[Long] =
      IncrementalSnapshot.readSnapshot(spark, dir).get
        .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

    IncrementalSnapshot.merge(dir, Seq("id"), CdcQueries.payloadCols)(ch, 0L)
    IncrementalSnapshot.merge(dir, Seq("id"), CdcQueries.payloadCols)(ch, 1L)
    val before = keys()
    assert(before.size > 1)

    // batch 2 died mid-write: a partial v=2 without its marker
    IncrementalSnapshot.readSnapshot(spark, dir).get.limit(1).localCheckpoint()
      .write.mode("overwrite").parquet(s"$dir/v=2")
    assert(IncrementalSnapshot.latestVersion(dir) === Some(1L))
    assert(IncrementalSnapshot.versions(dir) === Seq(0L, 1L))
    assert(keys() === before)
    assert(IncrementalSnapshot.readSnapshotAsOf(spark, dir, 2L).get.count() === before.size)

    // the replay merges against committed version 1, not the orphan, and
    // overwrites it
    IncrementalSnapshot.merge(dir, Seq("id"), CdcQueries.payloadCols)(ch, 2L)
    assert(IncrementalSnapshot.latestVersion(dir) === Some(2L))
    assert(keys() === before)
  }
}
