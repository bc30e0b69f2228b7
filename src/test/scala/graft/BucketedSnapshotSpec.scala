package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cdc.{CdcOps, CdcQueries, CdcSim}
import graft.streaming.{BucketedSnapshot, CdcPipeline, Commit}

/** The bucketed store must equal the latest-per-key snapshot of the log it
  * has merged after every batch, while writing only touched buckets per
  * batch — the O(touched) property is asserted on the filesystem itself
  * (untouched buckets gain no version dirs), and the crash/replay/
  * emptied-bucket seams the multi-dir commit introduces are each forced
  * explicitly.
  */
class BucketedSnapshotSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val keys = Seq("id")
  private def bucketIdOf(id: Long, nb: Int): Long = {
    // driver-side twin of bucketOf, for constructing single-bucket batches
    import spark.implicits._
    Seq(id).toDF("id")
      .select(BucketedSnapshot.bucketOf(keys, nb)).head().getLong(0)
  }

  private def partFiles(p: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(p)
    try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Rewrite the committed version dir `bucket=<b>/v=<v>` as several part
    * files with the same rows — the fragmented layout an engine without
    * merge's bucket clustering leaves, which compaction exists to repair.
    * Returns the number of part files now in the dir.
    */
  private def fragment(dir: String, b: Long, v: Long): Int = {
    val target = Paths.get(dir, s"bucket=$b/v=$v")
    val stage = Paths.get(s"${dir}_fragment/b$b")
    spark.read.parquet(target.toString).repartition(2)
      .write.mode("overwrite").parquet(stage.toString)
    val old = Files.walk(target)
    try {
      import scala.jdk.CollectionConverters._
      old.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally old.close()
    Files.move(stage, target)
    partFiles(target)
  }

  test("bucketed snapshot equals the log snapshot after every batch") {
    val tmp = Files.createTempDirectory("graft_bsnap").toString
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    val mid = ch.agg(expr("percentile_approx(ts_ms, 0.5)")).head().getLong(0)
    val slices = Seq(ch.filter(col("ts_ms") <= mid), ch.filter(col("ts_ms") > mid))
    slices.zipWithIndex.foreach { case (b, i) =>
      BucketedSnapshot.merge(s"$tmp/b", keys, CdcQueries.payloadCols)(b, i.toLong)
      val got = BucketedSnapshot.readSnapshot(spark, s"$tmp/b").get
      // the definition: latest version per key over every slice merged so far
      val want = CdcOps.snapshotLatest(slices.take(i + 1).reduce(_ unionByName _),
          keys, "ts_ms", CdcQueries.payloadCols)
        .select(got.columns.map(col): _*)
      assert(got.exceptAll(want).count() === 0, s"batch $i: extra rows")
      assert(want.exceptAll(got).count() === 0, s"batch $i: missing rows")
    }
    // and the final state equals the batch-semantics snapshot
    val fin = BucketedSnapshot.readSnapshot(spark, s"$tmp/b").get
    val expected = CdcQueries.snapshotLatest(spark, sf)
      .select(fin.columns.map(col): _*)
    assert(fin.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(fin).count() === 0)
  }

  test("a single-bucket batch writes ONLY that bucket's version dir") {
    val tmp = Files.createTempDirectory("graft_btouch").toString
    val dir = s"$tmp/b"
    val nb = BucketedSnapshot.DefaultBuckets
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    def versionDirs(b: Long): Set[String] = {
      val p = Paths.get(dir, s"bucket=$b")
      if (!Files.isDirectory(p)) Set.empty
      else {
        val s = Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSet
        } finally s.close()
      }
    }
    val before = (0L until nb.toLong).map(b => b -> versionDirs(b)).toMap
    // batch 1: rows for one bucket only
    val one = ch.filter(BucketedSnapshot.bucketOf(keys, nb) === 0L)
    assert(one.count() > 0, "slice must be non-empty to exercise the write")
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(one, 1L)
    assert(versionDirs(0L) === before(0L) + "v=1")
    (1L until nb.toLong).foreach { b =>
      assert(versionDirs(b) === before(b), s"untouched bucket $b was written")
    }
    // and the snapshot is still globally correct
    val got = BucketedSnapshot.readSnapshot(spark, dir).get
    val want = CdcQueries.snapshotLatest(spark, sf).select(got.columns.map(col): _*)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("a bucket emptied by tombstones serves zero rows, not stale state") {
    val tmp = Files.createTempDirectory("graft_bempty").toString
    val dir = s"$tmp/b"
    val nb = BucketedSnapshot.DefaultBuckets
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    val snap0 = BucketedSnapshot.readSnapshot(spark, dir).get
    val inB = snap0.filter(BucketedSnapshot.bucketOf(keys, nb) === 3L)
    assert(inB.count() > 0, "bucket 3 must hold keys for the test to bite")
    val maxTs = ch.agg(max(col("ts_ms"))).head().getLong(0)
    // a tombstone for EVERY key in bucket 3, newer than all history
    val tombs = inB.select(col("id"),
      lit(null).cast("long").as("custkey"),
      lit(null).cast("double").as("price"),
      lit(null).cast("string").as("status"),
      lit("d").as("op"), lit(maxTs + 1).as("ts_ms"), lit(-1).as("sign"))
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(tombs, 1L)
    // the bucket committed an (empty) v=1 and the reader honors it
    assert(Files.isDirectory(Paths.get(dir, "bucket=3/v=1")))
    val snap1 = BucketedSnapshot.readSnapshot(spark, dir).get
    assert(snap1.filter(BucketedSnapshot.bucketOf(keys, nb) === 3L).count() === 0)
    assert(snap1.count() === snap0.count() - inB.count())
    // time travel still sees the pre-delete bucket
    val asOf0 = BucketedSnapshot.readSnapshotAsOf(spark, dir, 0L).get
    assert(asOf0.filter(BucketedSnapshot.bucketOf(keys, nb) === 3L).count()
      === inB.count())
  }

  test("replay is a no-op and a crash orphan is overwritten, never read") {
    val tmp = Files.createTempDirectory("graft_bcrash").toString
    val dir = s"$tmp/b"
    val ch = CdcSim.parsedChangelog(spark, sf).limit(500).localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    val want = BucketedSnapshot.readSnapshot(spark, dir).get.collect().toSet
    // committed replay: marker present → merge must not touch state
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    assert(BucketedSnapshot.readSnapshot(spark, dir).get.collect().toSet === want)
    // crash window of batch 1: an orphan version dir with GARBAGE rows and
    // no marker — invisible to readers, overwritten by the replay
    val someBucket = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .find(_.startsWith("bucket=")).get
      finally s.close()
    }
    val orphan = Paths.get(dir, s"$someBucket/v=1")
    Files.createDirectories(orphan)
    BucketedSnapshot.readSnapshot(spark, dir).get // resolvable with orphan present
    assert(BucketedSnapshot.latestVersion(dir) === Some(0L))
    // replayed batch 1 = the same feed again (idempotent upsert)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 1L)
    assert(BucketedSnapshot.latestVersion(dir) === Some(1L))
    assert(BucketedSnapshot.readSnapshot(spark, dir).get.collect().toSet === want)
  }

  test("vacuum drops only unreferenced bucket versions; horizon guards asOf") {
    val tmp = Files.createTempDirectory("graft_bvac").toString
    val dir = s"$tmp/b"
    val nb = BucketedSnapshot.DefaultBuckets
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    // batch 0: everything; batches 1 and 2: single-bucket touches, so most
    // buckets' state for the retained window still lives in v=0 dirs
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(
      ch.filter(BucketedSnapshot.bucketOf(keys, nb) === 0L), 1L)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(
      ch.filter(BucketedSnapshot.bucketOf(keys, nb) === 1L), 2L)
    val liveBefore = BucketedSnapshot.readSnapshot(spark, dir).get.collect().toSet
    val asOf1Before = BucketedSnapshot.readSnapshotAsOf(spark, dir, 1L).get
      .collect().toSet

    val dropped = BucketedSnapshot.vacuum(dir, keep = 2) // retain batches 1, 2
    // bucket 0's v=0 became unreferenced at cutoff 1 (superseded by v=1);
    // every OTHER bucket's v=0 is still its state for the retained window
    assert(dropped === Seq((0L, 0L)))
    assert(!Files.isDirectory(Paths.get(dir, "bucket=0/v=0")))
    assert(Files.isDirectory(Paths.get(dir, "bucket=1/v=0")))
    // retained reads are byte-identical to pre-vacuum
    assert(BucketedSnapshot.readSnapshot(spark, dir).get.collect().toSet
      === liveBefore)
    assert(BucketedSnapshot.readSnapshotAsOf(spark, dir, 1L).get.collect().toSet
      === asOf1Before)
    // below the horizon time travel refuses instead of serving stale holes
    assert(BucketedSnapshot.readSnapshotAsOf(spark, dir, 0L).isEmpty)
    // vacuum is idempotent
    assert(BucketedSnapshot.vacuum(dir, keep = 2).isEmpty)
  }

  test("retention mode blocks resurrection and serves the live snapshot") {
    val tmp = Files.createTempDirectory("graft_bret").toString
    val bDir = s"$tmp/b"
    // retention horizon far beyond the changelog's ts spread: every
    // tombstone stays a stored row for the whole test
    val ret = 1L << 50
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    BucketedSnapshot.merge(bDir, keys, CdcQueries.payloadCols,
      tombstoneRetention = Some(ret))(ch, 0L)
    // at-least-once redelivery of every PRE-delete event of the deleted
    // keys (the sim tombstones id % 10 == 0): against a plain store these
    // arrive as the keys' only events and resurrect them; the stored
    // tombstone rows must outvote them
    val redelivered = ch.filter(col("id") % 10 === 0 && col("op") =!= "d")
      .localCheckpoint()
    assert(redelivered.count() > 0, "need pre-delete events to redeliver")
    BucketedSnapshot.merge(bDir, keys, CdcQueries.payloadCols,
      tombstoneRetention = Some(ret))(redelivered, 1L)
    val got = BucketedSnapshot.readSnapshot(spark, bDir).get
    assert(got.filter(col("id") % 10 === 0).count() === 0, "resurrected keys")
    // the live view equals the plain batch snapshot (retention changes what
    // is STORED, never what readers see)
    val plain = CdcQueries.snapshotLatest(spark, sf).select(got.columns.map(col): _*)
    assert(got.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(got).count() === 0)
    // the discipline is pinned: a plain merge against a retention store
    // refuses instead of stamping op='r' over stored tombstones
    intercept[IllegalArgumentException] {
      BucketedSnapshot.merge(bDir, keys, CdcQueries.payloadCols)(ch, 2L)
    }
  }

  test("point lookup equals the snapshot filter and opens ONLY the keys' buckets") {
    val tmp = Files.createTempDirectory("graft_bpoint").toString
    val dir = s"$tmp/b"
    val nb = BucketedSnapshot.DefaultBuckets
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    // a key set confined to one bucket (plus a tombstoned key — must be
    // absent from the answer, not resurrected)
    val snap = BucketedSnapshot.readSnapshot(spark, dir).get
    val liveIds = snap.select(col("id")).collect().map(_.getLong(0))
    val targetBucket = bucketIdOf(liveIds.head, nb)
    val sameBucket = liveIds.filter(bucketIdOf(_, nb) == targetBucket).take(3)
    val deadId = ch.filter(col("op") === "d").select(col("id"))
      .head().getLong(0)
    import spark.implicits._
    val keyDf = (sameBucket :+ deadId).toSeq.toDF("id")
    val got = BucketedSnapshot.readKeys(spark, dir, keys, keyDf).get
    // (1) answer = the snapshot filter's answer
    val want = snap.join(keyDf, Seq("id"), "left_semi")
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    assert(got.filter(col("id") === deadId).count() === 0, "resurrected key")
    // (2) pruning: every file read lives under the keys' buckets only
    val touched = (sameBucket :+ deadId).map(bucketIdOf(_, nb)).toSet
    val files = got.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(touched.exists(b => f.contains(s"bucket=$b/")),
        s"read outside the keys' buckets: $f")
    }
  }

  test("per-bucket compaction: same rows, single file, untouched buckets byte-identical, replay no-op") {
    val tmp = Files.createTempDirectory("graft_bcompact").toString
    val dir = s"$tmp/b"
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    val mid = ch.agg(expr("percentile_approx(ts_ms, 0.5)")).head().getLong(0)
    val s0 = ch.filter(col("ts_ms") <= mid).localCheckpoint()
    val s1 = ch.filter(col("ts_ms") > mid).localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(s0, 0L)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(s1, 1L)
    // fragment half the buckets' current version (both slices touch every
    // bucket); the other half keep merge's one file per bucket
    val fragmented = (0L until 8L).map(b => (b, 1L))
    fragmented.foreach { case (b, v) =>
      assert(fragment(dir, b, v) >= 2, s"bucket $b v $v not fragmented")
    }
    def inventory(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally w.close()
    }
    val rowsBefore = BucketedSnapshot.readSnapshot(spark, dir).get
      .collect().map(_.toString).sorted.toSeq
    val asOf0Before = BucketedSnapshot.readSnapshotAsOf(spark, dir, 0L).get
      .collect().map(_.toString).sorted.toSeq
    val invBefore = inventory()
    val done = BucketedSnapshot.compact(spark, dir)
    // exactly the fragmented versions are rewritten
    assert(done.toSet === fragmented.toSet)
    // rewritten buckets now serve ONE part file from a .c1 generation dir;
    // the superseded plain dir is gone
    done.foreach { case (b, v) =>
      assert(!Files.isDirectory(Paths.get(dir, s"bucket=$b/v=$v")))
      val g = Paths.get(dir, s"bucket=$b/v=$v.c1")
      assert(Files.isDirectory(g), s"missing $g")
      val parts = partFiles(g)
      assert(parts === 1, s"bucket $b v $v: $parts part files after compact")
    }
    // untouched buckets' files byte-identical (same paths, same sizes)
    val doneDirs = done.map { case (b, v) => s"bucket=$b/v=$v" }
    val untouched = invBefore.filterNot { case (p, _) =>
      doneDirs.exists(p.contains)
    }
    val invAfter = inventory()
    untouched.foreach { case (p, sz) =>
      assert(invAfter.get(p).contains(sz), s"untouched file changed: $p")
    }
    // rows and time travel identical across the rewrite
    assert(BucketedSnapshot.readSnapshot(spark, dir).get
      .collect().map(_.toString).sorted.toSeq === rowsBefore)
    assert(BucketedSnapshot.readSnapshotAsOf(spark, dir, 0L).get
      .collect().map(_.toString).sorted.toSeq === asOf0Before)
    // replay of a committed batch is STILL a no-op after compaction
    val invPostCompact = inventory()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(s1, 1L)
    assert(inventory() === invPostCompact, "replay rewrote files")
    // and a second compact finds nothing left to do
    assert(BucketedSnapshot.compact(spark, dir).isEmpty)

    // crash orphan reclaim (ADVICE r14): a compact that died between the
    // atomic move and the superseded-dir delete leaves the old generation
    // behind; on a quiescent store the fragmentation test skips the bucket
    // (its max gen is one file), so the orphan previously lived forever.
    // Simulate the crash by resurrecting a plain v dir next to its .c1.
    val (ob, ov) = done.head
    val orphan = Paths.get(dir, s"bucket=$ob/v=$ov")
    val servingDir = Paths.get(dir, s"bucket=$ob/v=$ov.c1")
    Files.createDirectories(orphan)
    import scala.jdk.CollectionConverters._
    val ls = Files.list(servingDir)
    try ls.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      Files.copy(f, orphan.resolve(f.getFileName))
    } finally ls.close()
    // readers take the max generation — the orphan is invisible
    assert(BucketedSnapshot.readSnapshot(spark, dir).get
      .collect().map(_.toString).sorted.toSeq === rowsBefore)
    // the next compact reclaims it even with nothing to rewrite
    assert(BucketedSnapshot.compact(spark, dir).isEmpty)
    assert(!Files.isDirectory(orphan), "crash-orphaned generation not reclaimed")
    assert(BucketedSnapshot.readSnapshot(spark, dir).get
      .collect().map(_.toString).sorted.toSeq === rowsBefore)
  }

  test("compaction composes with later merges, vacuum, and time travel") {
    val tmp = Files.createTempDirectory("graft_bcv").toString
    val dir = s"$tmp/b"
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    val cuts = ch.stat.approxQuantile("ts_ms", Array(0.33, 0.66), 0.0)
    val slices = Seq(
      ch.filter(col("ts_ms") <= cuts(0)),
      ch.filter(col("ts_ms") > cuts(0) && col("ts_ms") <= cuts(1)),
      ch.filter(col("ts_ms") > cuts(1))).map(_.localCheckpoint())
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(slices(0), 0L)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(slices(1), 1L)
    // compact the referenced v=1 dirs (fragmented here), then a LATER merge
    // lands on top of compacted generations
    val nb = BucketedSnapshot.DefaultBuckets.toLong
    (0L until nb).foreach { b =>
      assert(fragment(dir, b, 1L) >= 2, s"bucket $b not fragmented")
    }
    assert(BucketedSnapshot.compact(spark, dir).map(_._1).toSet ===
      (0L until nb).toSet)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(slices(2), 2L)
    // correctness across the compose: full snapshot and asOf(1)
    val want = CdcQueries.snapshotLatest(spark, sf)
    val got = BucketedSnapshot.readSnapshot(spark, dir).get
      .select(want.columns.map(col): _*)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    val asOf1 = BucketedSnapshot.readSnapshotAsOf(spark, dir, 1L).get
      .collect().map(_.toString).sorted.toSeq
    // vacuum keep=2: versions < 1 that are superseded get dropped —
    // INCLUDING any compacted generations of them; asOf(1) survives
    BucketedSnapshot.vacuum(dir, keep = 2)
    assert(BucketedSnapshot.readSnapshotAsOf(spark, dir, 1L).get
      .collect().map(_.toString).sorted.toSeq === asOf1)
    // no bucket serves a dropped version through a leftover gen dir:
    // every remaining version dir (plain or .cG) is v=1-or-2, or a
    // bucket's newest version <= the cutoff (still referenced)
    import scala.jdk.CollectionConverters._
    val w = Files.walk(Paths.get(dir), 2)
    val leftover = try w.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("v="))
      .map(_.toString).toList
    finally w.close()
    assert(leftover.nonEmpty)
    // final snapshot still correct after vacuum
    val got2 = BucketedSnapshot.readSnapshot(spark, dir).get
      .select(want.columns.map(col): _*)
    assert(got2.exceptAll(want).count() === 0)
    assert(want.exceptAll(got2).count() === 0)
  }

  test("compaction preserves retention-mode tombstone ROWS (no resurrection after compact)") {
    val tmp = Files.createTempDirectory("graft_bretc").toString
    val dir = s"$tmp/b"
    val ret = 1L << 50
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols,
      tombstoneRetention = Some(ret))(ch, 0L)
    // compact rewrites raw stored rows — the op='d' tombstones must come
    // through as rows, or the next redelivery resurrects the keys. Every
    // bucket is fragmented, so every stored tombstone passes through it.
    val nb = BucketedSnapshot.DefaultBuckets.toLong
    (0L until nb).foreach { b =>
      assert(fragment(dir, b, 0L) >= 2, s"bucket $b not fragmented")
    }
    assert(BucketedSnapshot.compact(spark, dir).map(_._1).toSet ===
      (0L until nb).toSet)
    val redelivered = ch.filter(col("id") % 10 === 0 && col("op") =!= "d")
      .localCheckpoint()
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols,
      tombstoneRetention = Some(ret))(redelivered, 1L)
    val got = BucketedSnapshot.readSnapshot(spark, dir).get
    assert(got.filter(col("id") % 10 === 0).count() === 0,
      "compaction dropped tombstone rows — redelivery resurrected keys")
    val want = CdcQueries.snapshotLatest(spark, sf).select(got.columns.map(col): _*)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("a legacy store without _MODE infers its mode from the stored schema") {
    val tmp = Files.createTempDirectory("graft_bmode").toString
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    // a plain store whose _MODE file predates the pin (r13 advice seam):
    // the first caller's flag must NOT become the stamp — the stored
    // schema (no 'op' column in plain state) is the truth
    val pDir = s"$tmp/p"
    BucketedSnapshot.merge(pDir, keys, CdcQueries.payloadCols)(ch, 0L)
    Files.delete(Paths.get(pDir, "_MODE"))
    intercept[IllegalArgumentException] {
      BucketedSnapshot.merge(pDir, keys, CdcQueries.payloadCols,
        tombstoneRetention = Some(1L << 50))(ch, 1L)
    }
    // the inferred (correct) mode was stamped, not the caller's — the
    // store still accepts its own plain mode and stays correct
    assert(Files.readString(Paths.get(pDir, "_MODE")).trim === "plain")
    BucketedSnapshot.merge(pDir, keys, CdcQueries.payloadCols)(ch, 1L)
    val got = BucketedSnapshot.readSnapshot(spark, pDir).get
    val want = CdcQueries.snapshotLatest(spark, sf).select(got.columns.map(col): _*)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // retention direction: stored tombstone rows carry 'op' → inferred
    // retention; a plain merge refuses instead of stamping op='r' over them
    val rDir = s"$tmp/r"
    BucketedSnapshot.merge(rDir, keys, CdcQueries.payloadCols,
      tombstoneRetention = Some(1L << 50))(ch, 0L)
    Files.delete(Paths.get(rDir, "_MODE"))
    intercept[IllegalArgumentException] {
      BucketedSnapshot.merge(rDir, keys, CdcQueries.payloadCols)(ch, 1L)
    }
    assert(Files.readString(Paths.get(rDir, "_MODE")).trim === "retention")
  }

  test("streamed file drops land the batch semantics through start()") {
    val tmp = Files.createTempDirectory("graft_bstream").toString
    val in = s"$tmp/in"; Files.createDirectories(Paths.get(in))
    val ch = CdcSim.ordersChangelog(spark, sf)
    ch.select("value").coalesce(1).write.mode("overwrite").text(s"$tmp/stage")
    val src = new java.io.File(s"$tmp/stage").listFiles()
      .filter(_.getName.endsWith(".txt")).head
    Files.copy(src.toPath, Paths.get(in, "a.txt"))
    val q = BucketedSnapshot.start(spark, CdcPipeline.Files(in),
      CdcSim.payloadSchema, keys, s"$tmp/snap", s"$tmp/chk")
    q.awaitTermination()
    val got = BucketedSnapshot.readSnapshot(spark, s"$tmp/snap").get
    val want = CdcQueries.snapshotLatest(spark, sf).select(got.columns.map(col): _*)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

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
      val q = BucketedSnapshot.start(spark, CdcPipeline.Files(in),
        CdcSim.payloadSchema, keys, s"$tmp/snap", s"$tmp/chk")
      q.awaitTermination()
    }

    // first drop: creates + updates only; snapshot must contain every key
    drop("a", expr("get_json_object(value, '$.op')") =!= "d")
    run()
    val mid = BucketedSnapshot.readSnapshot(spark, s"$tmp/snap").get
    assert(mid.filter(col("id") % 10 === 0).count() > 0) // deletes not applied yet

    // second drop: the tombstones; snapshot must now equal the batch result
    drop("b", expr("get_json_object(value, '$.op')") === "d")
    run()
    val fin = BucketedSnapshot.readSnapshot(spark, s"$tmp/snap").get
    val expected = CdcQueries.snapshotLatest(spark, sf).select(fin.columns.map(col): _*)
    assert(fin.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(fin).count() === 0)

    // replaying with the same checkpoint is a no-op
    val versions = Commit.versions(s"$tmp/snap")
    run()
    assert(Commit.versions(s"$tmp/snap") === versions)
    val again = BucketedSnapshot.readSnapshot(spark, s"$tmp/snap").get
    assert(again.count() === expected.count())
  }

  test("a crash after the marker: replay is a no-op, N+1 merges on top") {
    val tmp = Files.createTempDirectory("graft_crash").toString
    val dir = s"$tmp/snap"
    val ch = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    def slice(m: Int) = ch.filter(col("id") % 3 === m).limit(150).localCheckpoint()
    def merge(m: Int, id: Long): Unit =
      BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(slice(m), id)
    def ids(): Set[Long] =
      BucketedSnapshot.readSnapshot(spark, dir).get
        .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

    merge(0, 0L)
    // batch 1 commits (version dirs, then marker) and the process dies
    // before the stream checkpoint records it, so the stream redelivers it
    merge(1, 1L)
    val v1 = ids()
    assert(BucketedSnapshot.latestVersion(dir) === Some(1L))

    // the redelivery (here with different rows) must not remerge
    merge(2, 1L)
    assert(BucketedSnapshot.latestVersion(dir) === Some(1L))
    assert(ids() === v1)

    // and the stream keeps going: batch 2 merges on top of version 1
    merge(2, 2L)
    assert(BucketedSnapshot.latestVersion(dir) === Some(2L))
    val v2 = ids()
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
      BucketedSnapshot.readSnapshot(spark, dir).get
        .select(concat_ws("|", col("id"), col("ts_ms"))).collect()
        .map(_.getString(0)).toSet
    val seen = (0L to 2L).map { b =>
      BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(slice(b.toInt), b)
      b -> state()
    }.toMap
    assert(Commit.versions(dir) === Seq(0L, 1L, 2L))
    assert(seen(0L) !== seen(2L))

    // VERSION AS OF: exact hit, rounding down, pre-history, and beyond-latest
    def asOf(v: Long): Option[Set[String]] =
      BucketedSnapshot.readSnapshotAsOf(spark, dir, v)
        .map(df => df.select(concat_ws("|", col("id"), col("ts_ms"))).collect()
          .map(_.getString(0)).toSet)
    (0L to 2L).foreach(v => assert(asOf(v) === Some(seen(v))))
    assert(asOf(-1L) === None)
    assert(asOf(99L) === Some(seen(2L)))

    // vacuum to the newest 2: version 0 is gone from travel and disk (every
    // bucket batch 1 rewrote drops its v=0); the latest read is untouched
    def onDisk(v: Long): Seq[(Long, Long)] =
      (0L until BucketedSnapshot.DefaultBuckets.toLong).map(b => (b, v))
        .filter { case (b, _) => Files.isDirectory(Paths.get(dir, s"bucket=$b/v=$v")) }
    val v0 = onDisk(0L)
    assert(v0.nonEmpty)
    assert(BucketedSnapshot.vacuum(dir, keep = 2).sorted ===
      v0.filter { case (b, _) => Files.isDirectory(Paths.get(dir, s"bucket=$b/v=1")) })
    assert(asOf(0L) === None)
    assert(asOf(1L) === Some(seen(1L)))
    assert(asOf(2L) === Some(seen(2L)))
    assert(state() === seen(2L))

    // vacuum never drops the latest version, even when keep is minimal
    val dropped = BucketedSnapshot.vacuum(dir, keep = 1)
    assert(dropped.nonEmpty && dropped.forall(_._2 <= 1L))
    assert(state() === seen(2L))
  }

  test("a crash before the marker leaves an unread orphan, no keys lost") {
    val tmp = Files.createTempDirectory("graft_orphan").toString
    val dir = s"$tmp/snap"
    val ch = CdcSim.parsedChangelog(spark, sf).limit(200).localCheckpoint()
    def ids(): Set[Long] =
      BucketedSnapshot.readSnapshot(spark, dir).get
        .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 0L)
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 1L)
    val before = ids()
    assert(before.size > 1)

    // batch 2 died mid-write: a partial bucket version dir without a marker
    val b = bucketIdOf(before.head, BucketedSnapshot.DefaultBuckets)
    BucketedSnapshot.readSnapshot(spark, dir).get.limit(1).localCheckpoint()
      .write.mode("overwrite").parquet(s"$dir/bucket=$b/v=2")
    assert(BucketedSnapshot.latestVersion(dir) === Some(1L))
    assert(Commit.versions(dir) === Seq(0L, 1L))
    assert(ids() === before)
    assert(BucketedSnapshot.readSnapshotAsOf(spark, dir, 2L).get.count() === before.size)

    // the replay merges against committed version 1, not the orphan, and
    // overwrites it
    BucketedSnapshot.merge(dir, keys, CdcQueries.payloadCols)(ch, 2L)
    assert(BucketedSnapshot.latestVersion(dir) === Some(2L))
    assert(ids() === before)
  }
}
