package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.{CdcOps, Envelope}

/** Incrementally-maintained current-state table: the ClickHouse
  * `ReplacingMergeTree + FINAL` role (init-clickhouse.sql) as a streaming
  * merge job. Each micro-batch of change events merges into the on-disk
  * snapshot: union(stored state, batch) → latest version per key → drop
  * tombstones → write the new version.
  *
  * Re-reading and REWRITING the whole snapshot every micro-batch is the
  * streaming store's real 100 TB wall: a 1 GB/s writer spends 28 hours per
  * micro-batch on a 100 TB table no matter how small the batch is. So the
  * store is split into a fixed number of hash buckets on the merge key
  * (`pmod(xxhash64(key), buckets)` — the layout Spark's own bucketing and
  * every upsert lake format use), and a batch merges ONLY the buckets its
  * keys land in: read cost = touched/buckets of the store, write cost the
  * same, and untouched buckets are not opened at all. A CDC feed whose
  * batches touch a small key range (the common case — recent keys cluster)
  * pays per-batch work proportional to the batch, not to history; the
  * worst case (keys spraying every bucket) degenerates to exactly a full
  * rewrite, never worse.
  *
  * Layout: `dir/bucket=<b>/v=<batchId>` holds bucket b's rows as of the
  * batch that last touched it — buckets version INDEPENDENTLY, so "the
  * snapshot at batch v" = for each bucket, its newest committed version
  * ≤ v. A bucket whose keys all died still commits an (empty) version dir
  * — otherwise readers would fall back to its stale previous rows.
  *
  * Exactly-once: one [[Commit]] marker per batch, adapted to many dirs per
  * commit — all touched buckets' version dirs are moved into place BEFORE
  * the marker is created, so the marker atomically commits the whole
  * batch; readers and merges resolve versions through committed markers
  * only, which makes half-moved crash leftovers invisible (orphan dirs are
  * overwritten by the replay). The bucket count is pinned in a `_BUCKETS`
  * file at creation — a store's bucketing is part of its identity (changing
  * it means a rewrite), exactly like a bucketed Hive/Iceberg table.
  *
  * Two tombstone disciplines, pinned at creation: plain (tombstones
  * applied and forgotten, the [[CdcOps.snapshotLatest]] merge) and
  * retention (tombstones persist as rows via [[CdcOps.logCompact]] per
  * bucket — the no-resurrection guard under at-least-once redelivery).
  * Ref: cdc_processor.py:100-124 (the sink this keeps in current-state
  * shape), init-clickhouse.sql (the ReplacingMergeTree role).
  */
object BucketedSnapshot {

  val DefaultBuckets = 16

  /** The bucket of a key tuple. Deterministic and engine-internal only —
    * nothing downstream depends on WHICH bucket a key lands in, only that
    * the assignment is stable for the store's lifetime.
    */
  def bucketOf(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong))

  private def bucketsOf(dir: String): Option[Int] = {
    val p = Paths.get(dir, "_BUCKETS")
    if (Files.exists(p)) Files.readString(p).trim.toIntOption else None
  }

  /** Bucket b's version dirs as (version, compaction generation, path) —
    * `v=<v>` is generation 0; `v=<v>.c<g>` is [[compact]]'s rewritten copy
    * of the same committed version (same rows, fewer files). Readers take
    * the HIGHEST generation of a version, which is what makes compaction's
    * single atomic move crash-safe: until the move lands the old dir wins;
    * after it lands the new dir wins; the old dir's later deletion is pure
    * cleanup.
    */
  private def versionDirs(dir: String, b: Long): Seq[(Long, Long, Path)] = {
    val bd = Paths.get(dir, s"bucket=$b")
    if (!Files.isDirectory(bd)) Seq.empty
    else {
      val s = Files.list(bd)
      try s.iterator().asScala.flatMap { p =>
        Option(p.getFileName.toString).filter(_.startsWith("v=")).flatMap {
          name =>
            name.stripPrefix("v=").split("\\.c", 2) match {
              case Array(v) => v.toLongOption.map(vv => (vv, 0L, p))
              case Array(v, g) =>
                for (vv <- v.toLongOption; gg <- g.toLongOption)
                  yield (vv, gg, p)
              case _ => None
            }
        }
      }.toSeq
      finally s.close()
    }
  }

  /** Bucket b's version dirs (committed or orphaned). */
  private def bucketVersions(dir: String, b: Long): Seq[Long] =
    versionDirs(dir, b).map(_._1).distinct

  /** The dir that SERVES committed version v of bucket b: its
    * highest-generation copy.
    */
  private def bucketStateDir(dir: String, b: Long, v: Long): Option[Path] =
    versionDirs(dir, b).filter(_._1 == v).maxByOption(_._2).map(_._3)

  /** Bucket b's newest committed version ≤ cap — crash orphans (dir
    * without marker) are invisible by construction.
    */
  private def bucketLatest(dir: String, b: Long, comm: Set[Long],
      cap: Long): Option[Long] =
    bucketVersions(dir, b).filter(v => comm.contains(v) && v <= cap).maxOption

  private def allBuckets(dir: String): Seq[Long] = {
    if (!Files.isDirectory(Paths.get(dir))) Seq.empty
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala
        .flatMap(p => Option(p.getFileName.toString)
          .filter(_.startsWith("bucket="))
          .flatMap(_.stripPrefix("bucket=").toLongOption))
        .toSeq
      finally s.close()
    }
  }

  /** Any one part file of a committed bucket version — the schema witness
    * the legacy `_MODE` inference reads. None iff the store has no
    * committed state (fresh store: the caller's mode IS the creation
    * mode).
    */
  private def committedPartFile(dir: String): Option[String] = {
    val comm = Commit.versions(dir).toSet
    if (comm.isEmpty) None
    else allBuckets(dir).sorted.iterator
      .flatMap(b => bucketLatest(dir, b, comm, Long.MaxValue)
        .flatMap(v => bucketStateDir(dir, b, v))
        .toSeq.flatMap(partFiles))
      .nextOption()
  }

  /** Version dirs that actually hold rows (an emptied bucket's committed
    * version dir has no parquet part files — it contributes nothing, and
    * must NOT make the reader fall back to an older version).
    */
  private def partFiles(p: Path): Seq[String] = {
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally s.close()
    }
  }

  private def resolvePaths(dir: String, cap: Long): Seq[String] = {
    val comm = Commit.versions(dir).toSet
    allBuckets(dir).flatMap { b =>
      bucketLatest(dir, b, comm, cap)
        .flatMap(v => bucketStateDir(dir, b, v))
        .toSeq.flatMap(partFiles)
    }
  }

  def latestVersion(dir: String): Option[Long] = Commit.latest(dir)

  /** A stored version as the LIVE-ROWS view: retention-mode stores keep
    * delete tombstones as rows (op='d') so redelivered pre-tombstone
    * changes cannot resurrect a deleted key; readers see live rows only.
    * Plain stores have no `op` column and pass through untouched.
    */
  private def liveView(df: DataFrame): DataFrame =
    if (df.columns.contains("op")) df.filter(col("op") =!= "d").drop("op")
    else df

  /** The live snapshot: every bucket at its newest committed version. */
  def readSnapshot(s: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(dir).flatMap(v => readSnapshotAsOf(s, dir, v))

  /** VERSION AS OF over the bucketed store (batch ids are the version
    * line): per bucket, the newest committed version ≤ v — O(#buckets) dir
    * listings, no log replay. Complements `CdcOps.snapshotAsOf`, which
    * answers the same question at an arbitrary TIMESTAMP from the full
    * event log; this one answers it from the maintained store, at batch
    * granularity.
    *
    * None when nothing ≤ v is committed (pre-history) or v is below the
    * vacuum horizon. A committed store whose buckets are ALL empty (every
    * key tombstoned) reads as an empty DataFrame under the persisted
    * `_SCHEMA`, not None — "store is legitimately empty" and "store does
    * not exist / version vacuumed away" are different answers and callers
    * need to tell them apart.
    */
  def readSnapshotAsOf(s: SparkSession, dir: String, v: Long): Option[DataFrame] = {
    if (!Commit.versions(dir).exists(_ <= v)) None
    else if (horizon(dir).exists(v < _)) None // vacuumed away
    else {
      val paths = resolvePaths(dir, v)
      // _SCHEMA is pinned at creation — hand it to the reader so point/asof
      // reads skip footer-sampling schema inference (r15)
      if (paths.nonEmpty) Some(liveView(
        storedSchema(dir).map(s.read.schema(_)).getOrElse(s.read)
          .parquet(paths: _*)))
      else storedSchema(dir).map(sch => liveView(
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)))
    }
  }

  /** Bucket-pruned POINT READ — the ClickHouse/KV point-lookup role the
    * hash layout exists to serve: the current live rows of a BOUNDED key
    * set, opening ONLY the buckets those keys hash to. Read cost is
    * touched/buckets of the store regardless of history or store size
    * (at 16 buckets a one-key lookup opens 1/16th of the CURRENT state,
    * never the log; a wider fixed-key workload still never opens an
    * untouched bucket). `keys` must be bounded (its distinct bucket set
    * is collected — ≤ #buckets rows — exactly the merge-side touched
    * computation); rows come back through the same committed-version
    * resolution and [[liveView]] as [[readSnapshot]], so the answer is
    * the snapshot filter's answer by construction (spec-pinned, with the
    * file pruning asserted via input_file_name).
    */
  def readKeys(s: SparkSession, dir: String, keyCols: Seq[String],
      keys: DataFrame): Option[DataFrame] =
    latestVersion(dir).flatMap { cap =>
      bucketsOf(dir).map { nb =>
        val touched = keys.select(bucketOf(keyCols, nb).as("b")).distinct()
          .collect().map(_.getLong(0)).toSet
        val comm = Commit.versions(dir).toSet
        val paths = allBuckets(dir).filter(touched.contains).flatMap { b =>
          bucketLatest(dir, b, comm, cap)
            .flatMap(v => bucketStateDir(dir, b, v))
            .toSeq.flatMap(partFiles)
        }
        val state =
          if (paths.nonEmpty) liveView(
            storedSchema(dir).map(s.read.schema(_)).getOrElse(s.read)
              .parquet(paths: _*))
          else storedSchema(dir).map(sch => liveView(s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)))
            .getOrElse(s.emptyDataFrame)
        state.join(
          keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      }
    }

  /** The store's row schema, pinned at creation alongside `_BUCKETS` so an
    * emptied store still knows its shape.
    */
  private def storedSchema(dir: String): Option[StructType] = {
    val p = Paths.get(dir, "_SCHEMA")
    if (!Files.exists(p)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(p))
      .asInstanceOf[StructType])
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val files = Files.walk(p)
      try files.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally files.close()
    }

  /** The vacuum horizon: time travel below it returns None (its bucket
    * versions may be gone). Absent = never vacuumed.
    */
  private def horizon(dir: String): Option[Long] = {
    val p = Paths.get(dir, "_HORIZON")
    if (Files.exists(p)) Files.readString(p).trim.toLongOption else None
  }

  /** Retention (the ReplacingMergeTree TTL/merge role), adapted to
    * independent bucket versioning: keep the newest `keep`
    * committed batches readable AS OF, drop everything each bucket no
    * longer needs below that cutoff. A bucket dir older than the cutoff
    * is still REFERENCED if it is the bucket's newest version ≤ cutoff
    * (it carries the bucket's state for every retained batch until the
    * bucket's next write), so per bucket the rule is: delete versions
    * strictly older than its newest version ≤ cutoff. Global markers are
    * never deleted — they are bytes, not storage, and resolution needs
    * them for the referenced old dirs. The horizon is persisted so
    * `readSnapshotAsOf` below it refuses (None) instead of silently
    * serving buckets whose dirs were dropped. Returns the deleted
    * (bucket, version) pairs.
    */
  def vacuum(dir: String, keep: Int): Seq[(Long, Long)] = {
    require(keep >= 1, "vacuum must keep at least the latest version")
    val comm = Commit.versions(dir)
    if (comm.size <= keep) return Seq.empty
    val cutoff = comm.takeRight(keep).head
    val commSet = comm.toSet
    val dropped = allBuckets(dir).flatMap { b =>
      val vs = bucketVersions(dir, b).filter(commSet.contains).sorted
      val needed = vs.filter(_ <= cutoff).lastOption
      vs.filter(v => v < cutoff && !needed.contains(v)).map { v =>
        // every generation of the dropped version ([[compact]] may have
        // rewritten it as v=<v>.c<g>)
        versionDirs(dir, b).filter(_._1 == v).foreach(d => deleteRecursively(d._3))
        (b, v)
      }
    }
    val tmp = Paths.get(dir, "_HORIZON.tmp")
    Files.writeString(tmp, cutoff.toString)
    Files.move(tmp, Paths.get(dir, "_HORIZON"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dropped
  }

  /** Merge each fragmented bucket's CURRENT referenced version into one
    * part file — the small-file maintenance the long-lived store needs
    * (the [[Compaction]] role ported to independently-versioned buckets):
    * [[merge]] clusters its writes to one file per bucket, but a version
    * dir written by an engine without that clustering (or split by
    * `spark.sql.files.maxRecordsPerFile`) holds as many part files as the
    * writing job had tasks; [[vacuum]] drops the UNREFERENCED old versions
    * but never merges files within the referenced one.
    *
    * A bucket is picked when its newest committed version holds more than
    * one part file totalling under `targetBytes` (the same fragmentation
    * test as [[Compaction.compact]]). The rewrite commits as a COMPACTION
    * GENERATION of the same version — `bucket=<b>/v=<v>.c<g>` — via one
    * staging write + one atomic move, never a new version number: version
    * numbers are the STREAM's batch ids, and allocating one here would
    * collide with the checkpoint's next batch (whose marker-exists replay
    * check would then silently skip a real merge). Readers always take a
    * version's highest generation, so the move is the commit point and a
    * crash on either side of it leaves a correct store (before: old gen
    * serves; after: new gen serves, the superseded dir is deleted here or
    * orphaned harmlessly). Rows are identical by construction; markers,
    * untouched buckets, and time travel are untouched; replay stays a
    * no-op. Single-maintainer discipline like [[vacuum]]: do not run
    * concurrently with a merge of the same store.
    *
    * Returns the (bucket, version) pairs rewritten.
    */
  def compact(s: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Seq[(Long, Long)] = {
    val comm = Commit.versions(dir).toSet
    if (comm.isEmpty) return Seq.empty
    val staging = Paths.get(dir, "_compact_stage")
    deleteRecursively(staging) // crash leftovers from a prior attempt
    val done = allBuckets(dir).sorted.flatMap { b =>
      // reclaim crash orphans first (ADVICE r14): a prior compact that died
      // between the atomic move and this cleanup leaves a superseded
      // lower-generation dir, which the fragmentation test below would
      // otherwise skip forever on a quiescent store (readers ignore it —
      // they take the max generation — but the bytes never die). Max
      // generation always serves, so deleting the rest is safe at any point.
      versionDirs(dir, b).groupBy(_._1).values.foreach { gens =>
        val keepGen = gens.map(_._2).max
        gens.filter(_._2 < keepGen).foreach(g => deleteRecursively(g._3))
      }
      bucketLatest(dir, b, comm, Long.MaxValue).flatMap { v =>
        val dirs = versionDirs(dir, b).filter(_._1 == v)
        val cur = dirs.maxByOption(_._2)
        val files = cur.map(c => partFiles(c._3)).getOrElse(Seq.empty)
        val bytes = files.map(f => Files.size(Paths.get(f))).sum
        if (files.size <= 1 || bytes >= targetBytes) None
        else {
          val gen = cur.get._2 + 1
          val stage = staging.resolve(s"b${b}_v${v}_c$gen")
          storedSchema(dir).map(s.read.schema(_)).getOrElse(s.read)
            .parquet(files: _*).coalesce(1)
            .write.mode("overwrite").parquet(stage.toString)
          val target = Paths.get(dir, s"bucket=$b/v=$v.c$gen")
          deleteRecursively(target) // impossible unless clocks ran twice; be safe
          Files.move(stage, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          // the new gen now serves v; superseded copies are cleanup
          dirs.foreach(d => deleteRecursively(d._3))
          Some((b, v))
        }
      }
    }
    deleteRecursively(staging)
    done
  }

  /** Merge one micro-batch of flattened signed change rows: union the
    * TOUCHED buckets' current state with the batch, re-run the one-shuffle
    * merge, write back partitioned by bucket, and move only the touched
    * buckets' new version dirs into place.
    *
    * `tombstoneRetention` (version units, e.g. ms) opts into the
    * ClickHouse-sign-row / Kafka-`delete.retention.ms` store shape: the
    * state folds through [[CdcOps.logCompact]] instead of
    * [[CdcOps.snapshotLatest]], so delete tombstones persist AS ROWS until
    * they age past the retention horizon. Without it, a tombstone is
    * applied and forgotten in one merge — correct under exactly-once
    * delivery, but an at-least-once redelivery of a pre-delete change in a
    * LATER batch would resurrect the key (the [[Bootstrap]] seam makes
    * this real: the snapshot phase compacts away history that the tail may
    * redeliver). Readers always get the live-rows view.
    * Per-bucket nuance: the compaction head is the max ts over (touched
    * bucket state ∪ batch), so an untouched bucket's aged tombstones
    * survive until its next write — retention can only run LONG, never
    * short, which is the safe direction for a resurrection guard. The mode
    * is pinned in `_MODE` at creation (crossing plain↔retention would
    * corrupt state: a plain merge stamps op='r' over stored tombstones).
    */
  /** `knownTouched`: the batch's EXACT distinct bucket set, when the caller
    * already computed it (the store builder derives all batches' touched
    * sets from one job over the settled changelog instead of paying one
    * collect job per merge). Trusted — a wrong set merges against the wrong
    * state; None keeps the self-computed collect.
    */
  def merge(dir: String, keyCols: Seq[String], payloadCols: Seq[String],
      buckets: Int = DefaultBuckets, tombstoneRetention: Option[Long] = None,
      knownTouched: Option[Seq[Long]] = None)
      (batch: DataFrame, batchId: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val nb = bucketsOf(dir).getOrElse {
      Files.writeString(Paths.get(dir, "_BUCKETS"), buckets.toString)
      buckets
    }
    require(nb == buckets,
      s"store is bucketed at $nb, caller asked for $buckets — bucketing is " +
        "fixed at store creation (changing it is a rewrite)")
    val mode = if (tombstoneRetention.isDefined) "retention" else "plain"
    val modeFile = Paths.get(dir, "_MODE")
    val storedMode =
      if (Files.exists(modeFile)) Files.readString(modeFile).trim
      else {
        // _MODE absent but state committed = a store predating the _MODE
        // pin (r13 advice). The mode is a property of the STORED STATE,
        // not of this caller: infer it from the stored schema (retention
        // persists 'op' tombstone rows; plain state stores payload only
        // and re-adds op='r' at read). Stamping the caller's mode here
        // could brand a plain store 'retention', fail mid-merge on the
        // missing 'op' column, and leave the store refusing its own
        // correct mode until _MODE is hand-deleted.
        val inferred = committedPartFile(dir)
          .map { f =>
            if (batch.sparkSession.read.parquet(f).schema.fieldNames
                .contains("op")) "retention"
            else "plain"
          }
          .getOrElse(mode)
        Files.writeString(modeFile, inferred)
        inferred
      }
    require(storedMode == mode,
      s"store was created in $storedMode mode, caller asked for $mode — " +
        "tombstone handling is fixed at store creation (changing it is a rewrite)")
    // an empty batch still commits (replay bookkeeping)
    Commit.once(dir, batchId) {
      val s = batch.sparkSession
      val comm = Commit.versions(dir).filter(_ < batchId).toSet
      // touched buckets: one bounded collect (≤ #buckets rows), unless the
      // caller already knows the set
      val touched = knownTouched.getOrElse(
        batch.select(bucketOf(keyCols, nb).as("b")).distinct()
          .collect().map(_.getLong(0)).toSeq).sorted
      if (touched.nonEmpty) {
        // state resolves through the SAME generation-aware path as readers —
        // a compacted bucket's referenced version lives in v=N.cG, and reading
        // the plain v=N here would silently merge against EMPTY state
        val statePaths = touched.flatMap { b =>
          bucketLatest(dir, b, comm, batchId - 1)
            .flatMap(v => bucketStateDir(dir, b, v))
            .toSeq.flatMap(partFiles)
        }
        // state schema is fixed at store creation (_SCHEMA, written below on
        // the first merge) — pass it to the reader so every subsequent merge
        // skips the footer-sampling schema-inference job (~0.2 s/merge of
        // driver-side I/O at sf0.1, and a listing-scale cost at 100 TB; r15)
        val knownSchema = storedSchema(dir)
        def stateRaw = if (statePaths.isEmpty) None
          else Some(knownSchema.map(s.read.schema(_)).getOrElse(s.read)
            .parquet(statePaths: _*))
        val merged = tombstoneRetention match {
          case None =>
            val state = stateRaw
              .map(_.withColumn("op", lit("r")).withColumn("sign", lit(1)))
            val all = state.map(batch.unionByName(_)).getOrElse(batch)
            CdcOps.snapshotLatest(all, keyCols, "ts_ms", payloadCols)
          case Some(ret) =>
            // state rows already carry op + ts_ms; sign is derivable from op,
            // so the union drops it and logCompact keys retention off op alone
            val b = batch.drop("sign")
            val all = stateRaw.map(b.unionByName(_)).getOrElse(b)
            CdcOps.logCompact(all, keyCols, "ts_ms", payloadCols, ret)
        }
        val next = merged.withColumn("bucket", bucketOf(keyCols, nb))
        val schemaFile = Paths.get(dir, "_SCHEMA")
        if (!Files.exists(schemaFile))
          Files.writeString(schemaFile,
            StructType(next.schema.filterNot(_.name == "bucket")).json)
        val stage = Paths.get(dir, s"_stage/$batchId")
        deleteRecursively(stage)
        // Cluster the write by bucket (explicit partition count — AQE does
        // not re-coalesce a numbered repartition) so every touched bucket
        // commits as ONE part file instead of one file per write task (guide
        // §6 output sizing: the r15 store accumulated 4 files per bucket per
        // version at 32 cores — 512 files after 8 merges — and every
        // subsequent merge/read paid the per-file open+footer cost;
        // file-per-bucket is also exactly the layout [[compact]] converges
        // to). The extra exchange moves only the touched buckets' merged
        // state, the same rows the write emits.
        next.repartition(nb, col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(stage.toString)
        touched.foreach { b =>
          val src = stage.resolve(s"bucket=$b")
          val target = Paths.get(dir, s"bucket=$b/v=$batchId")
          deleteRecursively(target) // crash-replay leftovers
          Files.createDirectories(target.getParent)
          if (Files.isDirectory(src)) Files.move(src, target)
          else Files.createDirectories(target) // bucket emptied: commit it empty
        }
        deleteRecursively(stage)
      }
    }
  }

  /** Stream a CDC source into a maintained bucketed snapshot directory. */
  def start(s: SparkSession, src: CdcPipeline.Source, payloadSchema: StructType,
      keyCols: Seq[String], dir: String, checkpointDir: String,
      buckets: Int = DefaultBuckets,
      trigger: Trigger = Trigger.AvailableNow(),
      tombstoneRetention: Option[Long] = None): StreamingQuery = {
    val payloadCols = payloadSchema.fieldNames.toSeq.filterNot(keyCols.contains)
    Envelope.parse(CdcPipeline.read(s, src), payloadSchema)
      .writeStream
      .foreachBatch(merge(dir, keyCols, payloadCols, buckets, tombstoneRetention) _)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
