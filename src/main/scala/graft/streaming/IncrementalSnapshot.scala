package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.{CdcOps, Envelope}

/** Incrementally-maintained current-state table: the full ClickHouse
  * `ReplacingMergeTree + FINAL` role (init-clickhouse.sql) as a streaming
  * merge job. Each micro-batch of change events merges into the on-disk
  * snapshot: union(stored state, batch) → latest-version-per-key → drop
  * tombstones → write new snapshot version.
  *
  * Exactly-once: each batch writes its version to `v=<batchId>` and
  * commits it through [[Commit]]; readers and the next merge resolve the
  * latest version from the commit markers alone, so a crash before the
  * marker leaves an orphan dir that is never read and that the replay
  * overwrites.
  *
  * Scale: the merge is CdcOps.snapshotLatest (one shuffle, partial max_by).
  * The read-merge-rewrite of the full snapshot per batch is the simple
  * formulation; on a real lake the same foreachBatch body becomes a
  * Delta/Iceberg MERGE that rewrites only touched files — the streaming
  * wiring, checkpointing, and idempotence story stay identical.
  */
object IncrementalSnapshot {

  def latestVersion(dir: String): Option[Long] = Commit.latest(dir)

  /** A stored version as the LIVE-ROWS view: retention-mode stores keep
    * delete tombstones as rows (op='d') so redelivered pre-tombstone
    * changes cannot resurrect a deleted key; readers see live rows only.
    * Plain stores have no `op` column and pass through untouched.
    */
  private def liveView(df: DataFrame): DataFrame =
    if (df.columns.contains("op")) df.filter(col("op") =!= "d").drop("op")
    else df

  /** The raw stored version — tombstone rows included; the merge path needs
    * them as state.
    */
  private def readRaw(s: SparkSession, dir: String): Option[DataFrame] =
    Commit.readLatest(s, dir)

  def readSnapshot(s: SparkSession, dir: String): Option[DataFrame] =
    readRaw(s, dir).map(liveView)

  /** All committed versions, ascending — the store's time-travel index
    * (the DESCRIBE HISTORY role of a Delta/Iceberg table).
    */
  def versions(dir: String): Seq[Long] = Commit.versions(dir)

  /** Time travel: the snapshot as of version `v` — the latest committed
    * version ≤ v (VERSION AS OF semantics; batch ids are the version line).
    * None when nothing ≤ v is committed (pre-history, or vacuumed away).
    * Complements `CdcOps.snapshotAsOf`, which answers the same question at
    * an arbitrary TIMESTAMP from the full event log: this one answers it
    * in O(1) reads from the maintained store, at batch granularity.
    */
  def readSnapshotAsOf(s: SparkSession, dir: String, v: Long): Option[DataFrame] =
    versions(dir).filter(_ <= v).lastOption
      .map(x => liveView(s.read.parquet(s"$dir/v=$x")))

  /** Retention: drop all but the `keep` newest committed versions (marker
    * first, then the data dir — a crash between the two leaves an orphan
    * dir that is already invisible to readers, never a marker without
    * data). Returns the dropped version ids. The ReplacingMergeTree
    * TTL/merge role for the store.
    */
  def vacuum(dir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "vacuum must keep at least the latest version")
    val drop = versions(dir).dropRight(keep)
    drop.foreach { v =>
      Commit.forget(dir, v)
      val data = Paths.get(dir, s"v=$v")
      val files = Files.walk(data)
      try files.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally files.close()
    }
    drop
  }

  /** Merge one micro-batch of flattened signed change rows into the stored
    * snapshot. Stored rows re-enter the merge as state (op='r', sign=1) at
    * their stored version.
    *
    * `tombstoneRetention` (version units, e.g. ms) opts into the
    * ClickHouse-sign-row / Kafka-`delete.retention.ms` store shape: the
    * state is [[CdcOps.logCompact]] instead of [[CdcOps.snapshotLatest]],
    * so delete tombstones persist AS ROWS until they age past the
    * retention horizon behind the advancing log head. Without it, a
    * tombstone is applied and forgotten in one merge — correct under
    * exactly-once delivery, but an at-least-once redelivery of a
    * pre-delete change in a LATER batch would resurrect the key (the
    * Bootstrap seam makes this real: the snapshot phase compacts away
    * history that the tail may redeliver). Readers always get the
    * live-rows view; only the merge sees tombstone state.
    */
  def merge(dir: String, keyCols: Seq[String], payloadCols: Seq[String],
      tombstoneRetention: Option[Long] = None)
      (batch: DataFrame, batchId: Long): Unit = {
    Commit.once(dir, batchId) {
      val s = batch.sparkSession
      val next = tombstoneRetention match {
        case None =>
          val current = readSnapshot(s, dir)
            .map(_.withColumn("op", lit("r")).withColumn("sign", lit(1)))
          val all = current.map(batch.unionByName(_)).getOrElse(batch)
          CdcOps.snapshotLatest(all, keyCols, "ts_ms", payloadCols)
        case Some(ret) =>
          // state rows already carry op + ts_ms; sign is derivable from op,
          // so the union drops it and logCompact keys retention off op alone
          val b = batch.drop("sign")
          val all = readRaw(s, dir).map(b.unionByName(_)).getOrElse(b)
          CdcOps.logCompact(all, keyCols, "ts_ms", payloadCols, ret)
      }
      next.write.mode("overwrite").parquet(s"$dir/v=$batchId")
    }
  }

  /** Stream a CDC source into a maintained snapshot directory. */
  def start(s: SparkSession, src: CdcPipeline.Source, payloadSchema: StructType,
      keyCols: Seq[String], dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      tombstoneRetention: Option[Long] = None): StreamingQuery = {
    val payloadCols = payloadSchema.fieldNames.toSeq.filterNot(keyCols.contains)
    Envelope.parse(CdcPipeline.read(s, src), payloadSchema)
      .writeStream
      .foreachBatch(merge(dir, keyCols, payloadCols, tombstoneRetention) _)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
