package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.Envelope

/** Debezium initial-snapshot bootstrap — the two-phase start every new CDC
  * consumer performs (the reference's connector runs the default
  * `snapshot.mode=initial`, register-postgres.json: emit the whole existing
  * table as op='r' envelopes, then stream c/u/d from the WAL).
  *
  * At 100 TB the phases want DIFFERENT execution models: trickling a full
  * table copy through micro-batches would hold the stream at the snapshot
  * for hours, so the snapshot phase runs as ONE batch job (`seed`) and only
  * the tail streams (`startTail`). Both phases land in the same
  * [[BucketedSnapshot]] store through the same [[Commit]] marker protocol
  * — the seed is batch `SeedVersion = -1`, strictly before every streaming
  * batch id — so each phase is replay-safe alone and the pair is
  * replay-safe together.
  *
  * The at-least-once seam: the tail may REDELIVER changes from before the
  * snapshot cut. For live keys the per-key ts_ms max_by absorbs that; for
  * keys DELETED before the cut, a bare table snapshot has compacted the
  * tombstone away, and a redelivered create would resurrect the key. So
  * the seed must be the COMPACTED-TOPIC view — live rows plus tombstones
  * still inside the delete-retention horizon (exactly what a late-joining
  * consumer reads off a compacted Kafka topic; `CdcOps.logCompact` is that
  * view) — and the store runs in tombstone-retention mode so those
  * tombstones persist as state across tail batches until they age out.
  * BootstrapSpec pins equality with the full-log snapshot, replay
  * idempotence of both phases, and the no-resurrection property.
  */
object Bootstrap {

  /** The snapshot phase's version: strictly before every streaming batch. */
  val SeedVersion = -1L

  /** Bulk-load the snapshot phase — op='r' records for live keys plus
    * op='d' retained tombstones, i.e. the compacted-topic read — into the
    * store as one batch merge in tombstone-retention mode. Idempotent: a
    * re-run hits the SeedVersion commit marker and is a no-op.
    */
  def seed(s: SparkSession, snapshotEnvelopes: DataFrame,
      payloadSchema: StructType, keyCols: Seq[String], dir: String,
      tombstoneRetention: Long): Unit = {
    val payloadCols = payloadSchema.fieldNames.toSeq.filterNot(keyCols.contains)
    BucketedSnapshot.merge(dir, keyCols, payloadCols,
      tombstoneRetention = Some(tombstoneRetention))(
      Envelope.parse(snapshotEnvelopes, payloadSchema), SeedVersion)
  }

  /** Stream the change tail into the seeded store — BucketedSnapshot's
    * standard pipeline in the same tombstone-retention mode as the seed.
    */
  def startTail(s: SparkSession, src: CdcPipeline.Source,
      payloadSchema: StructType, keyCols: Seq[String], dir: String,
      checkpointDir: String, tombstoneRetention: Long,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BucketedSnapshot.start(s, src, payloadSchema, keyCols, dir,
      checkpointDir, trigger = trigger,
      tombstoneRetention = Some(tombstoneRetention))
}
