package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.Envelope

/** Incrementally-maintained aggregate mart over the CDC stream — the
  * ClickHouse `AggregatingMergeTree` role next to [[BucketedSnapshot]]'s
  * `ReplacingMergeTree`: `mart ≡ SELECT group, count(*), sum(value) FROM
  * current-snapshot GROUP BY group` after every micro-batch, maintained by
  * DELTAS, never by re-aggregating the snapshot.
  *
  * The changelog alone cannot drive this: update events carry no `before`
  * image (Debezium's default replica identity), so the retraction for a
  * key's previous contribution must come from maintained state. Each batch
  * therefore diffs the two adjacent snapshot VERSIONS restricted to the
  * batch's touched keys:
  *
  *   delta = (+1) · new-version rows of touched keys
  *         ∪ (−1) · old-version rows of touched keys
  *   mart  = Σ-merge(stored mart, Σ delta)   — groups with count 0 drop out.
  *
  * Scale: touched keys per batch ≪ snapshot, and both version reads are
  * pruned by a semi-join on them; the mart itself is one row per group.
  * Measures sum in DECIMAL(18,4), so the incremental total is bit-equal to
  * the batch aggregate regardless of addition order (proved in
  * IncrementalMartSpec).
  *
  * Exactly-once: one `v=<batchId>` mart version per batch, committed
  * through [[Commit]] AFTER the snapshot's own commit — a crash between
  * the two replays the batch, whose snapshot merge no-ops and whose mart
  * delta re-reads the SAME two committed snapshot versions
  * (`Commit.before`, not the snapshot's latest), landing the identical
  * mart.
  * Ref: init-clickhouse.sql (the mart tables), daily_report.py (the
  * report this keeps perpetually fresh).
  */
object IncrementalMart {

  def readMart(s: SparkSession, dir: String): Option[DataFrame] =
    Commit.readLatest(s, dir)

  /** foreachBatch body: merge the batch into the snapshot, then fold the
    * touched-key delta into the stored mart.
    */
  def merge(snapDir: String, martDir: String, keyCols: Seq[String],
      payloadCols: Seq[String], groupCol: String, valueCol: String)
      (batch: DataFrame, batchId: Long): Unit = {
    BucketedSnapshot.merge(snapDir, keyCols, payloadCols)(batch, batchId)
    Commit.once(martDir, batchId) {
      val s = batch.sparkSession
      val touched = batch.select(keyCols.map(col): _*).distinct()
      // an absent snapshot version (pre-history, or a store that has never
      // held a row) contributes nothing: it reads as the batch's empty shape
      def contrib(version: Option[Long], sign: Int): DataFrame =
        version.flatMap(BucketedSnapshot.readSnapshotAsOf(s, snapDir, _))
          .getOrElse(batch.limit(0))
          .join(touched, keyCols, "left_semi")
          .select(col(groupCol), lit(sign).as("sign"),
            col(valueCol).cast("decimal(18,4)").as("val"))
      val delta = contrib(Some(batchId), 1)
        .unionByName(contrib(Commit.before(snapDir, batchId), -1))
        .groupBy(col(groupCol))
        .agg(sum(col("sign")).cast("long").as("n"),
          sum(col("sign") * col("val")).cast("decimal(18,4)").as("total"))
      val merged = readMart(s, martDir)
        .map(_.unionByName(delta))
        .getOrElse(delta)
        .groupBy(col(groupCol))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("total")).cast("decimal(18,4)").as("total"))
        .filter(col("n") > 0)
      merged.write.mode("overwrite").parquet(s"$martDir/v=$batchId")
    }
  }

  /** Stream a CDC source into a maintained (snapshot, mart) pair. */
  def start(s: SparkSession, src: CdcPipeline.Source, payloadSchema: StructType,
      keyCols: Seq[String], groupCol: String, valueCol: String,
      snapDir: String, martDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val payloadCols = payloadSchema.fieldNames.toSeq.filterNot(keyCols.contains)
    Envelope.parse(CdcPipeline.read(s, src), payloadSchema)
      .writeStream
      .foreachBatch(merge(snapDir, martDir, keyCols, payloadCols, groupCol, valueCol) _)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
