package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.{CdcOps, Envelope}

/** Incrementally maintained SCD2 history: the dimension-history table
  * (valid_from / valid_to / is_current intervals per key version) kept up
  * to date per micro-batch — the history twin of [[BucketedSnapshot]]'s
  * current-state table, and the on-disk source a warehouse would serve
  * `cdc_scd2_dim_join`-style temporal joins from.
  *
  * Incremental identity (vs recomputing scd2 over the whole log): history
  * rows are immutable once closed; a batch only (a) CLOSES each touched
  * key's open interval at the batch's first event timestamp for that key,
  * and (b) APPENDS the batch's own scd2 intervals. This equals the batch
  * scd2 of the full log whenever event time is per-key monotone across
  * batches (the CDC log order; late cross-batch events would need a
  * rebuild of the affected keys — same contract as every warehouse SCD2
  * merge). Equality is proven in IncrementalScd2Spec; per-batch work is
  * O(batch + touched keys), never O(history).
  *
  * Each batch writes a full `v=<batchId>` history version and commits it
  * through [[Commit]], like [[IncrementalMart]].
  */
object IncrementalScd2 {

  def readHistory(s: SparkSession, dir: String): Option[DataFrame] =
    Commit.readLatest(s, dir)

  /** Merge one micro-batch of flattened signed change rows into the stored
    * SCD2 history.
    */
  def merge(dir: String, keyCols: Seq[String], payloadCols: Seq[String])
      (batch: DataFrame, batchId: Long): Unit = {
    Commit.once(dir, batchId) {
      val s = batch.sparkSession
      val outCols = (keyCols ++ payloadCols).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))
      val newParts = CdcOps.scd2(batch, keyCols, "ts_ms").select(outCols: _*)
      val result = readHistory(s, dir) match {
        case None => newParts
        case Some(stored) =>
          // close each touched key's open interval at the batch's first event
          // for that key — exactly what lead() would have produced in the
          // full-log scd2; untouched keys pass through byte-identical
          val firstTs = batch.groupBy(keyCols.map(col): _*)
            .agg(min(col("ts_ms")).as("_first_ts"))
          val closing = col("is_current") === 1 && col("_first_ts").isNotNull
          stored.join(firstTs, keyCols, "left")
            .withColumn("valid_to", when(closing, col("_first_ts")).otherwise(col("valid_to")))
            .withColumn("is_current", when(closing, lit(0)).otherwise(col("is_current")))
            .drop("_first_ts")
            .unionByName(newParts)
      }
      result.write.mode("overwrite").parquet(s"$dir/v=$batchId")
    }
  }

  /** Stream a CDC source into a maintained SCD2 history directory. */
  def start(s: SparkSession, src: CdcPipeline.Source,
      payloadSchema: StructType, keyCols: Seq[String], dir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val payloadCols = payloadSchema.fieldNames.toSeq.filterNot(keyCols.contains)
    Envelope.parse(CdcPipeline.read(s, src), payloadSchema)
      .writeStream
      .foreachBatch(merge(dir, keyCols, payloadCols) _)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
