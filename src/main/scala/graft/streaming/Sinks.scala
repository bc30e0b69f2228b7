package graft.streaming

import org.apache.spark.sql.DataFrame

/** Exactly-once-style sinks for foreachBatch, the pattern the reference
  * approximates with checkpoint + JDBC append (cdc_processor.py:100-124).
  *
  * Structured Streaming guarantees foreachBatch sees each batchId at least
  * once (replays after failure); committing each batch through [[Commit]]
  * makes the sink idempotent, upgrading at-least-once delivery to
  * exactly-once output. At scale the commit is one tiny marker per
  * micro-batch on shared storage — negligible next to the data write.
  */
object Sinks {

  /** Write each micro-batch to `dir/batch=<id>`, skipping committed batch
    * ids (replay-safe).
    */
  def idempotentParquet(dir: String)(batch: DataFrame, batchId: Long): Unit =
    Commit.once(dir, batchId) {
      batch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }
}
