package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.{CdcOps, Envelope}

/** Incrementally maintained inner JOIN of two CDC-fed current-state
  * tables — the materialized-view delta rule, not a per-batch full
  * recompute. Each micro-batch first merges both sides' changes into
  * their [[BucketedSnapshot]] stores, then repairs the join store on
  * TOUCHED KEYS only:
  *
  *   J' = J − {rows whose left id ∈ ΔA keys  OR  right id ∈ ΔB keys}
  *        ∪ S′_A[ΔA keys] ⋈ S′_B
  *        ∪ S′_A[¬ΔA keys] ⋈ S′_B[ΔB keys]
  *
  * (the third term excludes re-touched left keys so no pair lands twice).
  * Work per batch is O(|Δ| · matched rows) — at 100 TB the unchanged
  * bulk of the join is never read, the way a Delta MERGE rewrites only
  * touched files. Tombstones fall out for free: a deleted key is in the
  * touched set (rows removed) and absent from its snapshot (nothing
  * re-added).
  *
  * The join store commits through [[Commit]] like the snapshot stores:
  * replays are no-ops, and a crash between the side-merges and the join
  * commit replays deterministically (the side merges are themselves
  * no-ops on replay, so the recompute sees the identical S′ and Δ).
  */
object IncrementalJoin {

  /** Merge one micro-batch of BOTH sides' flattened change rows. Right
    * columns are prefixed `b_` in the join output; the join condition is
    * `a.joinACol = b.id`.
    */
  def merge(jDir: String, aDir: String, bDir: String,
      aPayload: Seq[String], bPayload: Seq[String], joinACol: String)(
      aBatch: DataFrame, bBatch: DataFrame, batchId: Long): Unit = {
    val s = aBatch.sparkSession
    BucketedSnapshot.merge(aDir, Seq("id"), aPayload)(aBatch, batchId)
    BucketedSnapshot.merge(bDir, Seq("id"), bPayload)(bBatch, batchId)
    // a side that has never stored a row (only empty batches so far) has no
    // snapshot yet: it joins as an empty one of the same shape
    def side(dir: String, batch: DataFrame, payload: Seq[String]): DataFrame =
      BucketedSnapshot.readSnapshot(s, dir).getOrElse(
        CdcOps.snapshotLatest(batch.limit(0), Seq("id"), "ts_ms", payload))

    Commit.once(jDir, batchId) {
      val sa = side(aDir, aBatch, aPayload)
      val sb0 = side(bDir, bBatch, bPayload)
      val sb = sb0.toDF(sb0.columns.map("b_" + _): _*)
      val ka = aBatch.select(col("id")).distinct()
      val kb = bBatch.select(col("id").as("b_id")).distinct()

      val prev = Commit.before(jDir, batchId)
        .map(v => s.read.parquet(s"$jDir/v=$v"))
      val untouched = prev.map(_
        .join(broadcast(ka), Seq("id"), "left_anti")
        .join(broadcast(kb), Seq("b_id"), "left_anti"))
      val addA = sa.join(broadcast(ka), Seq("id"), "left_semi")
        .join(sb, col(joinACol) === col("b_id"))
      val addB = sa.join(broadcast(ka), Seq("id"), "left_anti")
        .join(sb.join(broadcast(kb), Seq("b_id"), "left_semi"),
          col(joinACol) === col("b_id"))
      val j = untouched.map(_.unionByName(addA).unionByName(addB))
        .getOrElse(addA.unionByName(addB))
        // canonical column order: a USING-column anti join moves its key to
        // the front, and the store's schema must not drift across versions
        .select(addA.columns.map(col).toIndexedSeq: _*)

      j.write.mode("overwrite").parquet(s"$jDir/v=$batchId")
    }
  }

  def readJoin(s: SparkSession, jDir: String): Option[DataFrame] =
    Commit.readLatest(s, jDir)

  /** Stream a multiplexed two-topic feed (envelope text files under
    * `dir/a` and `dir/b`) into a maintained join: one stream, one
    * foreachBatch routing rows by source file to the per-side parses —
    * the single-consumer form of the reference's multi-topic fan-out.
    */
  def start(s: SparkSession, dir: String,
      aSchema: StructType, bSchema: StructType,
      aPayload: Seq[String], bPayload: Seq[String], joinACol: String,
      jDir: String, aDir: String, bDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    s.readStream
      .option("recursiveFileLookup", "true")
      .text(dir)
      // route rows to their topic by source file: the _metadata column is
      // the reliable mechanism on file sources (input_file_name() is not
      // populated through foreachBatch)
      .select(col("value"), col("_metadata.file_path").as("_src"))
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val aB = Envelope.parse(
          df.filter(col("_src").contains("/a/")).select("value"), aSchema)
        val bB = Envelope.parse(
          df.filter(!col("_src").contains("/a/")).select("value"), bSchema)
        merge(jDir, aDir, bDir, aPayload, bPayload, joinACol)(aB, bB, id)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
