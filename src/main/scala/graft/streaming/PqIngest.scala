package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Similarity
import graft.functions.VectorFunctions.toDouble

/** Streaming PQ/OPQ code assignment — the compressed-codes half of the ANN
  * serving story [[IvfIngest]] started: the coarse index was maintained on
  * ingest, but the PQ/OPQ codes the ADC scan reads were batch-encoded
  * only, so a streamed corpus could be *routed* but not *scored* without a
  * batch re-encode. Here each micro-batch of new embedding vectors is
  * encoded into the SAME trained codebooks the batch `knn_pq` / `knn_opq`
  * queries use (`Similarity.pqEncodeFrame` / `opqEncodeFrame` — literal
  * codebooks in one map-side codegen'd native expression: zero shuffle,
  * zero re-training per batch), and appended to a code store through
  * [[Commit]] (idempotent, replay-safe — the Sinks convention).
  * Codes are IDENTICAL to the batch encode by construction — same
  * normalize, same rotation (OPQ), same encode expression, same trained
  * model from the per-dir cache — which PqIngestSpec pins by exact
  * equality, so an ADC scan over the streamed store scores exactly what
  * the batch index would.
  *
  * Scale: per batch the only work is O(batch × codebook) encode + one
  * append write of 6-byte-code rows; codebook refresh is a policy
  * decision, not a mechanism (retrain, swap the literals, re-encode —
  * the [[IvfIngest]] drift note applies unchanged).
  */
object PqIngest {

  /** Ingest every parquet file in `srcDir` as micro-batches of encoded
    * codes into `storeDir` (batch=N layout). `opq` picks the rotated
    * variant; the trained model comes from the engine's per-dir cache
    * (trained once, reused every batch).
    */
  def ingest(s: SparkSession, d: String, srcDir: String, storeDir: String,
      opq: Boolean = false, filesPerBatch: Int = 2): Unit = {
    val stream = s.readStream.schema(IvfIngest.embeddingSchema)
      .option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Commit.once(storeDir, id) {
          val vecs = batch.select(col("vec_id"),
            toDouble(col("embedding")).as("v"))
          val codes =
            if (opq) Similarity.opqEncodeFrame(vecs, s, d)
            else Similarity.pqEncodeFrame(vecs, s, d)
          codes.write.mode("overwrite").parquet(s"$storeDir/data/batch=$id")
          // distortion MONITOR sidecar: this batch's per-subspace
          // (n, Σd2, max) partials — the associative pieces
          // [[distortion]] folds into running codebook-quality totals that
          // equal the batch audit EXACTLY (same quantized integers from
          // the same factored rows). OPQ stores measure in the rotated
          // basis (orthogonal R: same reconstruction error — ADVICE r14:
          // previously plain-PQ-only, so the monitor on an OPQ store died
          // on a missing stats path). Written before the marker: replay
          // rewrites both or neither.
          val drows =
            if (opq) Similarity.opqDistortionRows(vecs, s, d)
            else Similarity.pqDistortionRows(vecs, s, d)
          drows
            .groupBy(col("subspace"))
            .agg(count(lit(1)).as("n_vecs"),
              sum(col("d2ppb")).as("sum_d2_ppb"),
              max(col("d2ppb")).as("max_d2_ppb"))
            .write.mode("overwrite").parquet(s"$storeDir/stats/batch=$id")
        }
        ()
      }
      .option("checkpointLocation", s"$storeDir/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Read the ingested code store (batch partition column inferred). */
  def store(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/data")

  /** The MAINTAINED codebook-quality monitor: fold every ingested batch's
    * distortion partials into current per-subspace totals — the streaming
    * twin of the batch `embed_pq_distortion` audit, equal to it EXACTLY
    * over the same corpus (integer sums are order-independent; the fold
    * is associative over batches). O(batches × subspaces) partial rows
    * read, never the vectors — the monitor costs nothing at read time,
    * and each batch paid one extra encode-shaped pass at write time.
    */
  def distortion(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/stats")
      .groupBy(col("subspace"))
      .agg(sum(col("n_vecs")).as("n_vecs"),
        expr("sum(sum_d2_ppb) div sum(n_vecs)").as("mean_d2_ppb"),
        max(col("max_d2_ppb")).as("max_d2_ppb"))
}
