package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.Similarity
import graft.functions.VectorFunctions.toDouble

/** Streaming IVF index maintenance — the ingestion path of an ANN
  * deployment: new embedding vectors arrive as micro-batches and are
  * quantized into the SAME trained coarse cells the batch index uses
  * (`Similarity.assignCells` — a map-side codegen'd argmax over literal
  * centroids: zero shuffle, zero re-training per batch), then appended to
  * a cell-partitioned store through [[Commit]] (idempotent, replay-safe —
  * the Sinks convention). Queries probe the store with
  * partition pruning on `cell` and serve results identical to the batch
  * `knn_ivf` once ingestion catches up (proven in IvfIngestSpec).
  *
  * Scale: per batch the only work is the O(batch × cells) assignment scan
  * and one partitioned write; the store stays balanced because the cells
  * are (ScaleStress-measured max/mean ≈ 1.2). Re-training drift is a
  * policy decision, not a mechanism: swap the centroid literals and
  * re-ingest — the machinery is unchanged.
  */
object IvfIngest {

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Ingest every parquet file in `srcDir` as micro-batches into the
    * cell-partitioned store at `storeDir` (batch=N/cell=K layout).
    */
  def ingest(s: SparkSession, d: String, srcDir: String, storeDir: String,
      filesPerBatch: Int = 2): Unit = {
    val stream = s.readStream.schema(embeddingSchema)
      .option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Commit.once(storeDir, id) {
          Similarity.assignCells(
              batch.select(col("vec_id"), toDouble(col("embedding")).as("v")), s, d)
            .select(col("vec_id"), col("v"), col("cell"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$storeDir/data/batch=$id")
        }
        ()
      }
      .option("checkpointLocation", s"$storeDir/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Read the ingested store (partition columns batch/cell inferred). */
  def store(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/data")
}
