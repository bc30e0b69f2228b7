package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.cdc.{CdcSim, Envelope}

/** One flattened change event from the simulated orders CDC topic. */
case class OrderChange(id: Long, custkey: Long, price: Double, status: String,
    op: String, ts_ms: Long, sign: Int)

/** Keyed upsert state: the latest known row version (+ tombstone flag). */
case class OrderState(id: Long, custkey: Long, price: Double, status: String,
    ts_ms: Long, deleted: Boolean)

/** The reference's streaming path (cdc_processor.py:58-126) rebuilt on
  * Structured Streaming with *stateful* semantics: instead of append-only
  * signed rows merged later by ClickHouse, the stream itself maintains the
  * current row version per key via flatMapGroupsWithState.
  *
  * Scale: state is hash-partitioned by key across executors; each key holds
  * one fixed-size state row, so state size is O(live keys) regardless of
  * changelog length. AvailableNow triggers give batch-backfill with the same
  * code path as the live stream.
  */
object CdcStream {

  /** Fold a micro-batch of changes into per-key state, emitting the state
    * after each batch (Update mode). Max-version wins; ties impossible by
    * CdcSim construction.
    */
  def upsert(id: Long, changes: Iterator[OrderChange],
      state: GroupState[OrderState]): Iterator[OrderState] = {
    var cur = state.getOption.orNull
    changes.foreach { ch =>
      if (cur == null || ch.ts_ms > cur.ts_ms)
        cur = OrderState(ch.id, ch.custkey, ch.price, ch.status, ch.ts_ms, ch.sign == -1)
    }
    if (cur == null) Iterator.empty
    else { state.update(cur); Iterator.single(cur) }
  }

  def parseStream(lines: DataFrame): Dataset[OrderChange] = {
    import lines.sparkSession.implicits._
    Envelope.parse(lines, CdcSim.payloadSchema).as[OrderChange]
  }

  /** End-to-end streaming snapshot: materialize the simulated changelog to
    * files, stream it back through parse → keyed upsert → memory sink
    * (Trigger.AvailableNow), and return the final snapshot — semantically
    * identical to CdcOps.snapshotLatest, which is exactly what the DuckDB
    * oracle checks.
    */
  def snapshotViaStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_cdc_stream").toString
    CdcSim.ordersChangelog(s, d).select("value").write.mode("overwrite").text(s"$tmp/in")

    val lines = s.readStream.text(s"$tmp/in")
    val sinkName = "graft_cdc_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // flatMapGroupsWithState instantiates spark.sql.shuffle.partitions state
    // stores per micro-batch; size them to the staged changelog's bytes, not
    // the core count (StreamQueries.statePartitionsFor — the r15
    // inverse-scaling fix: 6.8 s at 32 cores vs ~2.5 s at 8 on sf0.1's tiny
    // state). Unlike the Complete-agg twins (map-side partials shrink rows
    // before the stateful exchange), this operator folds EVERY change row in
    // the stateful stage, so the per-partition budget is 4 MB of changelog
    // text — enough compute per task to amortize store open/commit, small
    // enough that the fold stays parallel. The pin spans awaitTermination:
    // batch 0 is planned on the stream thread, possibly after start()
    // returns.
    StreamQueries.withShufflePartitions(s, StreamQueries.statePartitionsFor(
        StreamQueries.pathBytes(java.nio.file.Paths.get(tmp, "in")),
        bytesPerPartition = 4L << 20)) {
      parseStream(lines)
        .groupByKey(_.id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(upsert)
        .writeStream
        .format("memory")
        .queryName(sinkName)
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

    // The staged changelog and checkpoint are consumed; materialize the sink
    // rows (they live in the block manager, not on the temp path — but the
    // final agg below reads the sink table lazily, so drop the dir only
    // after the caller's action cannot need it: the memory sink's relation
    // is fully in memory once awaitTermination returns) and reclaim the
    // temp dir instead of leaking ~30 MB per call (r16 hygiene).
    {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(java.nio.file.Paths.get(tmp))
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }

    // Update mode emits one state row per (key, batch); keep the final one.
    s.table(sinkName)
      .groupBy(col("id"))
      .agg(max_by(col("custkey"), col("ts_ms")).as("custkey"),
        max_by(col("price"), col("ts_ms")).as("price"),
        max_by(col("status"), col("ts_ms")).as("status"),
        max_by(col("deleted"), col("ts_ms")).as("deleted"),
        max(col("ts_ms")).as("ts_ms"))
      .filter(!col("deleted"))
      .drop("deleted")
  }
}
