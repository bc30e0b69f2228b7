package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.cdc.Envelope
import graft.streaming.{BucketedSnapshot, CdcPipeline, Sinks, StreamDedup, StreamMetrics}

/** A micro-batch as the benchmark saw it: rows after dedup and the wall
  * clock at which `merge` had committed it to the store.
  */
final case class Committed(tag: String, batchId: Long, rows: Long, storeAtMs: Long)

/** The ingest chain, driven from outside through graft's public calls:
  * file topic → `CdcPipeline.read` → `Envelope.parse` +
  * `StreamMetrics.withEnvelopeMetrics` → `StreamDedup.dedupChanges` →
  * foreachBatch { persist once → `BucketedSnapshot.merge` →
  * `Sinks.idempotentParquet` }.
  */
final class Ingest(spark: SparkSession, val tracer: Tracer, rec: Recorder) {
  val commits = new ConcurrentLinkedQueue[Committed]()

  /** Start one table's query over the topic directory `src`, with store,
    * sink and checkpoint under `root`. `tag` names its micro-batches.
    */
  def start(t: Topic, src: Path, root: Path, trigger: Trigger, tag: String): StreamingQuery = {
    val raw = CdcPipeline.read(spark, CdcPipeline.Files(src.toString))
    val parsed = StreamMetrics.withEnvelopeMetrics(Envelope.parse(raw, t.schema))
    val deduped = StreamDedup.dedupChanges(parsed, t.keyCols, t.dedupDelay)
    val fn: (DataFrame, Long) => Unit = commitBatch(t, root, tag)
    deduped.writeStream
      .queryName(t.name)
      .foreachBatch(fn)
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .trigger(trigger)
      .start()
  }

  def storeDir(root: Path): String = root.resolve("store").toString
  def sinkDir(root: Path): String = root.resolve("sink").toString

  private def commitBatch(t: Topic, root: Path, tag: String)(b: DataFrame, bid: Long): Unit = {
    val req = s"$tag:$bid"
    tracer.span("CdcPipeline.foreachBatch", req) {
      // one materialization: merge and the sink both read this cache
      // instead of re-running parse and dedup
      val batch = b.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val rows = tracer.span("StreamDedup.materialize", req)(batch.count())
        tracer.span("BucketedSnapshot.merge", req)(
          BucketedSnapshot.merge(storeDir(root), t.keyCols, t.payloadCols,
            tombstoneRetention = t.tombstoneRetention)(batch, bid))
        val at = System.currentTimeMillis()
        if (tracer.enabled && rows > 0) StoreStats.afterMerge(spark, storeDir(root), bid, rows, rec)
        if (Files.exists(Paths.get(sinkDir(root), "_manifest", bid.toString)))
          rec.add("Sinks.replays_skipped", 1)
        tracer.span("Sinks.idempotentParquet", req)(Sinks.idempotentParquet(sinkDir(root))(batch, bid))
        commits.add(Committed(tag, bid, rows, at))
      } finally batch.unpersist(false)
    }
  }
}

object Ingest {
  def data(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  def duration(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  def health(p: StreamingQueryProgress, field: String): Option[Long] =
    Option(p.observedMetrics.get(StreamMetrics.MetricName))
      .map(r => r.getAs[Any](field))
      .collect { case n: java.lang.Number => n.longValue }

  /** Per-layer readings from the engine's progress reports. */
  def recordProgress(ps: Seq[StreamingQueryProgress], rec: Recorder): Unit = {
    for (p <- data(ps)) {
      for ((m, phase) <- Seq("getBatch_ms" -> "getBatch", "planning_ms" -> "queryPlanning",
          "walCommit_ms" -> "walCommit", "addBatch_ms" -> "addBatch",
          "latestOffset_ms" -> "latestOffset", "commitOffsets_ms" -> "commitOffsets"))
        rec.sample(s"CdcPipeline.$m", duration(p, phase))
      rec.sample("CdcPipeline.rows_per_batch", p.numInputRows.toDouble)
      p.stateOperators.headOption.foreach { s =>
        rec.add("StreamDedup.rows_in", p.numInputRows.toDouble)
        rec.add("StreamDedup.late_dropped", s.numRowsDroppedByWatermark.toDouble)
        rec.sample("StreamDedup.state_rows", s.numRowsTotal.toDouble)
        rec.sample("StreamDedup.state_bytes", s.memoryUsedBytes.toDouble)
        rec.sample("StreamDedup.state_update_ms", s.allUpdatesTimeMs.toDouble)
        rec.sample("StreamDedup.state_commit_ms", s.commitTimeMs.toDouble)
      }
      health(p, "n_malformed").foreach(n => rec.add("Envelope.malformed", n.toDouble))
      health(p, "n_tombstones").foreach(n => rec.add("Envelope.tombstones", n.toDouble))
    }
  }

  /** Progress phases as spans under each batch's trigger span, with the
    * benchmark's own foreachBatch span adopted under `addBatch`.
    */
  def progressSpans(ps: Seq[StreamingQueryProgress], tag: String, tracer: Tracer): Unit = {
    val addBatch = scala.collection.mutable.Map.empty[String, Int]
    for (p <- data(ps)) {
      val req = s"$tag:${p.batchId}"
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val shift = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val start = t0 + shift
      val root = tracer.add("CdcPipeline.trigger", start,
        start + (duration(p, "triggerExecution") * 1e6).toLong, 0, req)
      var at = start
      for (phase <- Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
          "addBatch", "commitOffsets")) {
        val d = (duration(p, phase) * 1e6).toLong
        val id = tracer.add(s"CdcPipeline.$phase", at, at + d, root, req)
        if (phase == "addBatch") addBatch(req) = id
        at += d
      }
    }
    tracer.adopt("CdcPipeline.foreachBatch", addBatch.get)
  }
}

/** Write-side readings of the bucketed store, from its committed
  * `bucket=<b>/v=<id>` directories (traced run only).
  */
object StoreStats {
  private def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close() }

  private def parquet(p: Path): Seq[Path] = list(p).filter(_.toString.endsWith(".parquet"))

  def rows(spark: SparkSession, files: Seq[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def versions(bucket: Path): Seq[Long] =
    list(bucket).map(_.getFileName.toString).filter(_.startsWith("v="))
      .flatMap(_.stripPrefix("v=").toLongOption)

  def afterMerge(spark: SparkSession, dir: String, bid: Long, batchRows: Long,
      rec: Recorder): Unit = {
    val buckets = list(Paths.get(dir)).filter(_.getFileName.toString.startsWith("bucket="))
    val touched = buckets.filter(b => Files.isDirectory(b.resolve(s"v=$bid")))
    val written = touched.map(_.resolve(s"v=$bid"))
    val files = written.flatMap(parquet)
    val prior = touched.flatMap(b => versions(b).filter(_ < bid).maxOption.map(v => b.resolve(s"v=$v")))
    val nb = Files.readString(Paths.get(dir, "_BUCKETS")).trim.toDouble
    rec.sample("BucketedSnapshot.buckets_touched_ratio", touched.size / nb)
    rec.sample("BucketedSnapshot.bytes_written", written.map(bytes).sum.toDouble)
    rec.sample("BucketedSnapshot.state_bytes_read", prior.map(bytes).sum.toDouble)
    rec.sample("BucketedSnapshot.files_per_version", if (touched.isEmpty) 0.0 else files.size.toDouble / touched.size)
    if (batchRows > 0)
      rec.sample("BucketedSnapshot.rewrite_amplification", rows(spark, files).toDouble / batchRows)
  }

  /** Bytes of every bucket's newest version: the live store's footprint. */
  def storeBytes(dir: String): Long =
    list(Paths.get(dir)).filter(_.getFileName.toString.startsWith("bucket="))
      .flatMap(b => versions(b).maxOption.map(v => b.resolve(s"v=$v"))).map(bytes).sum
}
