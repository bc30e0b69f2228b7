package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.operators.Analytics

/** Batch/stream unification queries: the same aggregation logic as the
  * batch mart, executed as a Structured Streaming query over a file stream
  * of the same table — checked against the same DuckDB oracle.
  */
object StreamQueries {

  /** Shuffle/state partition count for a STATEFUL streaming query, sized
    * from the input bytes instead of the core count. `local[N]` pins
    * `spark.sql.shuffle.partitions = N`, and a stateful query instantiates
    * that many state-store partitions — each paying open/commit/maintenance
    * PER MICRO-BATCH — while AQE's byte-based coalescing never reaches
    * stateful streaming plans. That fixed cost grows with cores on tiny
    * state: the r15 inverse-scaling class (cdc_snapshot_stream read 6.8 s on
    * 32 cores vs ~2.5 s on 8). This applies AQE's own sizing rule (advisory
    * ~64 MB per partition) to the streaming state: more data → more state
    * partitions, independent of executor count — the production direction.
    */
  private[streaming] def statePartitionsFor(inputBytes: Long,
      bytesPerPartition: Long = 64L << 20): Int =
    math.min(math.max(1L,
      (inputBytes + bytesPerPartition - 1) / bytesPerPartition), 1L << 20).toInt

  /** Recursive on-disk byte size of a file or directory (local paths — the
    * file-stream sources here are always local staging dirs).
    */
  private[streaming] def pathBytes(p: java.nio.file.Path): Long = {
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
      } finally w.close()
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`, restoring
    * the previous value after — a streaming query captures the count at
    * query start, so the pin must wrap `.start()`.
    */
  private[streaming] def withShufflePartitions[T](s: SparkSession, n: Int)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Run one file-stream → Complete-mode → memory-sink query to
    * completion and return its result table, leaving no residue: the
    * symlink dir (file-stream sources want a directory, not a file) and
    * the checkpoint dir are deleted once the query terminates, and the
    * uniquely-named memory-sink view is dropped from the catalog before
    * returning — repeated calls in a long-lived session accumulate
    * nothing. Dropping the view is safe for the caller: the returned
    * Dataset's plan already resolved to the sink's in-memory relation, so
    * the data lives exactly as long as the returned frame is reachable.
    */
  private def runToMemory(s: SparkSession, prefix: String, srcFile: String,
      build: DataFrame => DataFrame): DataFrame = {
    val schema = s.read.parquet(srcFile).schema
    val inDir = Files.createTempDirectory(s"graft_${prefix}_in")
    // absolute target: a relative srcFile (e.g. `testdata-sf1/...`) would
    // resolve against the /tmp symlink dir and dangle — the file stream
    // then silently reads nothing
    Files.createSymbolicLink(inDir.resolve("events.parquet"),
      java.nio.file.Paths.get(srcFile).toAbsolutePath)
    val chkDir = Files.createTempDirectory(s"graft_${prefix}_chk")
    val sinkName =
      s"graft_${prefix}_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // state partitions sized to the input, not the core count (see
    // [[statePartitionsFor]]) — the Complete-mode agg state here is tiny
    // and per-partition store maintenance was the micro-batch wall. The pin
    // spans awaitTermination: the stream thread reads the conf when it
    // plans batch 0, which can be after start() returns.
    withShufflePartitions(s, statePartitionsFor(
        pathBytes(java.nio.file.Paths.get(srcFile).toAbsolutePath))) {
      build(s.readStream.schema(schema).parquet(inDir.toString))
        .writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", chkDir.resolve("chk").toString)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val out = s.table(sinkName)
    s.catalog.dropTempView(sinkName)
    Seq(inDir, chkDir).foreach { dir =>
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    out
  }

  /** `events_hourly` via readStream → Complete-mode agg → memory sink.
    * Identical grouping to Analytics.eventsHourly, so the driver's batch
    * oracle applies verbatim.
    */
  def eventsHourlyStream(s: SparkSession, d: String): DataFrame =
    runToMemory(s, "hourly", s"$d/events.parquet", { raw =>
      val ev =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(CAST(floor(ts / 1000) AS LONG))"))
        else raw
      Analytics.hourlyAgg(ev)
    })

  /** `events_quantile_sketch` with the SKETCH BUILD running as a streaming
    * aggregation: the (event_type, bucket) counter table is the only
    * stateful part — a Complete-mode count-agg holding ≤ ~512 rows per type
    * no matter how long the stream runs (counter merge is addition, so each
    * micro-batch partial-aggregates and folds into state like any running
    * count). Quantile extraction + the exact audit run on the materialized
    * sketch — the same split a live dashboard makes. The batch oracle
    * applies verbatim: the stream must land the exact same bucket table.
    */
  def eventsQuantileStream(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sketches
    val buckets = runToMemory(s, "qsk", s"$d/events.parquet",
      raw => Sketches.quantileBuckets(Sketches.quantileCents(raw)))
    Sketches.quantileExtract(buckets,
      Sketches.quantileCents(graft.Tables.events(s, d)))
  }

  /** `events_ab_test` with the experiment STATE maintained by the stream:
    * the per-user conditional purchase totals are a Complete-mode
    * decimal-sum agg (one running row per user — decimal addition is the
    * order-independent monoid, so micro-batch partials fold into state
    * exactly like any running count); variant assembly + Welch z run on
    * the materialized per-user table. This is how a live experiment
    * dashboard actually updates — fold the batch into per-user moments,
    * never rescan history. The batch oracle applies verbatim.
    */
  def eventsAbStream(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Experiments
    val um = runToMemory(s, "ab", s"$d/events.parquet", Experiments.abUserTotals)
    Experiments.abFromUserTotals(um)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_hourly_stream" -> eventsHourlyStream,
    "events_quantile_stream" -> eventsQuantileStream,
    "events_ab_stream" -> eventsAbStream,
  )

  val oracles: Map[String, String] = Map(
    "events_hourly_stream" -> Analytics.oracles("events_hourly"),
    "events_quantile_stream" -> graft.operators.Sketches.oracles("events_quantile_sketch"),
    "events_ab_stream" -> graft.operators.Experiments.abOracleSql,
  )
}
