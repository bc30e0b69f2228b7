package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Sinks

case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermarked tumbling window drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
    val tmp = Files.createTempDirectory("graft_wm").toString
    val q = agg.writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/chk").start()

    in.addData(Ev(ts(1), "a", 1.0), Ev(ts(5), "a", 2.0))
    q.processAllAvailable()
    // advance watermark far past the first window
    in.addData(Ev(ts(59), "a", 3.0))
    q.processAllAvailable()
    // late event for the long-closed first window: must be dropped
    in.addData(Ev(ts(2), "a", 100.0))
    q.processAllAvailable()
    in.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:00"), "a", 4.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_sink")
      .select(col("window.start").cast("string").as("w"), col("n"), col("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows.contains("2024-01-01 10:00:00"))
    // late 100.0 dropped: first window keeps only the two on-time events
    assert(spark.table("wm_sink").filter(col("v") === 103.0).count() === 0)
  }

  test("idempotent sink writes each batch exactly once under replay") {
    val dir = Files.createTempDirectory("graft_sink").toString
    Sinks.idempotentParquet(dir)(Seq((1, "a"), (2, "b")).toDF("id", "x"), 7L)
    // a replay of batch 7 carrying different rows must not reach the sink
    Sinks.idempotentParquet(dir)(Seq((3, "c")).toDF("id", "x"), 7L)
    assert(spark.read.parquet(s"$dir/batch=7").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    assert(new java.io.File(s"$dir/_manifest/7").exists())
  }
}
