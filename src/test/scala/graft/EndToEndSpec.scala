package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cdc.CdcSim
import graft.streaming.{BucketedSnapshot, CdcPipeline}

/** The reference's whole pipeline in one test: changelog stream → envelope
  * parse → incrementally-merged current state → analytics on the state
  * (what ClickHouse + the daily report do together).
  */
class EndToEndSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("driver entry point returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("CDC stream feeds a snapshot that feeds the revenue mart") {
    val tmp = Files.createTempDirectory("graft_e2e").toString
    CdcSim.ordersChangelog(spark, sf).select("value")
      .write.mode("overwrite").text(s"$tmp/in")
    val q = BucketedSnapshot.start(spark, CdcPipeline.Files(s"$tmp/in"),
      CdcSim.payloadSchema, Seq("id"), s"$tmp/snap", s"$tmp/chk")
    q.awaitTermination()

    // analytics over the CDC-materialized state, not the source table
    val state = BucketedSnapshot.readSnapshot(spark, s"$tmp/snap").get
    val revenueByStatus = state.groupBy(col("status"))
      .agg(round(sum(col("price").cast("decimal(18,4)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n"))

    // expected, straight from the source with the simulator's rules applied
    val expected = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 10 =!= 0)
      .withColumn("status",
        when(col("o_orderstatus") =!= "O", col("o_orderstatus")).otherwise(lit("NEW")))
      .groupBy(col("status"))
      .agg(round(sum(col("o_totalprice").cast("decimal(18,4)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n"))

    assert(revenueByStatus.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(revenueByStatus).count() === 0)
  }
}
