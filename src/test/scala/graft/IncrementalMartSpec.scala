package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.CdcSim
import graft.streaming.{BucketedSnapshot, CdcPipeline, Commit, IncrementalMart}

/** The incremental aggregate mart must equal the batch aggregate of the
  * maintained snapshot after EVERY micro-batch — while only ever folding
  * touched-key deltas, never re-aggregating the snapshot. DECIMAL measures
  * make the equality exact (order of incremental additions can't drift).
  */
class IncrementalMartSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def expectedFromSnapshot(snapDir: String): DataFrame =
    BucketedSnapshot.readSnapshot(spark, snapDir).get
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(col("price").cast("decimal(18,4)")).cast("decimal(18,4)").as("total"))

  private def assertMartMatches(snapDir: String, martDir: String): Unit = {
    // localCheckpoint both sides: exceptAll directly over union/dedup trees
    // trips a Spark 4.1 BindReferences bug
    val mart = IncrementalMart.readMart(spark, martDir).get.localCheckpoint()
    val expected = expectedFromSnapshot(snapDir).localCheckpoint()
    assert(mart.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(mart).count() === 0)
  }

  test("mart tracks the snapshot aggregate across incremental file drops") {
    val tmp = Files.createTempDirectory("graft_incmart").toString
    val in = s"$tmp/in"; Files.createDirectories(Paths.get(in))
    val ch = CdcSim.ordersChangelog(spark, sf)

    def drop(name: String, filter: org.apache.spark.sql.Column): Unit = {
      ch.filter(filter).select("value").coalesce(1)
        .write.mode("overwrite").text(s"$tmp/stage_$name")
      val src = new java.io.File(s"$tmp/stage_$name").listFiles()
        .filter(_.getName.endsWith(".txt")).head
      Files.copy(src.toPath, Paths.get(in, s"$name.txt"))
    }
    def run(): Unit =
      IncrementalMart.start(spark, CdcPipeline.Files(in), CdcSim.payloadSchema,
        Seq("id"), "status", "price", s"$tmp/snap", s"$tmp/mart", s"$tmp/chk")
        .awaitTermination()

    // creates + updates first: mart must equal the mid-state aggregate
    drop("a", expr("get_json_object(value, '$.op')") =!= "d")
    run()
    assertMartMatches(s"$tmp/snap", s"$tmp/mart")

    // tombstones: deleted keys' contributions must retract
    drop("b", expr("get_json_object(value, '$.op')") === "d")
    run()
    assertMartMatches(s"$tmp/snap", s"$tmp/mart")

    // replay with the same checkpoint is a no-op
    val before = IncrementalMart.readMart(spark, s"$tmp/mart").get.collect().toSet
    run()
    assert(IncrementalMart.readMart(spark, s"$tmp/mart").get.collect().toSet === before)
  }

  test("a crash between snapshot commit and mart commit repairs on replay") {
    val tmp = Files.createTempDirectory("graft_incmart_crash").toString
    val snapDir = s"$tmp/snap"; val martDir = s"$tmp/mart"
    val payloadCols = CdcSim.payloadSchema.fieldNames.toSeq.filterNot(_ == "id")
    val all = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    val b0 = all.filter(col("op") =!= "d").localCheckpoint()
    val b1 = all.filter(col("op") === "d").localCheckpoint()

    IncrementalMart.merge(snapDir, martDir, Seq("id"), payloadCols, "status", "price")(b0, 0L)
    assertMartMatches(snapDir, martDir)

    // crash window: the snapshot commits batch 1 but the process dies
    // before the mart does
    BucketedSnapshot.merge(snapDir, Seq("id"), payloadCols)(b1, 1L)
    assert(BucketedSnapshot.latestVersion(snapDir) === Some(1L))
    assert(Commit.latest(martDir) === Some(0L))

    // the replayed foreachBatch no-ops the snapshot merge and still folds
    // the batch-1 delta against the PRE-batch version (not the snapshot's latest)
    IncrementalMart.merge(snapDir, martDir, Seq("id"), payloadCols, "status", "price")(b1, 1L)
    assert(Commit.latest(martDir) === Some(1L))
    assertMartMatches(snapDir, martDir)

    // and a second replay of the same batch id is a pure no-op
    val before = IncrementalMart.readMart(spark, martDir).get.collect().toSet
    IncrementalMart.merge(snapDir, martDir, Seq("id"), payloadCols, "status", "price")(b1, 1L)
    assert(IncrementalMart.readMart(spark, martDir).get.collect().toSet === before)
  }

  test("mart equals the batch aggregate at every random split point (seeded)") {
    // arbitrary event-level partitions of the changelog — a key's create,
    // update and delete can land in any batches in any order; the mart must
    // equal the snapshot aggregate after EVERY merge
    val payloadCols = CdcSim.payloadSchema.fieldNames.toSeq.filterNot(_ == "id")
    val all = CdcSim.parsedChangelog(spark, sf).localCheckpoint()
    for (seed <- Seq(7, 1913)) {
      val tmp = Files.createTempDirectory(s"graft_incmart_prop$seed").toString
      val nb = 2 + seed % 3
      val batches = all.withColumn("b",
        pmod(xxhash64(col("id") * 31 + col("ts_ms") + lit(seed)), lit(nb)))
      for (b <- 0 until nb) {
        IncrementalMart.merge(s"$tmp/snap", s"$tmp/mart", Seq("id"), payloadCols,
          "status", "price")(batches.filter(col("b") === b).drop("b"), b.toLong)
        assertMartMatches(s"$tmp/snap", s"$tmp/mart")
      }
    }
  }
}
