package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.Envelope

/** Incrementally-maintained TOP-K view over the CDC-fed aggregate mart —
  * the materialized leaderboard ("top customers by revenue", "hottest
  * keys") next to [[IncrementalMart]]'s full per-group table. Top-k is the
  * canonical NON-MONOTONE view: under inserts alone the stored k rows plus
  * the batch's touched groups always contain the next top-k, but a
  * RETRACTION (delete tombstone, downward update) can evict a member and
  * promote some group the batch never touched — no bounded candidate set
  * contains the refill. The classic maintenance rule, implemented here:
  *
  *   - candidates = stored top-k (minus touched groups' stale rows)
  *                ∪ touched groups' new mart values      — O(k + batch)
  *   - if NO touched group's value decreased and no member vanished,
  *     top-k(candidates) is provably the true top-k (all untouched groups
  *     were already ≤ the stored threshold and nothing fell toward it);
  *   - otherwise RESCAN the mart (one bounded TakeOrdered over the
  *     |groups|-row aggregate frame — the mart is a corpus STATISTIC, so
  *     the repair is cheap; it is the candidate step that must not touch
  *     it per batch at 100 TB group cardinalities).
  *
  * `merge` returns whether it rescanned, so the spec can pin that
  * insert-only batches take the O(k + batch) path and only retraction
  * batches pay the repair — the property that makes the view maintainable
  * rather than recomputed.
  *
  * Exactly-once: one `v=<batchId>` version per batch committed through
  * [[Commit]], chained AFTER IncrementalMart's commit (a crash between the
  * two replays the batch: the mart merge no-ops and the top-k recomputes
  * from the SAME committed mart version). Ref: daily_report.py's ranked
  * reports — this keeps them perpetually fresh instead of
  * nightly-recomputed.
  */
object TopkMart {

  val DefaultK = 10

  def readTopk(s: SparkSession, dir: String): Option[DataFrame] =
    Commit.readLatest(s, dir)

  private def topkOf(df: DataFrame, k: Int): DataFrame =
    // deterministic total order: value desc, group asc tie-break
    df.orderBy(col("total").desc, col("g")).limit(k)

  /** foreachBatch body: maintain (snapshot, mart), then the top-k view.
    * Returns true iff this batch forced a mart rescan (retraction repair).
    */
  def merge(snapDir: String, martDir: String, topkDir: String,
      keyCols: Seq[String], payloadCols: Seq[String], groupCol: String,
      valueCol: String, k: Int = DefaultK)
      (batch: DataFrame, batchId: Long): Boolean = {
    // k is part of the view's identity, pinned at creation like
    // BucketedSnapshot's _BUCKETS: the candidate path tops up from stored-k
    // ∪ touched groups, which is only sufficient for the SAME k — a raised
    // k against an existing store would silently return short/wrong rows.
    // Validated BEFORE the mart merge (r13 advice): a k mismatch must be a
    // pure precondition failure — were it checked after, the wrong-k caller
    // would have already advanced the snapshot/mart one batch past the
    // top-k view.
    Files.createDirectories(Paths.get(topkDir))
    val kFile = Paths.get(topkDir, "_K")
    val storedK =
      if (Files.exists(kFile)) Files.readString(kFile).trim.toInt
      else { Files.writeString(kFile, k.toString); k }
    require(storedK == k,
      s"top-k store is pinned at k=$storedK, caller asked for k=$k — k is " +
        "fixed at store creation (changing it means rebuilding the view)")
    IncrementalMart.merge(snapDir, martDir, keyCols, payloadCols, groupCol,
      valueCol)(batch, batchId)
    Commit.once(topkDir, batchId) {
      val s = batch.sparkSession
      // the mart version this batch just committed, normalized to (g, n, total)
      val mart = s.read.parquet(s"$martDir/v=$batchId")
        .select(col(groupCol).as("g"), col("n"), col("total"))
      // touched groups: the groups of the batch's keys in EITHER adjacent
      // snapshot version (an update can MOVE a key between groups — both the
      // donor and the recipient group changed)
      val touchedKeys = batch.select(keyCols.map(col): _*).distinct()
      // (an absent snapshot version holds no groups, as in IncrementalMart)
      def groupsIn(version: Option[Long]): DataFrame =
        version.flatMap(BucketedSnapshot.readSnapshotAsOf(s, snapDir, _))
          .getOrElse(batch.limit(0))
          .join(touchedKeys, keyCols, "left_semi")
          .select(col(groupCol).as("g"))
      val tg = groupsIn(Some(batchId))
        .unionByName(groupsIn(Commit.before(snapDir, batchId))).distinct()
      val prevTop = Commit.before(topkDir, batchId)
        .map(v => s.read.parquet(s"$topkDir/v=$v"))
      val rescan = prevTop match {
        case None => true // first batch: nothing stored, scan the mart once
        case Some(top) =>
          // decreased = a touched group whose new value fell below its OLD
          // value when it was a stored member, or a member that vanished —
          // only then can an untouched group deserve promotion
          top.join(tg, Seq("g"), "left_semi")
            .select(col("g"), col("total").as("old_total"))
            .join(mart.select(col("g"), col("total").as("new_total")),
              Seq("g"), "left_outer")
            .filter(col("new_total").isNull || col("new_total") < col("old_total"))
            .limit(1).count() > 0
      }
      val next = if (rescan) topkOf(mart, k) else {
        val top = prevTop.get
        val kept = top.join(tg, Seq("g"), "left_anti")
        val fresh = mart.join(tg, Seq("g"), "left_semi")
        topkOf(kept.unionByName(fresh), k)
      }
      next.write.mode("overwrite").parquet(s"$topkDir/v=$batchId")
      rescan
    }.getOrElse(false)
  }

  /** Stream a CDC source into a maintained (snapshot, mart, top-k) stack. */
  def start(s: SparkSession, src: CdcPipeline.Source, payloadSchema: StructType,
      keyCols: Seq[String], groupCol: String, valueCol: String,
      snapDir: String, martDir: String, topkDir: String, checkpointDir: String,
      k: Int = DefaultK,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val payloadCols = payloadSchema.fieldNames.toSeq.filterNot(keyCols.contains)
    Envelope.parse(CdcPipeline.read(s, src), payloadSchema)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        merge(snapDir, martDir, topkDir, keyCols, payloadCols, groupCol,
          valueCol, k)(b, id); ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
