package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.CdcStream
import graft.operators.Scale

/** Driver-facing CDC queries + DuckDB oracles, all over the deterministic
  * simulated orders changelog (CdcSim).
  */
object CdcQueries {

  val payloadCols = Seq("custkey", "price", "status")

  /** Deliberately parses the RAW topic frame instead of taking
    * [[CdcSim.parsedChangelog]]: with the bench cache enabled the latter is
    * the pre-parsed bronze parquet, and this query's whole point is to
    * price `from_json` over the envelope feed — it must stay a real parse
    * in every mode (identical frame either way).
    */
  def parseEnvelope(s: SparkSession, d: String): DataFrame =
    Envelope.parse(CdcSim.ordersChangelog(s, d), CdcSim.payloadSchema)

  def snapshotLatest(s: SparkSession, d: String): DataFrame =
    CdcOps.snapshotLatest(CdcSim.parsedChangelog(s, d), Seq("id"), "ts_ms", payloadCols)

  def scd2History(s: SparkSession, d: String): DataFrame =
    CdcOps.scd2(CdcSim.parsedChangelog(s, d), Seq("id"), "ts_ms")
      .select("id", "custkey", "price", "status", "valid_from", "valid_to", "is_current")

  def changelogStats(s: SparkSession, d: String): DataFrame =
    CdcOps.changelogStats(CdcSim.parsedChangelog(s, d), Seq("id"), "ts_ms")

  /** SCD2 time travel: the snapshot as of the changelog's midpoint instant
    * ((min+max) div 2 of ts_ms — a data-derived timestamp so the query is
    * meaningful at every SF). The threshold is a 1-row aggregate joined
    * back broadcast — no driver collect — and the filtered snapshot is the
    * same one-shuffle partial max_by as cdc_snapshot_latest.
    */
  def snapshotAsOf(s: SparkSession, d: String): DataFrame = {
    // one parse for both the threshold agg and the filtered snapshot
    val ch = CdcSim.parsedChangelog(s, d).transform(Scale.materialize)
    val t = ch.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("t_asof"))
    val filtered = ch.join(broadcast(t))
      .filter(col("ts_ms") <= col("t_asof")).drop("t_asof")
    CdcOps.snapshotLatest(filtered, Seq("id"), "ts_ms", payloadCols)
  }

  /** Snapshot delta (time-travel diff): the row-level reconciliation
    * between the table's state at the changelog midpoint and its latest
    * state — per change class (added / removed / changed / unchanged) the
    * key count and key range. This is the "what changed since the last
    * audit?" question a downstream consumer asks of a CDC-maintained
    * table, answered from the LOG alone (no store needed).
    *
    * Plan: ONE per-key aggregate computes BOTH table states at once — the
    * as-of-t1 state as a version-filtered `max_by(payload, ts ≤ t1 ? ts :
    * null)` (max_by skips null ordering keys, so events after the boundary
    * simply don't vote) and the latest state as the unconditional
    * `max_by(payload, ts)` — then classifies each key from the two structs
    * (null-safe `<=>` ≡ IS NOT DISTINCT FROM, the cdc_update_diff
    * discipline; keys dead in both states are outside both snapshots and
    * drop out) and rolls up to the ≤4-row class frame. One shuffle keyed
    * on id with map-side partial max_by, ZERO joins against the log.
    *
    * This replaces the round-≤10 plan (two separate one-shuffle max_by
    * snapshots + a full-outer key join) whose sf10 wall was 220 s — the
    * suite's worst superlinear entry (15.1× per 10×): at 100M events the
    * three key-hashed shuffles plus the join's two sorted sides hit the
    * local[32] spill regime. The VERDICT-suggested touched-key confinement
    * (semi-join both snapshots to keys with events after t1, count
    * `unchanged` arithmetically) was considered and rejected as dominated:
    * pricing the arithmetic `unchanged` count still needs alive-at-t1 per
    * key — itself a full per-key pass over the log — so the one-pass dual
    * max_by does strictly less work than touched-key's "cheap pass +
    * confined snapshots + join" at every scale, with the simpler plan.
    *
    * Measured: sf1 14.5→13.2 s (full-suite; 16.8 s in a cold filtered
    * run), sf10 220→158.5 s in suite context (BENCH_sf10.json) and
    * 80-99 s isolated. The remaining sf10 floor is the SIMULATED
    * changelog itself: to_json+from_json generation measures ~55 s at
    * sf10 (cdc_snapshot_latest, one agg over one parse: 58 s) — a real
    * deployment reads the topic/parquet and does not pay it. The
    * no-materialize variant (re-derive the log for the t1 branch with a
    * pruned parse) measured WORSE (136/105 s vs 80/99 s isolated), so the
    * one-materialize two-consumer shape stands.
    */
  def snapshotDelta(s: SparkSession, d: String): DataFrame = {
    val ch = CdcSim.parsedChangelog(s, d).transform(Scale.materialize)
    // anchored to the TOMBSTONE time range's midpoint (not the whole
    // log's): half the deletes land after t1, so the 'removed' class is
    // populated at every SF — the whole-log midpoint leaves it to data
    // luck (a 2-day delete lag catches ~0.1% of keys at any instant)
    val t = ch.filter(col("op") === "d")
      .agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("t1"))
    val payload = struct(col("custkey"), col("price"), col("status"), col("sign"))
    val per = ch.join(broadcast(t))
      .groupBy(col("id"))
      .agg(
        max_by(payload, when(col("ts_ms") <= col("t1"), col("ts_ms"))).as("o"),
        max_by(payload, col("ts_ms")).as("n"))
    // present in a snapshot = has a voted version AND its sign is live
    // (snapshotLatest's tombstone rule); `n` is never null (every key has
    // at least one event), `o` is null for keys born after t1
    val a1 = col("o").isNotNull && col("o.sign") === 1
    val a2 = col("n.sign") === 1
    per.select(col("id"),
        when(!a1 && a2, "added")
          .when(a1 && !a2, "removed")
          .when(a1 && a2 && col("o.custkey") <=> col("n.custkey")
            && col("o.price") <=> col("n.price")
            && col("o.status") <=> col("n.status"), "unchanged")
          .when(a1 && a2, "changed").as("change"))
      .filter(col("change").isNotNull) // dead in both states: in neither snapshot
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("id")).as("min_key"), max(col("id")).as("max_key"))
  }

  /** Time travel against the MAINTAINED store (VERSION AS OF), not the
    * event log: the changelog replays into a [[graft.streaming.BucketedSnapshot]]
    * store as [[StoreBatches]] deterministic time-sliced micro-batches
    * (batch of an event = ((ts − min_ts) · B) div (max_ts − min_ts + 1),
    * integer-exact and restated verbatim in the oracle), then the query
    * reads version [[StoreAsOfVersion]] back. The build runs once per JVM
    * per dataset into a fresh temp dir through the real commit protocol
    * (per-bucket version dirs + global marker); the READ is the point —
    * parquet dirs resolved per bucket, no log scan: the Delta/Iceberg
    * `VERSION AS OF` role, oracle-checked against the equivalent
    * log-prefix snapshot. The store-fold ≡ log-snapshot algebra is
    * separately pinned in CdcPropertySpec and, per batch on the store
    * itself, in BucketedSnapshotSpec.
    *
    * The store here is the BUCKETED one — the store you'd deploy at
    * 100 TB (per-batch write cost = touched buckets, not history). Note
    * this bench feed is the bucketed store's documented worst case: the
    * batches are TIME slices and the orders keys are uniform over the id
    * space, so every batch touches every bucket and the build degenerates
    * by construction to a full-snapshot rewrite (never worse). A real
    * CDC feed whose recent keys cluster pays per-batch work proportional
    * to the batch — that case is what BucketedSnapshotSpec pins.
    */
  val StoreBatches = 8
  val StoreAsOfVersion = 3

  private val storeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def builtStore(s: SparkSession, d: String): String =
    storeCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_snapstore_").toString
      val ch = CdcSim.parsedChangelog(s, d).transform(Scale.materialize)
      val bounds = ch.agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val t0 = bounds.getLong(0)
      val span = bounds.getLong(1) - t0 + 1
      // every batch's touched-bucket set from ONE job over the settled
      // changelog (≤ StoreBatches × buckets rows) — the per-merge
      // self-computed collect cost one extra job per batch (r16)
      val touchedAll = ch.select(
          expr(s"((ts_ms - $t0) * $StoreBatches) div $span").as("k"),
          graft.streaming.BucketedSnapshot
            .bucketOf(Seq("id"), graft.streaming.BucketedSnapshot.DefaultBuckets)
            .as("b"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, bs) => k -> bs.map(_._2).toSeq }
      for (k <- 0 until StoreBatches)
        graft.streaming.BucketedSnapshot.merge(dir, Seq("id"), payloadCols,
          knownTouched = Some(touchedAll.getOrElse(k.toLong, Seq.empty)))(
          ch.filter(expr(s"((ts_ms - $t0) * $StoreBatches) div $span = $k")), k.toLong)
      dir
    })

  /** Build (or reuse) the bucketed store for `d` eagerly — Bench calls
    * this outside the timed region so the 8 sequential merges are reported
    * as `store_build`, not charged to the first store query.
    */
  def prewarmStore(s: SparkSession, d: String): Unit = builtStore(s, d)

  def snapshotAsOfStore(s: SparkSession, d: String): DataFrame =
    graft.streaming.BucketedSnapshot
      .readSnapshotAsOf(s, builtStore(s, d), StoreAsOfVersion.toLong).get

  /** Key-id modulus of the point-lookup key set — a deterministic bounded
    * slice of the key space both engines state identically.
    */
  val PointLookupMod = 97

  /** Bucket-pruned point lookup against the MAINTAINED bucketed store —
    * the ClickHouse point-read role: the current live rows of the
    * `id ≡ 1 (mod [[PointLookupMod]])` key set (prime modulus, remainder 1
    * — a slice that intersects BOTH live and tombstoned ids; a power-of-10
    * modulus with remainder 0 would select only tombstoned keys here), answered by
    * [[graft.streaming.BucketedSnapshot.readKeys]], which opens ONLY the
    * buckets those keys hash to (read cost touched/buckets of current
    * state, never the log, never an untouched bucket — the pruning is
    * spec-asserted on input_file_name). Tombstoned keys (id % 10 = 0 in
    * the sim) are absent, exercising the delete path through the pruned
    * read. The oracle restates the key slice over the log-equivalent
    * snapshot, so a store that drifted from the log fails here too.
    */
  def storePointLookup(s: SparkSession, d: String): DataFrame = {
    val keys = graft.Tables.orders(s, d)
      .select(col("o_orderkey").as("id"))
      .filter(col("id") % PointLookupMod === 1)
    graft.streaming.BucketedSnapshot
      .readKeys(s, builtStore(s, d), Seq("id"), keys).get
  }

  /** Change-data-feed read between two committed STORE versions — the
    * Delta CDF / Iceberg incremental-changelog-scan role: "what changed
    * between version [[StoreAsOfVersion]] and now?", answered from the
    * MAINTAINED bucketed store alone (two version reads through the
    * per-bucket resolution protocol, one co-keyed full-outer join — the
    * event log is never rescanned). Every key is classed added / removed /
    * changed — `changed` compares the full stored row INCLUDING ts_ms, the
    * row-version semantics a CDF consumer keys its downstream merge on —
    * and unchanged keys are NOT emitted (a change feed carries changes);
    * the rollup is the ≤3-row class frame with key ranges. The oracle
    * restates both sides from log prefixes under the same deterministic
    * time-slice rule the store builder used, so a store that drifted from
    * the log fails the hash gate here too, independently of
    * cdc_consistency_check.
    *
    * Scale: both version reads are bucket-resolved parquet scans (no log
    * replay); the diff is one key-partitioned full-outer join + a bounded
    * rollup — the cheap "incremental consumers catch up from the store"
    * path a lake table serves.
    */
  def storeCdf(s: SparkSession, d: String): DataFrame = {
    val dir = builtStore(s, d)
    val v1 = graft.streaming.BucketedSnapshot
      .readSnapshotAsOf(s, dir, StoreAsOfVersion.toLong).get
      .select(col("id"), col("custkey").as("c1"), col("price").as("p1"),
        col("status").as("st1"), col("ts_ms").as("t1"))
    val v2 = graft.streaming.BucketedSnapshot.readSnapshot(s, dir).get
      .select(col("id"), col("custkey").as("c2"), col("price").as("p2"),
        col("status").as("st2"), col("ts_ms").as("t2"))
    v1.join(v2, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("t1").isNull, "added")
          .when(col("t2").isNull, "removed")
          .when(col("c1") <=> col("c2") && col("p1") <=> col("p2") &&
            col("st1") <=> col("st2") && col("t1") <=> col("t2"), "unchanged")
          .otherwise("changed").as("change"))
      .filter(col("change") =!= "unchanged") // a change feed carries changes
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("id")).as("min_key"), max(col("id")).as("max_key"))
  }

  /** Anti-entropy consistency audit — the reconciliation a production CDC
    * team runs between the MAINTAINED store (built incrementally through
    * the commit protocol) and the ground-truth log snapshot (one-shot
    * latest-per-key over the full changelog): a full-outer key join
    * classing every key as both-and-equal, log-only, store-only, or
    * value-mismatch. Expected output is total parity — and the oracle
    * states n_log = n_store = the snapshot cardinality COMPUTED from the
    * log (not a constant) with zero discrepancies, so any store-corruption
    * or missed-batch bug fails the hash gate, not just an eyeball check.
    *
    * Scale: both sides are key-partitioned snapshots; the audit is one
    * co-keyed full-outer join + a 1-row aggregate — the cheap periodic
    * job that buys trust in the incremental path.
    */
  def consistencyCheck(s: SparkSession, d: String): DataFrame = {
    val store = graft.streaming.BucketedSnapshot
      .readSnapshot(s, builtStore(s, d)).get
      .select(col("id"), col("custkey").as("s_custkey"), col("price").as("s_price"),
        col("status").as("s_status"), col("ts_ms").as("s_ts"))
    val log = CdcOps.snapshotLatest(
        CdcSim.parsedChangelog(s, d), Seq("id"), "ts_ms", payloadCols)
      .withColumn("in_log", lit(1))
    log.join(store.withColumn("in_store", lit(1)), Seq("id"), "full_outer")
      .agg(
        sum(coalesce(col("in_log"), lit(0))).cast("long").as("n_log"),
        sum(coalesce(col("in_store"), lit(0))).cast("long").as("n_store"),
        sum(when(col("in_store").isNull, 1).otherwise(0)).cast("long").as("log_only"),
        sum(when(col("in_log").isNull, 1).otherwise(0)).cast("long").as("store_only"),
        sum(when(col("in_log").isNotNull && col("in_store").isNotNull &&
          (col("custkey") =!= col("s_custkey") || col("price") =!= col("s_price") ||
            col("status") =!= col("s_status") || col("ts_ms") =!= col("s_ts")),
          1).otherwise(0)).cast("long").as("n_mismatch"))
  }

  /** Tombstones stay observable for one year of log time after the head —
    * long enough that the compacted topic still carries the final year's
    * deletes, so the retention filter is exercised from BOTH sides at every
    * SF (the orders dates span ~7 years).
    */
  val TombstoneRetentionMs: Long = 365L * 86400000L

  /** Kafka-cleaner log compaction of the orders topic ([[CdcOps.logCompact]]):
    * what a late-joining consumer reads — latest record per key with recent
    * tombstones retained, aged-out tombstones (and their keys) removed.
    * The reference's Kafka layer keeps its topics compacted exactly so this
    * read stays O(keys), not O(history).
    */
  def logCompact(s: SparkSession, d: String): DataFrame = {
    val ch = CdcSim.parsedChangelog(s, d).transform(Scale.materialize)
    CdcOps.logCompact(ch, Seq("id"), "ts_ms", payloadCols, TombstoneRetentionMs)
      .select("id", "op", "custkey", "price", "status", "ts_ms")
  }

  /** Temporal dimension join — "dimension state as of fact time", the
    * classic SCD2 consumption query: every lineitem joins the version of
    * its ORDER that was valid when the item shipped, then rolls up revenue
    * by that point-in-time status. Composed as a union + per-key
    * carry-forward window (one shuffle on the shared key; partitions are
    * per-order — bounded at any scale; no interval-range join, no
    * event×version blowup). Tombstones ride along as sign=-1 markers so a
    * fact shipping after its order's delete matches NO version — interval
    * semantics, not last-known-state. The oracle is structurally
    * independent: DuckDB's native ASOF JOIN over the SCD2 intervals.
    */
  def scd2DimJoin(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    val ch = CdcSim.parsedChangelog(s, d)
      .select(col("id"), col("ts_ms"), col("sign"), col("status"))
    val facts = Tables.lineitem(s, d).select(
      col("l_orderkey").as("id"),
      unix_millis(col("l_shipdate").cast("timestamp")).as("ts_ms"),
      col("l_extendedprice").as("price"))
    val unioned = ch
      .select(col("id"), col("ts_ms"), lit(0).as("is_fact"), col("sign"),
        col("status"), lit(null).cast("double").as("price"))
      .unionByName(facts.select(col("id"), col("ts_ms"), lit(1).as("is_fact"),
        lit(null).cast("int").as("sign"), lit(null).cast("string").as("status"),
        col("price")))
    // dimension events sort before facts at the same instant: a version
    // becomes visible AT its ts (valid_from <= ts), matching ASOF >=
    val w = Window.partitionBy(col("id"))
      .orderBy(col("ts_ms"), col("is_fact"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("cur_status", last(col("status"), ignoreNulls = true).over(w))
      .withColumn("cur_sign", last(col("sign"), ignoreNulls = true).over(w))
      .filter(col("is_fact") === 1 && col("cur_sign") === 1)
      .groupBy(col("cur_status").as("status_at_ship"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("price").cast("decimal(18,4)")), 2).cast("double").as("revenue"))
  }

  /** Redelivery guard: replay every event of keys with id%3==0 (simulated
    * at-least-once duplication), then count raw vs deduped per op.
    */
  def delDupGuard(s: SparkSession, d: String): DataFrame = {
    // materialize once: both union branches would otherwise re-run the whole
    // to_json→from_json simulated-changelog pipeline (measured ~2× on bench)
    val ch = CdcSim.parsedChangelog(s, d).transform(Scale.materialize)
    val redelivered = ch.unionByName(ch.filter(col("id") % 3 === 0))
    // n_dedup = distinct (id, ts_ms) within each op group — the same result
    // as dropDuplicates-then-count, in one pass over one parse of the log.
    redelivered.groupBy(col("op"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("id"), col("ts_ms")).as("n_dedup"))
  }

  /** The reference's multi-table fan-out, end to end: three topics with
    * genuinely different payload schemas and keys (orders, customer, part —
    * cdc_processor.py:16-47,139-142) each parse through the same Envelope
    * path and materialize a ReplacingMergeTree-FINAL snapshot; the result is
    * a per-table summary (keys, exact metric total, high-water version) so
    * all three heterogeneous snapshots are checked by one oracle.
    */
  def multiTableSnapshot(s: SparkSession, d: String): DataFrame = {
    def summarize(tbl: String, snap: DataFrame, metric: String): DataFrame =
      snap.agg(
        count(lit(1)).as("n_keys"),
        round(sum(col(metric).cast("decimal(18,4)")), 2).cast("double").as("total"),
        max(col("ts_ms")).as("max_ts"))
        .select(lit(tbl).as("tbl"), col("n_keys"), col("total"), col("max_ts"))
    val orders = CdcOps.snapshotLatest(
      CdcSim.parsedChangelog(s, d), Seq("id"), "ts_ms", payloadCols)
    val customer = CdcOps.snapshotLatest(
      Envelope.parse(CdcSim.customerChangelog(s, d), CdcSim.customerSchema),
      Seq("id"), "ts_ms", Seq("name", "nationkey", "bal"))
    val part = CdcOps.snapshotLatest(
      Envelope.parse(CdcSim.partChangelog(s, d), CdcSim.partSchema),
      Seq("id"), "ts_ms", Seq("ptype", "price"))
    summarize("orders", orders, "price")
      .unionByName(summarize("customer", customer, "bal"))
      .unionByName(summarize("part", part, "price"))
  }

  /** Schema evolution: the topic's payload gained a column mid-stream
    * (CdcSim.evolvedChangelog — v1 creates without `status`, v2
    * updates/deletes with it). One `from_json` under the NEWEST schema
    * reads both generations — a missing key parses as null, exactly the
    * null backfill a warehouse applies to pre-DDL rows — and the snapshot
    * then works unchanged. `schema_v` marks which generation each key's
    * LATEST event came from (fields-present heuristic; a real Debezium
    * feed also carries a registry id). Old-schema keys survive with null
    * status — they are not dropped, not defaulted, not errors.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame =
    CdcOps.snapshotLatest(
        Envelope.parse(CdcSim.evolvedChangelog(s, d), CdcSim.payloadSchema),
        Seq("id"), "ts_ms", Seq("custkey", "price", "status"))
      .withColumn("schema_v", when(col("status").isNull, 1).otherwise(2))

  /** Malformed-envelope handling: a real CDC feed carries broken messages;
    * `from_json` yields a null struct for them, so validity splits on a
    * null `op`. Deterministic garbage (one line per orders key %17==0)
    * rides along with the real changelog; the stats prove bad lines are
    * counted, not silently dropped or crashing the stream.
    */
  def malformedStats(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    val garbage = Tables.orders(s, d)
      .filter(col("o_orderkey") % 17 === 0)
      .select(concat(lit("{broken json "), col("o_orderkey")).as("value"))
    val all = CdcSim.ordersChangelog(s, d).select("value").unionByName(garbage)
    Envelope.parse(all, CdcSim.payloadSchema)
      .agg(
        count(lit(1)).as("n_total"),
        count(col("op")).as("n_valid"),
        (count(lit(1)) - count(col("op"))).as("n_malformed"),
        countDistinct(col("id")).as("n_valid_keys"))
  }

  /** Column-level change audit: for every update event, diff its payload
    * against the key's PREVIOUS event version (lag over the per-key
    * timeline) and count changes per column — "which columns actually
    * churn" is the first question a CDC consumer asks when sizing SCD2
    * columns or pruning a replication column list. Debezium's `before`
    * image answers it only when the connector ships one (REPLICA IDENTITY
    * FULL); reconstructing via lag works on any feed, and on this feed the
    * oracle knows the exact truth (updates change `status` only).
    *
    * Scale: one per-key window ordered by version — partitions bounded by
    * per-key event counts (the SCD2 discipline), then a single map-side-
    * partial aggregate to a 3-row frame; the unpivot is a stack over that
    * frame.
    */
  def updateDiff(s: SparkSession, d: String): DataFrame = {
    // op tiebreak: duplicate (id, ts_ms) pairs must diff deterministically
    // (eventsDeltaSum discipline — same reason, same cure)
    val w = Window.partitionBy(col("id")).orderBy(col("ts_ms"), col("op"))
    val diffs = CdcSim.parsedChangelog(s, d)
      .select(col("id"), col("op"), col("ts_ms"),
        col("custkey"), col("price"), col("status"))
      .withColumn("p_custkey", lag(col("custkey"), 1).over(w))
      .withColumn("p_price", lag(col("price"), 1).over(w))
      .withColumn("p_status", lag(col("status"), 1).over(w))
      .filter(col("op") === "u")
      .agg(
        sum(when(!(col("custkey") <=> col("p_custkey")), lit(1L)).otherwise(lit(0L))).as("c_custkey"),
        sum(when(!(col("price") <=> col("p_price")), lit(1L)).otherwise(lit(0L))).as("c_price"),
        sum(when(!(col("status") <=> col("p_status")), lit(1L)).otherwise(lit(0L))).as("c_status"),
        count(lit(1)).as("n"))
    diffs.select(
      expr("stack(3, 'custkey', c_custkey, 'price', c_price, 'status', c_status) AS (col_nm, n_changed)"),
      col("n").as("n_updates"))
  }

  /** Key-churn profile of the changelog: keys bucketed by how many
    * envelope events they carry (version count), with per-bucket key
    * counts, the floored mean key lifespan (last−first ts_ms), and how
    * many of the bucket's keys end deleted. The capacity-planning view a
    * CDC pipeline needs — hot keys dominate state-store compaction and
    * upsert-sink write amplification (a ReplacingMergeTree FINAL pays per
    * version), and the lifespan says how long tombstone retention must
    * hold. Scale: one per-key aggregate (map-side partial, keyed on id —
    * the table's natural key), then a ≤|distinct version counts|-row
    * rollup; divisions on the bucket frame only.
    */
  def keyChurn(s: SparkSession, d: String): DataFrame =
    CdcSim.parsedChangelog(s, d)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ops"),
        sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_upd"),
        max(when(col("op") === "d", 1L).otherwise(0L)).as("deleted"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("lifespan"))
      .groupBy(col("n_ops"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_upd")).as("n_updates"),
        sum(col("deleted")).as("n_deleted_keys"),
        expr("sum(lifespan) div count(1)").as("avg_lifespan_ms"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_key_churn" -> keyChurn,
    "cdc_update_diff" -> updateDiff,
    "cdc_parse_envelope" -> parseEnvelope,
    "cdc_snapshot_latest" -> snapshotLatest,
    "cdc_snapshot_stream" -> ((s, d) => CdcStream.snapshotViaStream(s, d)),
    "cdc_snapshot_delta" -> snapshotDelta,
    "cdc_snapshot_asof" -> snapshotAsOf,
    "cdc_log_compact" -> logCompact,
    "cdc_snapshot_asof_store" -> snapshotAsOfStore,
    "cdc_store_point_lookup" -> storePointLookup,
    "cdc_store_cdf" -> storeCdf,
    "cdc_scd2_dim_join" -> scd2DimJoin,
    "cdc_scd2_history" -> scd2History,
    "cdc_changelog_stats" -> changelogStats,
    "cdc_del_dup_guard" -> delDupGuard,
    "cdc_multi_table_snapshot" -> multiTableSnapshot,
    "cdc_malformed_stats" -> malformedStats,
    "cdc_schema_evolution" -> schemaEvolution,
    "cdc_consistency_check" -> consistencyCheck,
  )

  private val C = CdcSim.oracleCtes

  val snapshotOracle: String =
    s"""$C
       |SELECT id, custkey, price,
       |  CASE WHEN st <> 'O' THEN st ELSE 'NEW' END AS status,
       |  CASE WHEN st <> 'O' THEN ts0 + 86400000 ELSE ts0 END AS ts_ms
       |FROM base WHERE id % 10 <> 0""".stripMargin

  val oracles: Map[String, String] = Map(
    // the key-slice filter over the log-equivalent snapshot — the store
    // answers it from pruned buckets; the oracle re-derives it from the log
    "cdc_store_point_lookup" ->
      s"""WITH snap AS ($snapshotOracle)
         |SELECT * FROM snap WHERE id % $PointLookupMod = 1""".stripMargin,
    "cdc_snapshot_delta" ->
      s"""$C,
         |t AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS t1 FROM ev
         |  WHERE op = 'd'),
         |r1 AS (SELECT ev.*, row_number() OVER (PARTITION BY id
         |    ORDER BY ts_ms DESC) AS rn FROM ev, t WHERE ts_ms <= t1),
         |s1 AS (SELECT id, custkey, price, status FROM r1
         |  WHERE rn = 1 AND op <> 'd'),
         |r2 AS (SELECT ev.*, row_number() OVER (PARTITION BY id
         |    ORDER BY ts_ms DESC) AS rn FROM ev),
         |s2 AS (SELECT id, custkey, price, status FROM r2
         |  WHERE rn = 1 AND op <> 'd'),
         |j AS (SELECT coalesce(s1.id, s2.id) AS id,
         |    CASE WHEN s1.id IS NULL THEN 'added'
         |         WHEN s2.id IS NULL THEN 'removed'
         |         WHEN s1.custkey IS NOT DISTINCT FROM s2.custkey
         |          AND s1.price IS NOT DISTINCT FROM s2.price
         |          AND s1.status IS NOT DISTINCT FROM s2.status
         |           THEN 'unchanged'
         |         ELSE 'changed' END AS change
         |  FROM s1 FULL JOIN s2 ON s2.id = s1.id)
         |SELECT change, count(*) AS n_keys, min(id) AS min_key,
         |  max(id) AS max_key
         |FROM j GROUP BY 1""".stripMargin,
    "cdc_key_churn" ->
      s"""$C,
         |per AS (SELECT id, count(*) AS n_ops,
         |    count(*) FILTER (op = 'u') AS n_upd,
         |    max(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS deleted,
         |    max(ts_ms) - min(ts_ms) AS lifespan
         |  FROM ev GROUP BY 1)
         |SELECT CAST(n_ops AS BIGINT) AS n_ops, count(*) AS n_keys,
         |  CAST(sum(n_upd) AS BIGINT) AS n_updates,
         |  CAST(sum(deleted) AS BIGINT) AS n_deleted_keys,
         |  CAST(sum(lifespan) // count(*) AS BIGINT) AS avg_lifespan_ms
         |FROM per GROUP BY 1""".stripMargin,
    "cdc_update_diff" ->
      s"""$C,
         |lagd AS (SELECT op, custkey, price, status,
         |    lag(custkey) OVER (PARTITION BY id ORDER BY ts_ms, op) AS p_custkey,
         |    lag(price)   OVER (PARTITION BY id ORDER BY ts_ms, op) AS p_price,
         |    lag(status)  OVER (PARTITION BY id ORDER BY ts_ms, op) AS p_status
         |  FROM ev),
         |ag AS (SELECT
         |    CAST(sum(CASE WHEN custkey IS DISTINCT FROM p_custkey THEN 1 ELSE 0 END) AS BIGINT) AS c_custkey,
         |    CAST(sum(CASE WHEN price IS DISTINCT FROM p_price THEN 1 ELSE 0 END) AS BIGINT) AS c_price,
         |    CAST(sum(CASE WHEN status IS DISTINCT FROM p_status THEN 1 ELSE 0 END) AS BIGINT) AS c_status,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM lagd WHERE op = 'u')
         |SELECT 'custkey' AS col_nm, c_custkey AS n_changed, n AS n_updates FROM ag
         |UNION ALL SELECT 'price', c_price, n FROM ag
         |UNION ALL SELECT 'status', c_status, n FROM ag""".stripMargin,
    "cdc_parse_envelope" -> s"$C\nSELECT op, id, custkey, price, status, ts_ms, sign FROM ev",
    "cdc_consistency_check" ->
      s"""WITH snap AS (SELECT * FROM (
         |$snapshotOracle
         |))
         |SELECT CAST(count(*) AS BIGINT) AS n_log,
         |  CAST(count(*) AS BIGINT) AS n_store,
         |  CAST(0 AS BIGINT) AS log_only, CAST(0 AS BIGINT) AS store_only,
         |  CAST(0 AS BIGINT) AS n_mismatch
         |FROM snap""".stripMargin,
    "cdc_schema_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, o_custkey AS custkey, o_totalprice AS price,
        |         o_orderstatus AS st, epoch_ms(o_orderdate) AS ts0
        |  FROM orders)
        |SELECT id, custkey, price,
        |  CASE WHEN st <> 'O' THEN st ELSE NULL END AS status,
        |  CASE WHEN st <> 'O' THEN ts0 + 86400000 ELSE ts0 END AS ts_ms,
        |  CASE WHEN st <> 'O' THEN 2 ELSE 1 END AS schema_v
        |FROM base WHERE id % 10 <> 0""".stripMargin,
    "cdc_snapshot_latest" -> snapshotOracle,
    "cdc_snapshot_stream" -> snapshotOracle,
    "cdc_snapshot_asof" ->
      s"""$C,
         |t AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS t_asof FROM ev),
         |f AS (SELECT ev.* FROM ev, t WHERE ev.ts_ms <= t.t_asof),
         |snap AS (
         |  SELECT id, arg_max(custkey, ts_ms) AS custkey,
         |    arg_max(price, ts_ms) AS price, arg_max(status, ts_ms) AS status,
         |    arg_max(sign, ts_ms) AS sign, max(ts_ms) AS ts_ms
         |  FROM f GROUP BY id)
         |SELECT id, custkey, price, status, ts_ms FROM snap WHERE sign = 1""".stripMargin,
    "cdc_log_compact" ->
      s"""$C,
         |h AS (SELECT max(ts_ms) AS head_ver FROM ev),
         |latest AS (
         |  SELECT id, arg_max(op, ts_ms) AS op, arg_max(custkey, ts_ms) AS custkey,
         |    arg_max(price, ts_ms) AS price, arg_max(status, ts_ms) AS status,
         |    max(ts_ms) AS ts_ms
         |  FROM ev GROUP BY id)
         |SELECT l.id, l.op, l.custkey, l.price, l.status, l.ts_ms
         |FROM latest l, h
         |WHERE l.op <> 'd' OR l.ts_ms >= h.head_ver - $TombstoneRetentionMs""".stripMargin,
    // the store's version-v content ≡ the log-prefix snapshot over batches
    // 0..v under the SAME deterministic time-slice rule the builder used
    "cdc_snapshot_asof_store" ->
      s"""$C,
         |t AS (SELECT min(ts_ms) AS t0, max(ts_ms) - min(ts_ms) + 1 AS span FROM ev),
         |f AS (SELECT ev.* FROM ev, t
         |  WHERE ((ev.ts_ms - t.t0) * $StoreBatches) // t.span <= $StoreAsOfVersion),
         |snap AS (
         |  SELECT id, arg_max(custkey, ts_ms) AS custkey,
         |    arg_max(price, ts_ms) AS price, arg_max(status, ts_ms) AS status,
         |    arg_max(sign, ts_ms) AS sign, max(ts_ms) AS ts_ms
         |  FROM f GROUP BY id)
         |SELECT id, custkey, price, status, ts_ms FROM snap WHERE sign = 1""".stripMargin,
    // both sides restated from log prefixes under the builder's time-slice
    // rule: v1 = snapshot over batches 0..StoreAsOfVersion, v2 = the full
    // log (the last batch closes the log by construction). 'changed'
    // compares the row INCLUDING ts_ms (row-version CDF semantics).
    "cdc_store_cdf" ->
      s"""$C,
         |t AS (SELECT min(ts_ms) AS t0, max(ts_ms) - min(ts_ms) + 1 AS span FROM ev),
         |f1 AS (SELECT ev.* FROM ev, t
         |  WHERE ((ev.ts_ms - t.t0) * $StoreBatches) // t.span <= $StoreAsOfVersion),
         |g1 AS (SELECT id, arg_max(custkey, ts_ms) AS c1, arg_max(price, ts_ms) AS p1,
         |    arg_max(status, ts_ms) AS st1, arg_max(sign, ts_ms) AS sg1,
         |    max(ts_ms) AS t1
         |  FROM f1 GROUP BY id),
         |a1 AS (SELECT * FROM g1 WHERE sg1 = 1),
         |g2 AS (SELECT id, arg_max(custkey, ts_ms) AS c2, arg_max(price, ts_ms) AS p2,
         |    arg_max(status, ts_ms) AS st2, arg_max(sign, ts_ms) AS sg2,
         |    max(ts_ms) AS t2
         |  FROM ev GROUP BY id),
         |a2 AS (SELECT * FROM g2 WHERE sg2 = 1),
         |j AS (SELECT coalesce(a1.id, a2.id) AS id,
         |    CASE WHEN a1.id IS NULL THEN 'added'
         |         WHEN a2.id IS NULL THEN 'removed'
         |         WHEN a1.c1 IS NOT DISTINCT FROM a2.c2
         |          AND a1.p1 IS NOT DISTINCT FROM a2.p2
         |          AND a1.st1 IS NOT DISTINCT FROM a2.st2
         |          AND a1.t1 = a2.t2 THEN 'unchanged'
         |         ELSE 'changed' END AS change
         |  FROM a1 FULL JOIN a2 ON a2.id = a1.id)
         |SELECT change, count(*) AS n_keys, min(id) AS min_key,
         |  max(id) AS max_key
         |FROM j WHERE change <> 'unchanged' GROUP BY 1""".stripMargin,
    // structurally independent oracle: explicit disjoint-interval join over
    // the SCD2 validity windows (valid_from <= ts < valid_to), sign=1 rows
    // only. Deliberately NOT an ASOF JOIN + post-filter: DuckDB pushes a
    // WHERE on the right side INTO the asof pick, which silently rematches
    // a deleted order to its last live version — the interval form keeps
    // tombstone semantics (a fact shipping after its order's delete matches
    // nothing) under any optimizer.
    "cdc_scd2_dim_join" ->
      s"""$C,
         |v AS (SELECT id, status, sign, ts_ms AS valid_from,
         |  coalesce(lead(ts_ms) OVER (PARTITION BY id ORDER BY ts_ms),
         |    9223372036854775807) AS valid_to FROM ev),
         |f AS (SELECT l_orderkey AS id, epoch_ms(l_shipdate) AS ts,
         |  l_extendedprice AS price FROM lineitem),
         |j AS (SELECT f.price, v.status FROM f JOIN v ON f.id = v.id
         |  AND f.ts >= v.valid_from AND f.ts < v.valid_to AND v.sign = 1)
         |SELECT status AS status_at_ship, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(round(sum(CAST(price AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue
         |FROM j GROUP BY 1""".stripMargin,
    "cdc_scd2_history" ->
      s"""$C,
         |v AS (
         |  SELECT id, custkey, price, status, sign, ts_ms AS valid_from,
         |         lead(ts_ms) OVER (PARTITION BY id ORDER BY ts_ms) AS nxt
         |  FROM ev)
         |SELECT id, custkey, price, status, valid_from,
         |  coalesce(nxt, -1) AS valid_to,
         |  CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS is_current
         |FROM v WHERE sign = 1""".stripMargin,
    "cdc_changelog_stats" ->
      s"""$C
         |SELECT op, count(*) AS n_events, count(DISTINCT id) AS n_keys,
         |  min(ts_ms) AS min_ts, max(ts_ms) AS max_ts
         |FROM ev GROUP BY op""".stripMargin,
    "cdc_del_dup_guard" ->
      s"""$C,
         |redelivered AS (
         |  SELECT * FROM ev UNION ALL SELECT * FROM ev WHERE id % 3 = 0)
         |SELECT op,
         |  (SELECT count(*) FROM redelivered r WHERE r.op = ev2.op) AS n_raw,
         |  count(*) AS n_dedup
         |FROM ev ev2 GROUP BY op""".stripMargin,
    "cdc_multi_table_snapshot" ->
      s"""$C,
         |ord_snap AS (
         |  SELECT id, price,
         |    CASE WHEN st <> 'O' THEN ts0 + 86400000 ELSE ts0 END AS ts_ms
         |  FROM base WHERE id % 10 <> 0),
         |${CdcSim.customerSnapshotCte},
         |${CdcSim.partSnapshotCte}
         |SELECT 'orders' AS tbl, count(*) AS n_keys,
         |  CAST(round(sum(CAST(price AS DECIMAL(18,4))),2) AS DOUBLE) AS total,
         |  max(ts_ms) AS max_ts FROM ord_snap
         |UNION ALL
         |SELECT 'customer', count(*),
         |  CAST(round(sum(CAST(bal AS DECIMAL(18,4))),2) AS DOUBLE),
         |  max(ts_ms) FROM cu_snap
         |UNION ALL
         |SELECT 'part', count(*),
         |  CAST(round(sum(CAST(price AS DECIMAL(18,4))),2) AS DOUBLE),
         |  max(ts_ms) FROM pa_snap""".stripMargin,
    "cdc_malformed_stats" ->
      s"""$C,
         |g AS (SELECT count(*) AS n_g FROM orders WHERE o_orderkey % 17 = 0),
         |v AS (SELECT count(*) AS n_e, count(DISTINCT id) AS nk FROM ev)
         |SELECT CAST(n_e + n_g AS BIGINT) AS n_total,
         |  CAST(n_e AS BIGINT) AS n_valid,
         |  CAST(n_g AS BIGINT) AS n_malformed,
         |  CAST(nk AS BIGINT) AS n_valid_keys
         |FROM v, g""".stripMargin,
  )
}
