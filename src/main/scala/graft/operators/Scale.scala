package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale techniques as reusable operators: two-phase salted aggregation for
  * skewed keys, and bucketed co-located joins.
  *
  * These exist so the 100 TB story is code, not prose: SkewSpec proves the
  * salted plan produces identical results to the plain one, and that
  * bucketed joins eliminate the shuffle exchange.
  */
object Scale {

  /** Two-phase aggregation for skewed group keys: salt the key, partial-agg
    * per (key, salt), then merge. Works for any associative aggregate; here
    * count + sum (the shape of every mart rollup).
    *
    * At 100 TB a single hot key (one user generating millions of events)
    * would funnel into one reducer; salting spreads phase one across
    * `salts` reducers and phase two only merges `salts` rows per key.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      salts: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(crc32(col(key).cast("string")) + monotonically_increasing_id(), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(col(valueCol).cast("decimal(18,4)")).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"), round(sum(col("_s")), 2).cast("double").as("total"))

  /** Plain single-phase twin for equivalence testing. */
  def plainSumCount(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        round(sum(col(valueCol).cast("decimal(18,4)")), 2).cast("double").as("total"))

  /** Per-user event rollup, salted — driver-facing query with the plain
    * formulation as its oracle semantics.
    */
  def eventsUserStatsSalted(s: SparkSession, d: String): DataFrame =
    saltedSumCount(Tables.events(s, d), "user_id", "value")

  /** Salted equi-join for hot probe keys — the join-side twin of
    * [[saltedSumCount]]: when one fact key holds a disproportionate share
    * of rows, a plain shuffle join lands that key's entire stream on ONE
    * reducer. Here every PROBE row draws a distribution-only salt — a
    * row-content hash plus monotonically_increasing_id(), which is
    * partition-layout-dependent, so the salt value is NOT deterministic
    * across runs/retries; only its purpose (spreading a hot key's rows
    * over all `salts` reducers) matters, and the id term guarantees
    * spread even when every column of the hot key's rows is identical.
    * The BUILD side replicates ×`salts`, so the
    * join keys become (key, salt) and no reducer sees more than ~1/salts
    * of any hot key. Result-identical to the plain join BY CONSTRUCTION
    * (each probe row meets exactly one copy of each matching build row);
    * SkewSpec pins the equivalence and the replicated-build plan shape.
    *
    * This is the MANUAL fallback for the case AQE's skew-join handles
    * automatically on sort-merge plans (OptimizeSkewedJoin, enabled in
    * GraftSession) — needed when the join must stay hash-partitioned (e.g.
    * to preserve a co-partitioning downstream) or the skew is in a
    * broadcast-ineligible dimension at cluster scale. Inner joins only:
    * replicating the build side would duplicate outer-side null rows.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      salts: Int = 16): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val saltCol = Iterator.from(0).map(i => s"_js$i")
      .find(c => !probe.columns.contains(c) && !build.columns.contains(c)).get
    val salted = probe.withColumn(saltCol,
      pmod(xxhash64(probe.columns.map(col): _*) + monotonically_increasing_id(),
        lit(salts.toLong)))
    val replicated = build.withColumn(saltCol,
      explode(typedlit((0L until salts.toLong).toSeq)))
    salted.join(replicated, Seq(key, saltCol)).drop(saltCol)
  }

  /** Driver-facing salted-join query: orders ⋈ customer through the salted
    * path, rolled up per nation segment — the oracle states the PLAIN join
    * (salting is an execution strategy, not a semantic change; the rollup
    * keeps the gate row-count bounded while every joined row contributes).
    */
  def ordersCustSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ords = Tables.orders(s, d)
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    saltedJoin(ords, cust, "c_custkey")
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
  }

  // ------------------------------------------------------------- z-order
  /** Multi-dimensional clustering for scan pruning (the Delta/Iceberg
    * OPTIMIZE ZORDER role): interleave the bits of two dimension ranks so
    * range-bucketing the single z-value yields files whose min/max
    * bounding boxes are TIGHT IN BOTH dimensions — a predicate on either
    * dim prunes most files, where a single-dim sort leaves the other dim
    * spanning every file. All integer bit arithmetic (shift/mask/or),
    * identical in both engines; ZorderSpec measures the bounding-box area
    * vs a time-sorted layout. At 100 TB the dimension values would first
    * rank-compress into [[ZBits]] bits; here user ids and the hour index
    * already fit.
    */
  val ZBits = 8 // per-dimension bits AFTER rank normalization (256×256 grid)
  val ZSide = 1 << ZBits
  val ZFiles = 64
  val HourUs = 3600000000L

  /** SQL text of the interleaved z-value — built once, used verbatim by
    * the Spark plan (`expr`) and the DuckDB-equivalent form, so both
    * engines state the identical 2·ZBits-term integer expression.
    * Inputs must already be normalized to [0, ZSide): interleaving RAW
    * values of unequal cardinality degenerates the curve into a
    * major/minor sort (measured: a 4-bit user dim against a 10-bit hour
    * dim produced WORSE boxes than a plain hour sort — the dims must
    * occupy the same bit width for the curve to be genuinely 2-D).
    */
  private[graft] def zvalSql(xCol: String, yCol: String): String =
    (0 until ZBits).flatMap { i =>
      Seq(s"shiftleft(shiftright($xCol, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright($yCol, $i) & 1, ${2 * i + 1})")
    }.mkString("(", " + ", ")")

  def eventsZorderLayout(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id").as("ux"),
        expr(s"unix_micros(ts) div $HourUs").as("h"))
    val bounds = ev.agg(min(col("h")).as("_h0"), max(col("h")).as("_h1"),
      min(col("ux")).as("_u0"), max(col("ux")).as("_u1"))
    val zed = ev.join(broadcast(bounds))
      .withColumn("hx", expr("h - _h0"))
      .withColumn("un", expr(s"((ux - _u0) * $ZSide) div (_u1 - _u0 + 1)"))
      .withColumn("hn", expr(s"(hx * $ZSide) div (_h1 - _h0 + 1)"))
      .withColumn("z", expr(zvalSql("un", "hn")))
    val zmax = zed.agg(max(col("z")).as("_zmax"))
    zed.join(broadcast(zmax))
      .withColumn("file", expr(s"(z * $ZFiles) div (_zmax + 1)"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ux")).as("u_min"), max(col("ux")).as("u_max"),
        min(col("hx")).as("h_min"), max(col("hx")).as("h_max"))
  }

  /** Key-distribution skew audit per event_type — the read you take BEFORE
    * deciding a join needs salting or AQE skew handling: #keys, max-key and
    * top-10-key event shares (ppm, exact integer division), and the Gini
    * coefficient of the per-key count distribution.
    *
    * Gini = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over counts xᵢ sorted
    * ascending — rank-tie-invariant, because a block of m equal values at
    * ranks s..s+m−1 contributes v·(m·s + m(m−1)/2) regardless of intra-tie
    * order. That identity is also the scale story: the plan never ranks
    * KEYS (an all-keys sort partition per type at 100 TB); it aggregates to
    * the (type, count-value) frame — bounded by distinct count VALUES, a
    * ~√-of-total-sized set under any heavy-tailed distribution — and runs
    * the rank windows there. Top-10 share is derived from the same frame
    * (clamped take from the descending cumulative), so ties again cannot
    * disturb it. Arithmetic is DECIMAL(38,0) (n·Σx overflows BIGINT at
    * ~10⁹ keys × 10¹⁰ events; DuckDB mirrors in HUGEINT) with ONE
    * correctly-rounded double division per type — hash-exact cross-engine.
    */
  def eventsKeySkew(s: SparkSession, d: String): DataFrame = {
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val perKey = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val byVal = perKey.groupBy(col("event_type"), col("cnt"))
      .agg(count(lit(1)).as("m"))
    val wAsc = Window.partitionBy(col("event_type")).orderBy(col("cnt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.partitionBy(col("event_type")).orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val enriched = byVal
      // keys with strictly smaller count / with this count or larger
      .withColumn("mlt", coalesce(sum(col("m")).over(wAsc), lit(0L)))
      .withColumn("cumm_desc", sum(col("m")).over(wDesc))
    val agg = enriched.groupBy(col("event_type")).agg(
      sum(col("m")).as("n_keys"),
      sum(col("cnt") * col("m")).as("total_events"),
      max(col("cnt")).as("max_count"),
      // Σ i·xᵢ: each value block spans ranks (mlt+1)..(mlt+m)
      sum(dec38(col("cnt")) * (dec38(col("m")) * dec38(col("mlt") + 1)
        + dec38(expr("(m * (m - 1)) div 2")))).as("w_rank"),
      sum(when(col("cumm_desc") - col("m") < 10,
        least(lit(10L) - (col("cumm_desc") - col("m")), col("m")) * col("cnt"))
        .otherwise(0L)).as("top10_sum"))
    agg
      .withColumn("_num", dec38(lit(2)) * col("w_rank")
        - (dec38(col("n_keys")) + dec38(lit(1))) * dec38(col("total_events")))
      .withColumn("_den", dec38(col("n_keys")) * dec38(col("total_events")))
      .select(col("event_type"), col("n_keys"), col("total_events"),
        col("max_count"),
        expr("(max_count * CAST(1000000 AS BIGINT)) div total_events")
          .as("max_share_ppm"),
        expr("(top10_sum * CAST(1000000 AS BIGINT)) div total_events")
          .as("top10_share_ppm"),
        (floor((col("_num").cast("double") / col("_den").cast("double")) * lit(1e6))
          / lit(1e6)).as("gini"))
  }

  private val keySkewOracleSql: String =
    """WITH pk AS (SELECT event_type, user_id, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |rk AS (SELECT event_type, cnt,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cnt, user_id) AS i,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS j
      |  FROM pk),
      |ag AS (SELECT event_type,
      |    count(*) AS n_keys,
      |    CAST(sum(cnt) AS BIGINT) AS total_events,
      |    max(cnt) AS max_count,
      |    sum(CAST(i AS HUGEINT) * CAST(cnt AS HUGEINT)) AS w_rank,
      |    CAST(sum(CASE WHEN j <= 10 THEN cnt ELSE 0 END) AS BIGINT) AS top10_sum
      |  FROM rk GROUP BY 1)
      |SELECT event_type, n_keys, total_events, max_count,
      |  (max_count * CAST(1000000 AS BIGINT)) // total_events AS max_share_ppm,
      |  (top10_sum * CAST(1000000 AS BIGINT)) // total_events AS top10_share_ppm,
      |  floor((CAST(2 * w_rank - (CAST(n_keys AS HUGEINT) + 1) * CAST(total_events AS HUGEINT) AS DOUBLE)
      |    / CAST(CAST(n_keys AS HUGEINT) * CAST(total_events AS HUGEINT) AS DOUBLE)) * 1e6) / 1e6 AS gini
      |FROM ag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_user_stats_salted" -> eventsUserStatsSalted,
    "events_zorder_layout" -> eventsZorderLayout,
    "events_key_skew" -> eventsKeySkew,
    "orders_cust_salted_join" -> ordersCustSaltedJoin,
  )

  /** The oracle states the plain single-phase semantics — salting is an
    * execution strategy, not a semantic change.
    */
  val oracles: Map[String, String] = Map(
    "orders_cust_salted_join" ->
      """SELECT c_nationkey, c_mktsegment,
        |  count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "events_key_skew" -> keySkewOracleSql,
    "events_user_stats_salted" ->
      """SELECT user_id, count(*) AS n,
        | CAST(round(sum(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS total
        |FROM events GROUP BY 1""".stripMargin,
    // same zval expression text modulo operator spelling: DuckDB has no
    // shiftleft/shiftright functions, so the bit terms use << / >> with
    // identical semantics on BIGINT
    "events_zorder_layout" -> {
      val zduck = (0 until ZBits).flatMap { i =>
        Seq(s"((((un >> $i) & 1)) << ${2 * i})",
          s"((((hn >> $i) & 1)) << ${2 * i + 1})")
      }.mkString("(", " + ", ")")
      s"""WITH ev AS (SELECT user_id AS ux, epoch_us(ts) // $HourUs AS h FROM events),
         |b AS (SELECT min(h) AS h0, max(h) AS h1,
         |  min(ux) AS u0, max(ux) AS u1 FROM ev),
         |zed0 AS (SELECT ux, h - b.h0 AS hx,
         |  ((ux - b.u0) * $ZSide) // (b.u1 - b.u0 + 1) AS un,
         |  ((h - b.h0) * $ZSide) // (b.h1 - b.h0 + 1) AS hn
         |  FROM ev, b),
         |zed AS (SELECT ux, hx, $zduck AS z FROM zed0),
         |zm AS (SELECT max(z) AS zmax FROM zed)
         |SELECT (z * $ZFiles) // (zm.zmax + 1) AS file,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  min(ux) AS u_min, max(ux) AS u_max,
         |  min(hx) AS h_min, max(hx) AS h_max
         |FROM zed, zm GROUP BY 1""".stripMargin
    },
  )

  /** Two-phase top-k per group: hash-bucket each group's rows, take top-k
    * inside every (group, bucket) window, then a final top-k over the
    * ≤ k·buckets survivors. Result-identical to one window per group when
    * `order` is a total order (callers include a tiebreak column), and
    * `rnk` matches the single-window row_number.
    *
    * At 100 TB a per-group window sorts the ENTIRE group on one reducer —
    * a vocabulary-sized or nation-sized partition. Phase one bounds every
    * sort to group/buckets rows; the phase-two window sees at most
    * k·buckets rows per group regardless of group size.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      k: Int, saltSrc: Column, buckets: Int = 32): DataFrame = {
    require(!df.columns.contains("rnk"),
      "topKPerGroup emits a 'rnk' column; input must not already have one")
    // collision-free temp names: suffix until free of the input's columns
    val b = Iterator.from(0).map(i => s"_b$i").find(!df.columns.contains(_)).get
    val r1 = Iterator.from(0).map(i => s"_r1$i").find(!df.columns.contains(_)).get
    val gcols = groupCols.map(col)
    val pruned = df.withColumn(b, pmod(xxhash64(saltSrc), lit(buckets)))
      .withColumn(r1, row_number().over(
        Window.partitionBy(gcols :+ col(b): _*).orderBy(order: _*)))
      .filter(col(r1) <= k)
      .drop(b, r1)
    pruned.withColumn("rnk", row_number().over(
        Window.partitionBy(gcols: _*).orderBy(order: _*)))
      .filter(col("rnk") <= k)
  }

  /** One-shot materialization seam for subtrees consumed by several
    * downstream phases. Executor-local blocks by default (fast; a lost
    * executor fails the job and the retry recomputes — acceptable
    * retry-once semantics for single-pass jobs). Clusters that want a lost
    * executor to NOT fail a long job set `spark.graft.durableMaterialize=
    * true` and a checkpoint dir on durable storage
    * (`SparkContext.setCheckpointDir`) — then the same call writes a
    * reliable checkpoint instead. Iterative state (dedup_clusters) is
    * always reliable-checkpointed regardless (Dedup.durable).
    */
  def materialize(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    if (conf.getOption("spark.graft.durableMaterialize")
        .exists(_.toBoolean)) Dedup.durable(df)
    else df.localCheckpoint()
  }

  /** Run independent eager subtrees (materialize fences, superstep walks)
    * concurrently from a small thread pool and return the results in input
    * order. Spark's scheduler runs jobs from several driver threads at once
    * (FIFO — later jobs back-fill executors freed by earlier jobs' tails),
    * so K independent chains of tiny sequential jobs stop paying K× the
    * per-job latency wall. Purely an execution-order change: each thunk's
    * computation is self-contained and deterministic, so results are
    * byte-identical to the sequential evaluation (r15, guide §2.6).
    */
  def inParallel[T](thunks: Seq[() => T], slots: Int = 4): Seq[T] = {
    if (thunks.size <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(slots, thunks.size))
      try {
        val futs = thunks.map(t => pool.submit(
          new java.util.concurrent.Callable[T] { def call(): T = t() }))
        try futs.map(_.get())
        catch { case e: java.util.concurrent.ExecutionException =>
          // surface the thunk's own exception (callers match on Spark
          // exception types), and stop sibling chains before returning —
          // orphaned jobs from a failed query would otherwise keep running
          // and interleave with the caller's next query (ADVICE r15)
          futs.foreach(_.cancel(true))
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw Option(e.getCause).getOrElse(e)
        }
      } finally pool.shutdown()
    }
  }

  /** Buckets ≈ this many offset rows when prefixSum derives its own width —
    * small enough that the offsets window (one partition of #buckets rows)
    * is trivial, large enough that bucket-local sorts stay bounded.
    */
  val PrefixSumTargetBuckets = 32768L

  /** Bucketized interval join: facts (a LONG point column) joined to
    * intervals ([from, to] inclusive LONG bounds) under shared equi-keys —
    * the generic range join Spark would otherwise plan as a nested-loop.
    * The fact-time domain splits into `buckets` fixed ranges (bounds from
    * a 1-row broadcast aggregate, no driver collect); every interval
    * explodes to the buckets it overlaps (clipped to the domain, so
    * open-ended intervals cost domain/width, never ∞), facts key to their
    * single bucket, and the join runs as an equi-join on (keys, bucket)
    * with the exact range predicate as a post-filter. Each fact matches an
    * overlapping interval exactly once (its bucket is covered once per
    * interval).
    *
    * Cost model: short intervals (sessions, promo windows, validity spans
    * ≪ domain) explode to O(1) buckets each — total work ≈ facts +
    * intervals, one shuffle on (keys, bucket). Intervals comparable to
    * the whole domain explode toward `buckets` rows each; for those,
    * prefer the per-key carry-forward window (cdc_scd2_dim_join) when a
    * partition key exists.
    *
    * Fact and interval frames must not share column names beyond
    * `keyCols`.
    */
  def intervalJoin(facts: DataFrame, intervals: DataFrame, keyCols: Seq[String],
      ptCol: String, fromCol: String, toCol: String,
      buckets: Int = 4096): DataFrame = {
    val b = Iterator.from(0).map(i => s"_ib$i")
      .find(c => !facts.columns.contains(c) && !intervals.columns.contains(c)).get
    val bounds = facts.agg(min(col(ptCol)).as("_tmin"), max(col(ptCol)).as("_tmax"))
    val wSql = s"((_tmax - _tmin) div $buckets + 1)"
    val fb = facts.join(broadcast(bounds))
      .withColumn(b, expr(s"($ptCol - _tmin) div $wSql"))
      .drop("_tmin", "_tmax")
    val ib = intervals.join(broadcast(bounds))
      .filter(col(fromCol) <= col("_tmax") && col(toCol) >= col("_tmin"))
      .withColumn(b, explode(expr(
        s"sequence((greatest($fromCol, _tmin) - _tmin) div $wSql, " +
          s"(least($toCol, _tmax) - _tmin) div $wSql)")))
      .drop("_tmin", "_tmax")
    fb.join(ib, keyCols :+ b)
      .filter(col(fromCol) <= col(ptCol) && col(ptCol) <= col(toCol))
      .drop(b)
  }

  /** Distributed prefix sum (inclusive cumsum of `valueCol` in `orderCol`
    * order) — the two-phase parallel scan: range-bucket the key
    * (floor-division keeps buckets contiguous in key order), cumsum inside
    * each bucket's window, then add each bucket's offset (the cumsum of all
    * PRIOR buckets' totals — a window over #buckets rows, broadcast back).
    * Result-identical to `sum() OVER (ORDER BY orderCol)` — which at scale
    * sorts the whole table on ONE reducer; here every sort is bucket-local
    * and the only global state is one tiny row per bucket (proved equal in
    * SkewSpec at several widths).
    *
    * `bucketWidth` defaults to derived-from-data: the materialized input's
    * key RANGE (max − min) over [[PrefixSumTargetBuckets]], so the offsets
    * partition never grows past ~32k rows no matter the key range — a
    * fixed width would make it keyRange/width rows, a single-reducer
    * liability again at 10B+ keys, and a max-only rule would collapse
    * offset-clustered keys (snowflake-style ids starting at 10^12) into
    * ONE bucket, resurrecting the global sort. Callers with a known key
    * density can still pass an explicit width.
    *
    * `orderCol` must be unique and non-negative (it is the total order);
    * values sum as LONG (exact, order-independent).
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
      bucketWidth: Option[Long] = None): DataFrame = {
    require(!df.columns.contains("cum"), "prefixSum emits a 'cum' column")
    val b = Iterator.from(0).map(i => s"_pb$i").find(!df.columns.contains(_)).get
    // materialize once: the width probe, local-cumsum and bucket-totals
    // phases all consume this subtree — without it the caller's input (for
    // corpus_pack, a full-corpus tokenize) computes up to three times
    val mat = materialize(df)
    val width = bucketWidth.getOrElse {
      val row = mat.agg(min(col(orderCol).cast("long")),
        max(col(orderCol).cast("long"))).head()
      if (row.isNullAt(0)) 1L
      else math.max(1L, (row.getLong(1) - row.getLong(0)) / PrefixSumTargetBuckets + 1L)
    }
    require(width > 0, s"bucketWidth must be positive, got $width")
    // integer div, not floor(double): exact for the full long key range
    val bucketed = mat.withColumn(b,
      expr(s"CAST(`${orderCol.replace("`", "``")}` AS BIGINT) div CAST($width AS BIGINT)"))
    val local = bucketed.withColumn("cum",
      sum(col(valueCol)).over(
        Window.partitionBy(col(b)).orderBy(col(orderCol))))
    val offsets = bucketed.groupBy(col(b))
      .agg(sum(col(valueCol)).as("_tot"))
      .withColumn("_off",
        coalesce(sum(col("_tot")).over(
          Window.orderBy(col(b)).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(b), col("_off"))
    local.join(broadcast(offsets), b)
      .withColumn("cum", col("cum") + col("_off"))
      .drop(b, "_off")
  }

  /** Write both fact tables bucketed by the join key into a warehouse, then
    * join the bucketed tables — returns the joined mart. With matching
    * bucketing on both sides, Spark plans a shuffle-free sort-merge join
    * (asserted in SkewSpec).
    */
  def bucketedOrdersLineitem(s: SparkSession, d: String,
      buckets: Int = 8): DataFrame = {
    val db = "graft_buckets"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // drop any previous tables AND their orphaned locations (the metastore
    // is per-JVM but the warehouse directory persists across runs)
    for (t <- Seq("orders_b", "lineitem_b")) {
      s.sql(s"DROP TABLE IF EXISTS $db.$t")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir") + s"/$db.db/$t")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    Tables.orders(s, d).write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(s"$db.orders_b")
    Tables.lineitem(s, d).write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(s"$db.lineitem_b")
    // hint("merge"): at test scale the dims would broadcast; the bucketing
    // payoff we're demonstrating is the exchange-free sort-merge join.
    s.table(s"$db.lineitem_b").hint("merge")
      .join(s.table(s"$db.orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
  }
}
