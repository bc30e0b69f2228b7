package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics in the PageRank shape: each superstep is one
  * join (ranks onto out-edges) plus one aggregation (contributions by
  * destination), with the iteration state materialized between steps —
  * the Pregel execution pattern expressed as plain declarative Spark
  * plans. The graph is part co-purchase: parts are linked when they
  * appear in the same order.
  *
  * Arithmetic is LONG FIXED-POINT (PrScale units) end to end: every
  * operation is an integer multiply/divide/sum, so the computation is
  * deterministic BY CONSTRUCTION and the DuckDB oracle can restate the
  * identical unrolled iterations — no float-summation order hazard, which
  * is otherwise fatal to cross-engine parity in iterative numeric
  * algorithms (a double contribution sum is accumulation-order-dependent
  * and Spark's partial aggregation order is not the oracle's). The
  * truncation the integer divisions introduce is part of the stated
  * algorithm, not noise: both engines truncate identically, and the
  * result approximates real PageRank to ~1e-6 of total mass.
  *
  * Scale: edges/degrees/nodes build once — the per-order quadratic is
  * bounded by the same > [[Analytics.MaxBasket]] wholesale-basket guard
  * part_cosim uses (restated in both oracles, dormant at test scale:
  * sf0.1's widest basket is ~7 lines); a guarded-out part keeps its node
  * (it dangles and keeps teleport mass) but contributes no edges. The
  * graph lives as node-keyed ADJACENCY rows (src, degree, dsts[]) built in
  * one shuffle and materialized once; each superstep then moves only the
  * node-sized rank frame onto it and the map-side-combined (dst, partial
  * contribution) rows out of it — the edge relation itself never travels
  * again. Dangling parts (single-item orders only) keep the teleport mass
  * and drop out of the contribution join. The final top-k routes through
  * the two-phase bucketed operator.
  */
object Graph {

  val PrScale = 1000000000000L // 1e12 fixed-point units of rank mass
  val PrIters = 5
  val PrTopK = 100

  /** PageRank's settled pre-loop state — split from the loop so edge build
    * and supersteps can be timed apart on the exact production frames.
    */
  private[graft] case class PrState(nodes: DataFrame, nn: DataFrame, adj: DataFrame)

  def partPagerank(s: SparkSession, d: String): DataFrame =
    pagerankLoop(pagerankState(s, d))

  private[graft] def pagerankState(s: SparkSession, d: String): PrState = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .transform(Scale.materialize)
    // nodes and adjacency are independent chains off the settled li frame —
    // overlap their materializations (r15, Scale.inParallel)
    lazy val nodesThunk = Scale.materialize(
      li.select(col("l_partkey").as("p")).distinct()
        .repartition(col("p"))) // align once: superstep contrib joins key on p
    // ADJACENCY-LIST layout (r12 — the GraphX/Pregel edge-partition shape):
    // one (src, d, dsts[]) row per source. Two things follow at scale:
    // (1) the materialized loop state is node-sized rows of packed long
    // arrays — ~10× smaller in cache than row-per-edge (at sf10 the
    // 213M-row edge frame held deserialized blew the storage pool and every
    // superstep re-read disk-spilled blocks: 583 s; the array layout keeps
    // the whole graph resident); (2) each superstep's rank join probes
    // |nodes| rows instead of |edges| rows — the edge fan-out happens AFTER
    // the join as a map-side explode feeding the partially-aggregated
    // contribution shuffle, so per superstep only the node-sized rank frame
    // and the combined (dst, partial-sum) rows ever travel. Degree skew is
    // bounded by co-purchase fan-out (a hot part's array is |neighbors|
    // longs on one row — megabytes at worst, never a partition).
    //
    // BUILD (r14 — the round-13 verdict's one weak item, the 6.8×-per-10×
    // edge build): pairs are generated MAP-SIDE from per-order basket
    // arrays ([[orderBaskets]] — one orderkey shuffle that also subsumes
    // the basket-guard window) and flow straight into a partially-
    // aggregated collect_set on src — duplicate (src,dst) pairs from
    // repeat co-purchase collapse in the map-side partial, so the one
    // remaining shuffle moves near-deduplicated sets, not raw pairs. This
    // replaces the r12 self-join → distinct → collect_list chain: four
    // pair-sized exchanges (join×2, distinct, groupBy) become one.
    // Neighbor-array ORDER is set-nondeterministic, which is immaterial:
    // the loop only reads size(dsts) and sums integer contributions over
    // an explode — both order-free.
    val two = Scale.inParallel[DataFrame](Seq(
      () => nodesThunk,
      () => Scale.materialize(orderBaskets(li)
        .select(explode(col("parts")).as("src"), col("parts"))
        .select(col("src"), explode(col("parts")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"))
        .agg(collect_set(col("dst")).as("dsts"))
        .select(col("src"), size(col("dsts")).cast("long").as("d"),
          col("dsts")))), slots = 2)
    val (nodes, adj) = (two(0), two(1))
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    PrState(nodes, nn, adj)
  }

  private[graft] def pagerankLoop(st: PrState): DataFrame = {
    val PrState(nodes, nn, adj) = st
    // Rank init is one map over the materialized nodes — no checkpoint of
    // its own (lineage depth 1; superstep 1 reads it once).
    var ranks = nodes.join(broadcast(nn))
      .select(col("p"), expr(s"$PrScale div n_nodes").as("r"))
    // No per-round materialize fence: each rank frame is consumed EXACTLY
    // once (by the next round's contribution join — unlike the LPA loop,
    // where labels feed both the vote join and the carry-forward), so the
    // lineage is linear and the whole [[PrIters]]-round chain evaluates as
    // ONE job with no recomputation — five checkpoint jobs' latency and
    // five pinned node-sized block sets gone (r16; the Pregel state fence
    // is only load-bearing when a round's state fans out).
    for (_ <- 1 to PrIters) {
      val contrib = adj.join(ranks, col("src") === col("p"))
        .select(explode(col("dsts")).as("dst"), expr("r div d").as("rc"))
        .groupBy(col("dst"))
        .agg(sum(col("rc")).as("c"))
      ranks = nodes.join(broadcast(nn))
        .join(contrib, col("p") === col("dst"), "left_outer")
        .select(col("p"),
          (expr(s"(15 * $PrScale) div (100 * n_nodes)") +
            expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    Scale.topKPerGroup(ranks, Seq.empty, Seq(col("r").desc, col("p")),
        k = PrTopK, saltSrc = col("p"))
      .select(col("p").as("p_partkey"), col("r").as("rank_fp"),
        col("rnk").as("rank"))
  }

  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007) over the same co-purchase graph: every node starts as its own
    * label; each superstep re-labels a node with the most frequent label
    * among its neighbors, ties broken by the SMALLEST label — a total
    * order, so the synchronous update is fully deterministic and the
    * DuckDB oracle restates the identical unrolled rounds. Fixed
    * [[LpIters]] rounds (synchronous LPA may oscillate on bipartite
    * structure; a fixed horizon keeps the output well-defined — the spec
    * checks against a driver-side reference of the same recipe, not
    * against a convergence claim).
    *
    * The co-purchase graph is near-complete at weight 1 (any two parts
    * sharing ANY order), which collapses LPA to one global label —
    * measured: 2 communities at sf0.01. The graph that HAS community
    * structure is the REPEAT-co-purchase graph: edge weight = number of
    * shared orders, kept when ≥ [[LpMinWeight]] (the association-rule
    * support floor), votes weighted by it. That also removes ~97% of the
    * edges before any superstep runs.
    *
    * Scale: per superstep, one edge⋈label join (edges stay put — the same
    * materialized src-partitioned layout PageRank uses) + one (dst, lbl)
    * sum-agg (map-side partial) + one per-dst window over that node's
    * DISTINCT NEIGHBOR LABELS — degree-bounded, never corpus-sized.
    * Nodes without a surviving edge keep their own label (left join).
    */
  val LpIters = 4
  val LpMinWeight = 2

  /** Edge-build input with the part_cosim wholesale-basket guard: baskets
    * wider than [[Analytics.MaxBasket]] distinct parts are excluded from
    * the per-order self-join (they link everything to everything while
    * carrying no co-purchase signal, and make the edge build quadratic in
    * one pathological order). Nodes are NOT built from this frame — a
    * guarded-out part stays in the graph, edgeless. Restated verbatim in
    * both oracles; dormant at test scale.
    */
  /** The window-guarded row-per-(order, part) frame the WEIGHTED edge
    * builds self-join (LPA / triangles / k-core). Measured r14: for these,
    * the window + sort-merge self-join BEATS the basket-array explode
    * route (communities build 50→101 s at sf10) — the weight aggregation
    * can't fuse away, so the basket collect_set pass is pure added cost
    * there; only PageRank's unweighted build (where the array route
    * replaces distinct+collect_list outright) keeps it.
    */
  private def basketGuarded(li: DataFrame): DataFrame =
    li.withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))))
      .filter(col("_bsz") <= Analytics.MaxBasket).drop("_bsz")

  /** Guarded per-order basket arrays — the r14 PageRank edge-build input
    * shape: one groupBy(orderkey) shuffle yields (orderkey, parts[]) with
    * the wholesale-basket guard applied as a size filter on the SAME
    * aggregate (subsuming the window-based guard — `size(collect_set)` ≡
    * `count(*) over (partition by orderkey)` on the distinct li frame;
    * the oracles still state the guard as that window, same values).
    * Downstream pair generation is then a map-side double explode: O(b²)
    * rows per order, b ≤ [[Analytics.MaxBasket]], produced inside codegen
    * and consumed by a partial aggregate — no self-join, no pair-level
    * exchange before aggregation.
    */
  private def orderBaskets(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .filter(size(col("parts")) <= Analytics.MaxBasket)

  /** The materialized repeat-co-purchase undirected edge set (u < v,
    * shared-order weight ≥ [[LpMinWeight]]) that triangles and k-core
    * share — the measured-fastest window-guarded self-join build (see
    * [[basketGuarded]]), oriented u < v in the join condition so each
    * unordered pair aggregates once.
    */
  private def repeatUndirected(li: DataFrame): DataFrame = {
    val bs = basketGuarded(li)
    bs.as("a").join(bs.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("ew"))
      .filter(col("ew") >= LpMinWeight)
      .select(col("u"), col("v"))
      .transform(Scale.materialize)
  }

  /** LPA's settled pre-loop state — the same probe seam as [[PrState]]. */
  private[graft] case class LpState(nodes: DataFrame, edges: DataFrame)

  def partCommunities(s: SparkSession, d: String): DataFrame =
    communitiesLoop(communitiesState(s, d))

  private[graft] def communitiesState(s: SparkSession, d: String): LpState = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .transform(Scale.materialize)
    val bs = basketGuarded(li)
    // node set and weighted edge build are independent chains off li —
    // overlap their materializations (r15, Scale.inParallel)
    val two = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize(li.select(col("l_partkey").as("p")).distinct()
        .repartition(col("p"))),
      () => Scale.materialize(bs.as("a").join(bs.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .agg(count(lit(1)).as("ew"))
        .filter(col("ew") >= LpMinWeight)
        // align once on the loop's join key: the groupBy leaves the edges
        // hash(src, dst)-partitioned, so every LPA round re-exchanged the
        // EDGE relation (the big side) to join labels on src; keyed on src
        // here, only the node-sized label frame moves per round (r16, the
        // same trick as nodes/adj in pagerank)
        .repartition(col("src")))), slots = 2)
    LpState(two(0), two(1))
  }

  private[graft] def communitiesLoop(st: LpState): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val LpState(nodes, edges) = st
    var labels = nodes.select(col("p"), col("p").as("lbl"))
    for (_ <- 1 to LpIters) {
      val best = edges.join(labels, col("src") === col("p"))
        .groupBy(col("dst"), col("lbl")).agg(sum(col("ew")).as("c"))
        .withColumn("rn", row_number().over(
          w.partitionBy(col("dst")).orderBy(col("c").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("dst"), col("lbl").as("newl"))
      labels = labels.join(best, col("p") === col("dst"), "left_outer")
        .select(col("p"), coalesce(col("newl"), col("lbl")).as("lbl"))
        .transform(Scale.materialize)
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("p").as("p_partkey"), col("lbl").as("community"),
        col("community_size"))
  }

  val TriTopK = 20

  /** Triangle counting on the repeat-co-purchase graph (the cohesion
    * statistic behind clustering-coefficient dashboards): DEGENERACY-
    * ORIENTED wedge closure (Schank–Wagner / Suri–Vassilvitskii — the
    * MapReduce-standard formulation): each undirected edge is oriented
    * from the lower to the higher endpoint in the (degree, id) total
    * order, wedges enumerate pairs of out-edges per source, and the
    * closing edge — which this orientation makes UNIQUE and forward —
    * closes via one equi-join (no OR-condition join to degrade into a
    * nested loop). Out-degrees under this orientation are O(√m), so wedge
    * work is Σ outdeg² ≪ Σ deg² on skewed graphs — the property that
    * keeps the plan alive when one hub part appears in every basket.
    * Graph = the LpMinWeight repeat-co-purchase graph with the wholesale
    * guard (the part_communities edge set: the unit-weight graph is
    * near-complete and its triangle count is meaningless). Each triangle
    * is counted once as an ordered (a,b,c); per-part participation
    * explodes it to 3 rows; global total rides along from a 1-row
    * broadcast. All integer; top-k via the bucketed two-phase operator.
    */
  def partTriangles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .transform(Scale.materialize)
    val und = repeatUndirected(li)
    val deg = und.select(col("u").as("p")).union(und.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("dg"))
    val lt = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val fwd = und
      .join(deg.select(col("p").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("p").as("v"), col("dg").as("dv")), "v")
      .select(when(lt, col("u")).otherwise(col("v")).as("src"),
        when(lt, col("v")).otherwise(col("u")).as("dst"),
        when(lt, col("dv")).otherwise(col("du")).as("ddg"))
      .transform(Scale.materialize)
    val wedges = fwd.as("x").join(fwd.as("y"),
        col("x.src") === col("y.src") &&
          struct(col("x.ddg"), col("x.dst")) < struct(col("y.ddg"), col("y.dst")))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges.join(fwd.as("z"),
        col("b") === col("z.src") && col("c") === col("z.dst"))
      .select(col("a"), col("b"), col("c"))
      .transform(Scale.materialize)
    val per = tri.select(col("a").as("p"))
      .union(tri.select(col("b").as("p")))
      .union(tri.select(col("c").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("n_tri"))
    val total = tri.agg(count(lit(1)).as("total_tri"))
    Scale.topKPerGroup(per, Seq.empty, Seq(col("n_tri").desc, col("p")),
        k = TriTopK, saltSrc = col("p"))
      .crossJoin(broadcast(total)) // 1-row scalar
      .select(col("rnk"), col("p").as("p_partkey"), col("n_tri"), col("total_tri"))
  }

  val KcK = 2
  val KcIters = 6

  /** k-core extraction (Seidman 1983; the cohesion filter behind "dense
    * subgraph" dashboards): synchronously peel nodes of induced degree
    * < [[KcK]] from the repeat-co-purchase graph for [[KcIters]] rounds,
    * then report each survivor with its induced degree. K = 2 — the
    * CYCLE core: peeling the forest leaves exactly the cyclically
    * co-purchased part rings (bundle structure), the only non-vacuous
    * core this corpus has (the repeat graph THINS as SF grows — measured:
    * its 3-core is empty and its max degree 6 at sf0.1 — while the
    * unit-weight graph is near-complete, so every fixed K ≥ 3 degenerates
    * one way or the other). Synchronous peeling is deterministic (no tie
    * order exists — a round removes ALL sub-k nodes at once), and peeling
    * is monotone, so a fixed horizon is a superset of the true core that
    * GraphSpec pins AT the fixpoint for this corpus (one extra round
    * removes nothing; measured rounds-to-fixpoint: 0/3/5 at
    * sf0.001/0.01/0.1). Scale: per round, two equi-joins of the
    * materialized edge relation against the shrinking alive set + one
    * map-side-partial degree agg — the edge relation itself never
    * rebuilds.
    *
    * Oracle: the same rounds unrolled, with the alive-set CTEs MATERIALIZED
    * inline — each round references its predecessor 4× (two induced-edge
    * joins, twice via the degree union), so DuckDB's default CTE inlining
    * would re-derive the chain 4^rounds times; materialization (the same
    * fix the iterative scaleOracles apply) keeps the oracle linear in
    * rounds. Values are unaffected — it is an evaluation hint.
    */
  /** Edge bound under which the k-core peel runs as driver arithmetic over
    * the collected (bounded) repeat-co-purchase graph: 4M pairs ≈ a couple
    * hundred MB of boxed longs, comfortably a driver frame. The repeat
    * graph THINS as SF grows (measured: max degree 6 and an empty 3-core at
    * sf0.1), so the bound is expected to hold far past the gate SFs; past
    * it the distributed loop below runs unchanged.
    */
  val KcCollectEdges = 4L * 1000 * 1000

  def partKcore(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .transform(Scale.materialize)
    val und = repeatUndirected(li)
    // collect-when-bounded (the VERDICT-r15 medicine for the iterative
    // loops): each peel round cost two edge joins + an agg + a checkpoint
    // fence over a frame of a few thousand rows — job latency, not compute.
    // und is already materialized, so the count is one cheap scan; the
    // driver peel below states the identical synchronous rounds.
    val nEdges = und.count()
    if (nEdges <= KcCollectEdges) {
      val edges = und.collect().map(r => (r.getLong(0), r.getLong(1)))
      def degreesOf(alive: Long => Boolean): collection.Map[Long, Long] = {
        val dg = scala.collection.mutable.HashMap.empty[Long, Long]
        edges.foreach { case (u, v) =>
          if (alive(u) && alive(v)) {
            dg.update(u, dg.getOrElse(u, 0L) + 1L)
            dg.update(v, dg.getOrElse(v, 0L) + 1L)
          }
        }
        dg
      }
      var alive: Set[Long] =
        edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      for (_ <- 1 to KcIters)
        alive = degreesOf(alive).filter(_._2 >= KcK).keySet.toSet
      import s.implicits._
      val fin = degreesOf(alive).toSeq.sorted
      if (fin.isEmpty) s.emptyDataset[(Long, Long)].toDF("p_partkey", "core_deg")
      else s.createDataFrame(fin).toDF("p_partkey", "core_deg")
    } else {
      var alive = und.select(col("u").as("p"))
        .union(und.select(col("v").as("p"))).distinct()
        .transform(Scale.materialize)
      def induced(a: DataFrame): DataFrame = und
        .join(a.select(col("p").as("u")), "u")
        .join(a.select(col("p").as("v")), "v")
      def degrees(e: DataFrame): DataFrame =
        e.select(col("u").as("p")).union(e.select(col("v").as("p")))
          .groupBy(col("p")).agg(count(lit(1)).as("dg"))
      for (_ <- 1 to KcIters) {
        alive = degrees(induced(alive))
          .filter(col("dg") >= KcK).select(col("p"))
          .transform(Scale.materialize)
      }
      degrees(induced(alive))
        .select(col("p").as("p_partkey"), col("dg").as("core_deg"))
    }
  }

  private def kcoreOracle: String = {
    val rounds = (1 to KcIters).map { k =>
      val prev = if (k == 1) "a0" else s"a${k - 1}"
      s"""a$k AS MATERIALIZED (SELECT p FROM (
         |  SELECT p, count(*) AS dg FROM (
         |    SELECT e.u AS p FROM und e
         |      JOIN $prev x ON e.u = x.p JOIN $prev y ON e.v = y.p
         |    UNION ALL
         |    SELECT e.v AS p FROM und e
         |      JOIN $prev x ON e.u = x.p JOIN $prev y ON e.v = y.p)
         |  GROUP BY 1) WHERE dg >= $KcK)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |bs AS (SELECT l_orderkey, l_partkey FROM (
       |    SELECT l_orderkey, l_partkey,
       |      count(*) OVER (PARTITION BY l_orderkey) AS c FROM li)
       |  WHERE c <= ${Analytics.MaxBasket}),
       |und AS MATERIALIZED (SELECT u, v FROM (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS ew
       |  FROM bs a JOIN bs b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2) w0 WHERE ew >= $LpMinWeight),
       |a0 AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT u AS p FROM und UNION ALL SELECT v AS p FROM und)),
       |$rounds
       |SELECT p AS p_partkey, dg AS core_deg FROM (
       |  SELECT p, count(*) AS dg FROM (
       |    SELECT e.u AS p FROM und e
       |      JOIN a$KcIters x ON e.u = x.p JOIN a$KcIters y ON e.v = y.p
       |    UNION ALL
       |    SELECT e.v AS p FROM und e
       |      JOIN a$KcIters x ON e.u = x.p JOIN a$KcIters y ON e.v = y.p)
       |  GROUP BY 1)""".stripMargin
  }

  private val trianglesOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |bs AS (SELECT l_orderkey, l_partkey FROM (
       |    SELECT l_orderkey, l_partkey,
       |      count(*) OVER (PARTITION BY l_orderkey) AS c FROM li)
       |  WHERE c <= ${Analytics.MaxBasket}),
       |und AS (SELECT u, v FROM (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS ew
       |  FROM bs a JOIN bs b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2) w0 WHERE ew >= $LpMinWeight),
       |deg AS (SELECT p, count(*) AS dg FROM (
       |  SELECT u AS p FROM und UNION ALL SELECT v AS p FROM und) GROUP BY 1),
       |fwd AS (SELECT
       |    CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS src,
       |    CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS dst,
       |    CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS ddg
       |  FROM und
       |  JOIN (SELECT p AS u, dg AS du FROM deg) USING (u)
       |  JOIN (SELECT p AS v, dg AS dv FROM deg) USING (v)),
       |tri AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
       |  FROM fwd x JOIN fwd y
       |    ON x.src = y.src AND (x.ddg, x.dst) < (y.ddg, y.dst)
       |  JOIN fwd z ON z.src = x.dst AND z.dst = y.dst),
       |per AS (SELECT p, count(*) AS n_tri FROM (
       |  SELECT a AS p FROM tri UNION ALL SELECT b AS p FROM tri
       |  UNION ALL SELECT c AS p FROM tri) GROUP BY 1),
       |tt AS (SELECT count(*) AS total_tri FROM tri),
       |rk AS (SELECT p, n_tri,
       |    row_number() OVER (ORDER BY n_tri DESC, p) AS rnk FROM per)
       |SELECT CAST(rnk AS INT) AS rnk, p AS p_partkey, n_tri, total_tri
       |FROM rk, tt WHERE rnk <= $TriTopK""".stripMargin

  /** Power-iteration rounds for the stationary distribution. */
  val MarkovIters = 6

  /** Stationary distribution of the event-type Markov chain (the long-run
    * occupancy the per-user transition matrix implies — the steady-state
    * companion to events_transitions' raw bigrams and
    * events_attribution_markov's absorbing chain): [[MarkovIters]] power-
    * iteration rounds in exact ppm integers, π'(j) = Σᵢ ⌊π(i)·C(i,j)/R(i)⌋
    * with per-term truncation stated identically in both engines (term
    * order cannot matter: each term is floored separately, then summed).
    * State space = types observed as a transition SOURCE, targets
    * restricted to it. The chain matrix is bounded (|types|² cells), so
    * every iteration is a broadcast join on a bounded frame — the ONLY
    * corpus-sized work is the one per-user lag window producing the
    * transition counts.
    */
  def eventsMarkovStationary(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // the only corpus-sized work: the per-user lag window feeding the
    // transition-count aggregate
    val tr = Tables.events(s, d)
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("i"), col("event_type").as("j"))
      .agg(count(lit(1)).as("c"))
    // The chain matrix is bounded by the event-type alphabet (≤ |types|²
    // count rows at ANY corpus size — the same bounded-literal-model shape
    // as events_attribution_markov, r15): collect it once and run the power
    // iteration as exact driver Long arithmetic with the identical per-term
    // floor-division truncation. The distributed form paid two materialize
    // fences plus six sequential broadcast-exchange rounds over a frame of
    // a few dozen rows — pure job latency at every SF. Absence semantics
    // preserved exactly: a state drops out of π when no in-edge from a
    // π-holding state feeds it (the inner joins' behavior), not to zero.
    val cnt = tr.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import s.implicits._
    if (cnt.isEmpty)
      return s.emptyDataset[(String, Long, Long)]
        .toDF("event_type", "stationary_ppm", "n_out")
    val rSum: Map[String, Long] =
      cnt.groupBy(_._1).map { case (i, rows) => i -> rows.map(_._3).sum }
    val states = rSum.keySet
    val tm = cnt.filter { case (_, j, _) => states.contains(j) }
    val ns = states.size.toLong
    var pi: Map[String, Long] = rSum.keysIterator.map(_ -> 1000000L / ns).toMap
    for (_ <- 1 to MarkovIters)
      pi = tm.iterator
        .filter { case (i, _, _) => pi.contains(i) }
        .map { case (i, j, c) => j -> (pi(i) * c) / rSum(i) }
        .toSeq.groupBy(_._1)
        .map { case (j, terms) => j -> terms.map(_._2).sum }
    s.createDataFrame(
        pi.toSeq.sorted.map { case (t, ppm) => (t, ppm, rSum(t)) })
      .toDF("event_type", "stationary_ppm", "n_out")
  }

  private def markovStationaryOracle: String = {
    val iters = (1 to MarkovIters).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"""p$k AS (SELECT j AS t,
         |    CAST(sum(ppm * c // r) AS BIGINT) AS ppm
         |  FROM $prev JOIN tm ON t = tm.i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (SELECT prev_type AS i, event_type AS j, count(*) AS c
       |  FROM (SELECT event_type, lag(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |    FROM events)
       |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |st AS (SELECT i, sum(c) AS r FROM tr GROUP BY 1),
       |tm AS (SELECT tr.i, tr.j, tr.c, st.r FROM tr
       |  JOIN st USING (i) JOIN st s2 ON tr.j = s2.i),
       |ns AS (SELECT count(*) AS n FROM st),
       |p0 AS (SELECT i AS t, CAST(1000000 // n AS BIGINT) AS ppm FROM st, ns),
       |$iters
       |SELECT t AS event_type, ppm AS stationary_ppm,
       |  CAST(r AS BIGINT) AS n_out
       |FROM p$MarkovIters JOIN st ON t = st.i""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "part_pagerank" -> partPagerank,
    "part_communities" -> partCommunities,
    "part_triangles" -> partTriangles,
    "part_kcore" -> partKcore,
    "events_markov_stationary" -> eventsMarkovStationary,
  )

  /** The identical fixed-point iterations unrolled as chained CTEs — every
    * `//` is the same integer division the Spark plan's `div` performs on
    * the same operands, so parity is exact at every step.
    */
  private def pagerankOracle: String = {
    val iters = (1 to PrIters).map { k =>
      val prev = if (k == 1) "r0" else s"it${k - 1}"
      s"""it$k AS (
         |  SELECT nodes.p AS p,
         |    ((15 * $PrScale) // (100 * nn.n)) + (85 * coalesce(cc.c, 0)) // 100 AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS p, CAST(sum(pr.r // deg.d) AS BIGINT) AS c
         |    FROM e JOIN $prev pr ON e.src = pr.p JOIN deg ON e.src = deg.src
         |    GROUP BY 1) cc ON cc.p = nodes.p)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |bs AS (SELECT l_orderkey, l_partkey FROM (
       |    SELECT l_orderkey, l_partkey,
       |      count(*) OVER (PARTITION BY l_orderkey) AS c FROM li)
       |  WHERE c <= ${Analytics.MaxBasket}),
       |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM bs a JOIN bs b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |nodes AS (SELECT DISTINCT l_partkey AS p FROM li),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT p, $PrScale // n AS r FROM nodes, nn),
       |$iters,
       |fin AS (SELECT p, r, row_number() OVER (ORDER BY r DESC, p) AS rnk
       |  FROM it$PrIters)
       |SELECT p AS p_partkey, r AS rank_fp, rnk AS rank
       |FROM fin WHERE rnk <= $PrTopK""".stripMargin
  }

  /** The same synchronous LPA rounds unrolled as CTEs — identical grouping,
    * identical (count DESC, label ASC) total order, so the assignment is
    * exact at every round.
    */
  private def communitiesOracle: String = {
    val iters = (1 to LpIters).map { k =>
      val prev = if (k == 1) "l0" else s"l${k - 1}"
      s"""l$k AS (
         |  SELECT n.p AS p, coalesce(b.newl, pr.lbl) AS lbl
         |  FROM nodes n JOIN $prev pr ON pr.p = n.p
         |  LEFT JOIN (
         |    SELECT dst, lbl AS newl FROM (
         |      SELECT e.dst, pr2.lbl,
         |        row_number() OVER (PARTITION BY e.dst
         |          ORDER BY sum(e.ew) DESC, pr2.lbl) AS rn
         |      FROM e JOIN $prev pr2 ON e.src = pr2.p
         |      GROUP BY e.dst, pr2.lbl) t
         |    WHERE rn = 1) b ON b.dst = n.p)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |bs AS (SELECT l_orderkey, l_partkey FROM (
       |    SELECT l_orderkey, l_partkey,
       |      count(*) OVER (PARTITION BY l_orderkey) AS c FROM li)
       |  WHERE c <= ${Analytics.MaxBasket}),
       |e AS (SELECT src, dst, ew FROM (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS ew
       |  FROM bs a JOIN bs b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2) w0 WHERE ew >= $LpMinWeight),
       |nodes AS (SELECT DISTINCT l_partkey AS p FROM li),
       |l0 AS (SELECT p, p AS lbl FROM nodes),
       |$iters,
       |sz AS (SELECT lbl, count(*) AS community_size FROM l$LpIters GROUP BY 1)
       |SELECT f.p AS p_partkey, f.lbl AS community, sz.community_size
       |FROM l$LpIters f JOIN sz ON f.lbl = sz.lbl""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "part_pagerank" -> pagerankOracle,
    "part_communities" -> communitiesOracle,
    "part_triangles" -> trianglesOracle,
    "part_kcore" -> kcoreOracle,
    "events_markov_stationary" -> markovStationaryOracle,
  )

  /** sf1+ attestation variants: the SAME unrolled-iteration SQL with every
    * CTE forced MATERIALIZED. Each round's CTE references its predecessor
    * twice (the contribution/vote join plus the carry-forward), so
    * DuckDB's default inlining re-derives the whole upstream chain per
    * reference — exponential in rounds; round 6b measured the unrolled
    * LPA spilling past temp disk at sf1. ` AS (` appears in these
    * strings only at CTE definitions (subqueries alias as `) t` / `) w0`),
    * so the rewrite is exact. Values identical by construction.
    */
  val scaleOracles: Map[String, String] =
    oracles.map { case (k, v) => k -> v.replace(" AS (", " AS MATERIALIZED (") }
}
