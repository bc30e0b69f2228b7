package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.detRound
import graft.functions.NativeVector
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * `knn_brute_cosine` is the exact baseline: the (small) query set joins the
  * corpus — at scale the query side is broadcast so the corpus is scanned
  * once, partition-local.
  *
  * `knn_lsh` is the scale path: NumTables independent random-hyperplane
  * signatures bucket the corpus; a query scans only its own bucket plus
  * 1-bit-flip probe buckets per table (multi-probe). Recall vs scanned
  * fraction is tunable by (SigBits, NumTables) — measured curve in SURVEY
  * §4; asserted ≥0.85 vs brute in SimilaritySpec (measures ≈0.92 on this
  * corpus at the default 8×6 config).
  *
  * `knn_ivf` is the IVF variant: a deterministic coarse quantizer (bounded
  * sample, farthest-point seeding, driver-side spherical k-means — the way
  * real IVF indexes train) partitions the corpus into cells; queries probe
  * the nearest `NProbe` cells (recall ≈ 0.89 here at 16/32 cells probed,
  * asserted ≥ 0.85 in SimilaritySpec). The trained centroids are broadcast
  * as literal arrays, so cell assignment is pure map-side column math — no
  * join, no shuffle, no per-vector window.
  *
  * Every `knn_*` ends in `Scale.topKPerGroup`: partition-local top-k inside
  * (query, bucket) windows, then a final window over ≤ k·buckets survivors
  * — never a single-reducer sort of a corpus-sized candidate set. The
  * result is identical to a per-query window under the (cos desc, vec_id)
  * total order.
  */
object Similarity {

  val K = 10
  val NumQueries = 10
  val SigBits = 6

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))

  private def split(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = corpus(s, d)
    (e.filter(col("vec_id") < NumQueries).select(col("vec_id").as("q_id"), col("v").as("qv")),
      e.filter(col("vec_id") >= NumQueries))
  }

  /** Scale-safe per-query top-k: two-phase bucketed windows via
    * Scale.topKPerGroup. A plain `Window.partitionBy(q_id)` sorts a query's
    * ENTIRE candidate set (the whole corpus, for brute) on one reducer;
    * phase one here bounds every sort to candidates/32, and the final
    * window sees at most 32·k rows per query. Vectors are projected away
    * BEFORE the window so the top-k exchanges shuffle only
    * (q_id, vec_id, cos) — never 64-dim payloads.
    */
  private def topK(scored: DataFrame): DataFrame =
    Scale.topKPerGroup(
        scored.select(col("q_id"), col("vec_id"), col("cos")),
        Seq("q_id"), Seq(col("cos").desc, col("vec_id")),
        k = K, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"), col("rnk").as("rank"),
        detRound(col("cos"), 6).as("cos"))

  // ---------------------------------------------------------------- brute
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    topK(broadcast(q).join(c).withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  // ---------------------------------------------------------------- range
  /** Radius (range) search: every corpus vector with cos ≥ [[RangeTau]] of
    * each query — the "all sufficiently-similar" dual of top-k (duplicate
    * sweeps and recall audits ask this, not k-nearest). Exact over the
    * broadcast query set; there is no top-k cut, so the plan is one
    * broadcast nested-loop scan with the threshold filter codegen'd into
    * it — output-bound by definition (a τ low enough to match everything
    * IS the cross product; the caller owns τ). Both engines compute the
    * identical IEEE cosine, so the ≥ τ boundary agrees bit for bit.
    */
  val RangeTau = 0.3

  def knnRange(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    broadcast(q).join(c)
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
      .filter(col("cos") >= RangeTau)
      .select(col("q_id"), col("vec_id").as("nn_id"),
        detRound(col("cos"), 6).as("cos"))
  }

  // ------------------------------------------------------------- filtered
  /** Filtered kNN — "top-k under a metadata predicate", the filtered-search
    * problem every production vector store has to answer (tenant / shard /
    * label constraints). Here the predicate is label-equality with the
    * query: the top-[[K]] most-similar corpus vectors SHARING the query's
    * label (tenant-scoped search).
    *
    * Scale: the predicate is a JOIN KEY, not a post-filter — queries
    * equi-join candidates on `label`, confining the pairwise work to
    * same-tenant groups (Σ |Q_t|·|C_t|, the pre-filter plan a selective
    * predicate wants; a skewed tenant splits under AQE). The alternative —
    * post-filtering an unfiltered ANN index — must over-fetch k/selectivity
    * neighbors to survive the predicate, the known recall/latency cliff;
    * with the tenant as first-class blocking, the EXACT answer costs one
    * broadcast equi-join plus the same bounded two-phase top-k as brute.
    */
  def knnFiltered(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("label"))
    val c = e.filter(col("vec_id") >= NumQueries)
    topK(broadcast(q).join(c, "label")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  // --------------------------------------------------------- triplet eval
  /** Anchor count for the embedding-space label-consistency eval. */
  val TripletAnchors = 50

  /** Triplet-margin evaluation of the embedding space against its labels
    * (the metric-learning eval: "is each point closer to its own class
    * than to any other?"): for each of the first [[TripletAnchors]]
    * vectors, the best same-label cosine (excluding self) and best
    * other-label cosine over the corpus, the margin between them, and
    * whether the anchor is correctly label-separated (margin > 0).
    * Exactness: two conditional MAXes of identically-computed doubles and
    * one subtract — floored at 1e-6 for the report only, the correctness
    * flag compares the raw doubles on both engines. Scale: the anchor set
    * broadcasts and the corpus streams once, partition-local; the per-
    * anchor state is two doubles (map-side-partial max), output is
    * anchor-bounded.
    */
  def embedTripletEval(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    val anchors = e.filter(col("vec_id") < TripletAnchors)
      .select(col("vec_id").as("a_id"), col("v").as("av"), col("label").as("a_label"))
    val c = e.filter(col("vec_id") >= TripletAnchors)
    broadcast(anchors).join(c)
      .withColumn("cos", NativeVector.cosine(col("av"), col("v")))
      .groupBy(col("a_id"), col("a_label"))
      .agg(max(when(col("label") === col("a_label"), col("cos"))).as("cs"),
        max(when(col("label") =!= col("a_label"), col("cos"))).as("cd"))
      .select(col("a_id"), col("a_label"),
        detRound(col("cs"), 6).as("cos_same"),
        detRound(col("cd"), 6).as("cos_diff"),
        detRound(col("cs") - col("cd"), 6).as("margin"),
        (col("cs") > col("cd")).as("separated"))
  }

  private def tripletOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings),
       |a AS (SELECT vec_id AS a_id, v AS av, label AS a_label FROM e
       |  WHERE vec_id < $TripletAnchors),
       |c AS (SELECT * FROM e WHERE vec_id >= $TripletAnchors),
       |sc AS (SELECT a_id, a_label, label, ${cosineSql("av", "v")} AS cos
       |  FROM a, c),
       |g AS (SELECT a_id, a_label,
       |    max(cos) FILTER (label = a_label) AS cs,
       |    max(cos) FILTER (label <> a_label) AS cd
       |  FROM sc GROUP BY 1, 2)
       |SELECT a_id, a_label, floor(cs*1e6)/1e6 AS cos_same,
       |  floor(cd*1e6)/1e6 AS cos_diff, floor((cs - cd)*1e6)/1e6 AS margin,
       |  cs > cd AS separated
       |FROM g""".stripMargin

  // ------------------------------------------------------------------ MMR
  /** Candidate pool per query for MMR re-ranking (the standard two-stage
    * retrieve-then-diversify shape: a cheap top-[[MmrPool]] retrieval
    * feeds the quadratic-in-pool greedy selection, so the pairwise work is
    * pool², never corpus²).
    */
  val MmrPool = 20

  /** Diversified results returned per query. */
  val MmrK = 5

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998, the retrieval-diversification standard): greedily select
    * [[MmrK]] results from the brute top-[[MmrPool]] pool, each round
    * taking the candidate maximizing rel(q,d) − max_{s∈S} sim(d,s) (the
    * λ=1/2 MMR objective up to a positive scale, argmax-invariant; the
    * empty-set max is 0). Exactness: rel/sim are the shared IEEE cosine,
    * the score is ONE subtract of identically-computed doubles, ties break
    * on vec_id — the oracle unrolls the same [[MmrK]] rounds. Scale: the
    * pool is k-bounded per query (pairs = pool² per query, windows never
    * exceed pool rows), so everything after retrieval is linear in
    * #queries; retrieval itself is the audited brute/ANN path.
    */
  /** The retrieval + pool-pairwise stages of [[knnMmr]], pre-checkpoint —
    * exposed so the plan spec can pin their shapes (the greedy rounds
    * materialize, which truncates the final visible plan at RDD scans).
    */
  private[graft] def mmrPool(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val scored = broadcast(q).join(c)
      .withColumn("rel", NativeVector.cosine(col("qv"), col("v")))
    Scale.topKPerGroup(
        scored.select(col("q_id"), col("vec_id"), col("rel")),
        Seq("q_id"), Seq(col("rel").desc, col("vec_id")),
        k = MmrPool, saltSrc = col("vec_id"))
      .drop("rnk")
      .join(c, "vec_id") // re-attach candidate vectors for pairwise sims
      .select(col("q_id"), col("vec_id"), col("rel"), col("v"))
  }

  private[graft] def mmrPairs(pool: DataFrame): DataFrame =
    pool.select(col("q_id"), col("vec_id").as("a"), col("v").as("va"))
      .join(pool.select(col("q_id"), col("vec_id").as("b"), col("v").as("vb")), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        NativeVector.cosine(col("va"), col("vb")).as("sim"))

  def knnMmr(s: SparkSession, d: String): DataFrame = {
    // The pool and its pairwise sims are LITERAL-bounded (NumQueries ×
    // MmrPool ≤ 200 rows; pairs ≤ NumQueries × MmrPool² ≤ 4000): collect
    // both once (retrieval + pairwise cosines stay distributed) and run the
    // MmrK greedy rounds as driver arithmetic — the r15 shape paid a
    // join+window+materialize fence PER ROUND over those few hundred rows
    // (job latency, not compute; the events_attribution_markov precedent).
    // Driver semantics replicate the plan exactly: ms = max pairwise sim to
    // the selected set under java.lang.Double.compare (Spark's Max/sort
    // order), score = rel − ms, pick by (score desc, vec_id asc).
    val pool = mmrPool(s, d).transform(Scale.materialize)
    val two = Scale.inParallel[Array[org.apache.spark.sql.Row]](Seq(
      () => pool.select(col("q_id"), col("vec_id"), col("rel")).collect(),
      () => mmrPairs(pool)
        .select(col("q_id"), col("a"), col("b"), col("sim")).collect()),
      slots = 2)
    val poolRows = two(0).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simOf = two(1).iterator
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    val out = Seq.newBuilder[(Long, Int, Long, Double, Double)]
    for (qid <- poolRows.map(_._1).distinct.sorted) {
      var remaining = poolRows.filter(_._1 == qid).map(t => (t._2, t._3))
      var selected = Vector.empty[Long]
      for (r <- 1 to MmrK if remaining.nonEmpty) {
        var bestVec = -1L; var bestRel = 0.0; var bestScore = 0.0
        var first = true
        remaining.foreach { case (vec, rel) =>
          val ms =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(b => simOf((qid, vec, b)))
              .reduce((x, y) => if (java.lang.Double.compare(x, y) >= 0) x else y)
          val sc = rel - ms
          val cmp = if (first) 1 else java.lang.Double.compare(sc, bestScore)
          if (cmp > 0 || (cmp == 0 && vec < bestVec)) {
            bestVec = vec; bestRel = rel; bestScore = sc; first = false
          }
        }
        out += ((qid, r, bestVec, bestRel, bestScore))
        selected :+= bestVec
        remaining = remaining.filterNot(_._1 == bestVec)
      }
    }
    import s.implicits._
    val raw = out.result()
    val local =
      if (raw.isEmpty) s.emptyDataset[(Long, Int, Long, Double, Double)]
        .toDF("q_id", "rank", "nn_id", "rel0", "mmr0")
      else s.createDataFrame(raw)
        .toDF("q_id", "rank", "nn_id", "rel0", "mmr0")
    local.select(col("q_id"), col("rank"), col("nn_id"),
      detRound(col("rel0"), 6).as("rel"), detRound(col("mmr0"), 6).as("mmr"))
  }

  // ------------------------------------------------------------------ LSH
  /** Deterministic hyperplanes: component (table, bit, dim) from a
    * fixed-seed LCG in [-1, 1]. Literal arrays → pure Column math, broadcast
    * to every task.
    *
    * Multi-table is mandatory for recall when true neighbors are only
    * weakly similar (this corpus: top-10 cosines ≈ 0.2–0.5, so one table's
    * bits rarely all agree). 8 tables × 6 bits + 1-bit multi-probe measures
    * recall ≈ 0.92 here at ≈ 60% corpus scanned; on a genuinely clustered
    * near-dup corpus the same structure scans a small fraction. The
    * recall/scan tradeoff across (SigBits, NumTables) is tabulated in
    * SURVEY §4.
    */
  val NumTables = 8

  /** Seeded hyperplane family — same LCG stream for any (tables, bits)
    * shape, so the default config's planes are stable across refactors and
    * a sweep over other shapes draws from the identical generator.
    */
  def mkPlanes(numTables: Int, sigBits: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    var x = 424242424242L
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (math.floorMod(x, 1000003L).toDouble / 1000003.0) * 2.0 - 1.0
    }
    IndexedSeq.fill(numTables)(IndexedSeq.fill(sigBits)(IndexedSeq.fill(64)(next())))
  }

  val planes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = mkPlanes(NumTables, SigBits)

  def signatureWith(ps: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], t: Int, v: Column): Column =
    ps(t).indices.map { j =>
      // typedlit: one ArrayData literal per plane (not a 64-node expression
      // tree) — keeps serialized task size small across 48 planes
      val plane = typedlit(ps(t)(j))
      when(NativeVector.dot(v, plane) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  def signature(t: Int, v: Column): Column = signatureWith(planes, t, v)

  /** The LSH search, parametric in (tables, bits): shared by the default
    * fixed-config `knn_lsh` and the per-corpus auto-tuned `knn_lsh_auto`.
    */
  private def lshSearch(q: DataFrame, c: DataFrame,
      numTables: Int, sigBits: Int): DataFrame = {
    val ps = if (numTables == NumTables && sigBits == SigBits) planes
      else mkPlanes(numTables, sigBits)
    val cSig = c.select(col("vec_id"), col("v"), explode(array((0 until numTables).map(t =>
      struct(lit(t).as("t"), signatureWith(ps, t, col("v")).as("sig"))): _*)).as("b"))
      .select(col("vec_id"), col("v"), col("b.t").as("t"), col("b.sig").as("sig"))
    // Multi-probe: per table, the query's own bucket + every 1-bit flip.
    val qSig = q.select(col("q_id"), col("qv"), explode(array((for {
      t <- 0 until numTables
      probe <- lit(-1) +: (0 until sigBits).map(j => lit(1 << j))
    } yield struct(lit(t).as("t"), probe.as("flip"))): _*)).as("b"))
      .select(col("q_id"), col("qv"), col("b.t").as("t"), col("b.flip").as("flip"))
      .withColumn("sig0", (0 until numTables).foldRight(lit(0): Column) {
        (t, acc) => when(col("t") === t, signatureWith(ps, t, col("qv"))).otherwise(acc)
      })
      .withColumn("sig", when(col("flip") === -1, col("sig0"))
        .otherwise(col("sig0").bitwiseXOR(col("flip"))))
      .select("q_id", "qv", "t", "sig")
    // Dedup multi-table/probe hits AFTER scoring: the groupBy shuffles only
    // (q_id, vec_id, cos) — never the 64-dim vectors — and the map-side
    // partial max collapses most duplicates before the exchange. (A distinct
    // over rows carrying qv/v would shuffle a vector copy per candidate hit.)
    topK(broadcast(qSig).join(cSig, Seq("t", "sig"))
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("cos")).as("cos")))
  }

  def knnLsh(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    lshSearch(q, c, NumTables, SigBits)
  }

  // --------------------------------------------------- LSH auto-tuning
  /** Per-corpus (SigBits, NumTables) chosen from a sampled neighbor-
    * similarity profile instead of hand-set constants.
    *
    * Model: for a pair at cosine s, a random hyperplane separates them with
    * probability acos(s)/π (Goemans–Williamson / Charikar), so a b-bit
    * signature matches with p^b where p = 1 − acos(s)/π; with 1-bit
    * multi-probe a table hits with h = p^b + b·p^(b−1)(1−p), and recall
    * over T independent tables is 1 − (1−h)^T. The corpus enters through
    * s*: the lower-decile k-th-neighbor cosine measured on a bounded
    * deterministic sample (in-sample neighbors are WEAKER than true ones,
    * so s* errs conservative — tuned recall lands above the model).
    * Among configs whose model recall ≥ [[TuneModelRecall]], take the
    * cheapest by expected scanned fraction 1 − (1 − (1+b)/2^b)^T (each
    * table probes 1+b of its 2^b buckets; tables overlap, and the scored
    * candidate set is deduped, so fractions compose as misses) — exactly
    * the measured SURVEY §4 tradeoff (tables/probes buy recall, bits buy
    * selectivity), now driven by the data instead of by a constant.
    */
  case class LshConfig(sigBits: Int, numTables: Int, sStar: Double)

  val TuneSample = 512
  val TuneQueries = 64
  val TuneModelRecall = 0.95
  val MaxTables = 16
  val MaxBits = 12

  private[graft] val tuneCache =
    new java.util.concurrent.ConcurrentHashMap[String, LshConfig]()

  private[graft] def tunedConfig(s: SparkSession, d: String): LshConfig =
    tuneCache.computeIfAbsent(d, _ => {
      val sample = split(s, d)._2
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(TuneSample)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      tuneFromSample(sample)
    })

  private[graft] def tuneFromSample(sample: Array[Array[Double]]): LshConfig = {
    def norm(v: Array[Double]): Array[Double] = {
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      val inv = 1.0 / math.sqrt(n); v.map(_ * inv)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val xs = sample.map(norm)
    // k-th-neighbor cosine per sampled query, in-sample
    val kth = (0 until math.min(TuneQueries, xs.length)).map { i =>
      val sims = xs.indices.collect { case j if j != i => dot(xs(i), xs(j)) }
        .sorted(Ordering[Double].reverse)
      sims(math.min(K, sims.length) - 1)
    }.sorted
    val sStar = kth(math.max(0, (kth.length * 0.1).toInt - 1).min(kth.length - 1))
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, sStar))) / math.Pi
    def hit(b: Int) = math.pow(p, b) + b * math.pow(p, b - 1) * (1 - p)
    def recall(b: Int, t: Int) = 1.0 - math.pow(1.0 - hit(b), t)
    val feasible = for {
      b <- 2 to MaxBits
      t <- 1 to MaxTables
      if recall(b, t) >= TuneModelRecall
    } yield (b, t)
    // cheapest expected scanned fraction; break ties toward more bits
    // (smaller buckets) then fewer tables. If even the most aggressive
    // config can't reach the model target (near-orthogonal corpus), fall
    // back to it rather than fail — recall floor still spec-asserted.
    def scanned(b: Int, t: Int) =
      1.0 - math.pow(1.0 - (1.0 + b) / math.pow(2.0, b), t)
    val (b, t) =
      if (feasible.isEmpty) (2, MaxTables)
      else feasible.minBy { case (b, t) => (scanned(b, t), -b, t) }
    LshConfig(b, t, sStar)
  }

  def knnLshAuto(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val cfg = tunedConfig(s, d)
    lshSearch(q, c, cfg.numTables, cfg.sigBits)
  }

  // ------------------------------------------------------------------ IVF
  /** Cell-count FLOOR: spec-scale corpora (≤ ~1k vectors) train exactly 32
    * cells, so every recall floor and generated oracle at the test SFs is
    * unchanged by the √n rule below.
    */
  val NumCells = 32
  val NProbe = 16
  val LloydIters = 10
  val TrainSample = 2048

  /** LITERAL-PLAN ceiling, not a cell-count cap (since round 7): at or
    * below this many cells the centroid matrix embeds as expression
    * literals (zero-join map-side assignment — the fast shape for every
    * test SF); above it the SAME kernels read the matrix from a 1-row
    * broadcast centroid frame instead ([[centCols]]), because a literal
    * that grows with √n eventually bloats every serialized task, plan
    * string, and codegen constant section, while broadcast DATA ships
    * once per executor. 256 cells × 64 dims ≈ 16k doubles is comfortably
    * inside literal territory; past it the join plan costs one
    * BroadcastNestedLoopJoin against one row — no row multiplication, no
    * shuffle, no ceiling.
    */
  val MaxCells = 256

  /** The standard IVF sizing rule, now applied instead of prose: cells ∝
    * √n (floored at NumCells, UNCAPPED above — the literal/join dispatch
    * in [[centCols]] replaced the old MaxCells clamp), so cell WIDTH is
    * ~√n too and every cell-confined cost — knn_graph's base candidates
    * (n·probe·√n), semdedup's within-cell pairs (√n·(√n)² = n^1.5) —
    * stays subquadratic as the corpus grows. With cells fixed at 32,
    * width grows ∝ n and the same joins are n²/32: measured 158.8 s for
    * knn_graph at the 20k-vector sf1 before this rule, 45.0 s after
    * (3.5×). NProbe stays fixed (the published shape: scan fraction
    * SHRINKS as the index grows; recall is monitored by knn_recall_eval
    * as a query, not assumed). √n stays ≤ 256 up to 65k vectors — every
    * gate SF (sf1 holds 20k) keeps the literal plan and its oracles
    * unchanged; sf10's ~200k vectors are the first to cross into the
    * join plan.
    */
  private[graft] def cellsFor(n: Long): Int =
    math.max(NumCells, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Coarse quantizer trained the way real IVF indexes train (bounded
    * sample + in-memory spherical k-means), not by full-corpus sweeps: a
    * deterministic hash-ordered sample of ≤ TrainSample vectors (fixed bytes
    * regardless of corpus size) is collected, seeded farthest-point
    * (k-means++-style, deterministic), and Lloyd-iterated on the driver;
    * only the NumCells centroid arrays ship back out — as expression
    * literals, so the corpus-side work is one fully map-side scan.
    */
  private def trainCentroids(c: DataFrame, cells: Int): Array[Array[Double]] = {
    // ≥ 8 training points per cell: the sample grows with the cell count
    // (cells ∝ √n ⇒ sample ∝ √n — still a bounded deterministic collect,
    // ~8·√n vectors; past DistTrainVectors, centroidsFor dispatches to
    // trainCentroidsDistributed, which changes none of the plans
    // downstream of the centroid array).
    val sampleN = math.max(TrainSample, 8 * cells)
    val sample = c.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    def norm(v: Array[Double]): Array[Double] = {
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      val inv = 1.0 / math.sqrt(n); v.map(_ * inv)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val xs = sample.map(norm)
    // farthest-point seeding: start at xs(0), then repeatedly take the
    // sample point least similar to its nearest chosen seed
    val seeds = Array.newBuilder[Array[Double]]
    seeds += xs(0)
    val bestSim = xs.map(dot(_, xs(0)))
    for (_ <- 1 until cells) {
      var worst = 0; var i = 1
      while (i < xs.length) { if (bestSim(i) < bestSim(worst)) worst = i; i += 1 }
      val nc = xs(worst)
      seeds += nc
      i = 0
      while (i < xs.length) {
        val d = dot(xs(i), nc); if (d > bestSim(i)) bestSim(i) = d; i += 1
      }
    }
    var cents = seeds.result()
    for (_ <- 1 to LloydIters) {
      val sums = Array.fill(cells)(new Array[Double](xs(0).length))
      val counts = new Array[Int](cells)
      xs.foreach { x =>
        var best = 0; var bs = dot(x, cents(0)); var k = 1
        while (k < cells) {
          val d = dot(x, cents(k)); if (d > bs) { bs = d; best = k }; k += 1
        }
        val acc = sums(best); var i = 0
        while (i < x.length) { acc(i) += x(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { k =>
        if (counts(k) == 0) cents(k) else norm(sums(k))
      }.toArray
    }
    cents
  }

  /** Corpus size above which [[centroidsFor]] trains the coarse quantizer
    * DISTRIBUTED instead of on a driver sample: past ~64M vectors the
    * driver trainer's ~8·√n sample collect stops being "bounded" in any
    * honest sense (at 10B vectors it is ~800k vectors of payload), while
    * the distributed trainer's driver state stays exactly one centroid
    * matrix — the budget every downstream plan pays anyway. Every gate SF
    * (sf10 holds ~200k vectors) stays on the driver trainer, so oracles
    * and recall floors are unchanged.
    */
  val DistTrainVectors = 64L * 1000 * 1000

  /** Fixed-point scale for the distributed Lloyd accumulators: unit-vector
    * components are in [-1, 1], so per-(cell, dim) LONG sums stay exact up
    * to ~2^42 vectors per cell, and INTEGER addition is order-independent —
    * the trained centroids are bit-identical across partitionings and runs
    * (the PrScale discipline applied to k-means; a double sum would make
    * the quantizer nondeterministic across cluster layouts, which poisons
    * every generated oracle downstream). The 2^-21 per-element rounding is
    * three orders below any assignment boundary k-means cares about.
    */
  val LloydFp = 1L << 20

  /** Distributed spherical-k-means refinement — the > [[DistTrainVectors]]
    * scale path. Seeding is the hash-ordered first `cells` vectors (one
    * collect of exactly one centroid matrix); each Lloyd step is (1) the
    * same map-side [[NativeVector.argmaxDot]] cell assignment every IVF
    * kernel uses (literal or broadcast centroids via [[centColsOf]] — no
    * join, no shuffle), (2) one (cell, dim)-keyed fixed-point partial-sum
    * aggregate (shuffle volume = partitions × cells × dims combiner rows,
    * never corpus-sized), (3) a cells×dims collect that renormalizes on
    * the driver. Empty cells keep their seed, exactly like the driver
    * trainer. DistTrainSpec pins bit-identity against a driver-side
    * reference of the same recipe AND across repartitionings.
    */
  private[graft] def trainCentroidsDistributed(c: DataFrame, cells: Int,
      iters: Int = LloydIters): Array[Array[Double]] = {
    val s = c.sparkSession
    def norm(v: Array[Double]): Array[Double] = {
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      val inv = 1.0 / math.sqrt(n); v.map(_ * inv)
    }
    var cents = c.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cells)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray).map(norm)
    val dims = cents(0).length
    // unit vectors once per step — summed mass must be the normalized one
    // (spherical k-means), same as the driver trainer's xs = sample.map(norm).
    // multiply-by-reciprocal, NOT x/sqrt: the bit pattern must equal the
    // driver norm() so DistTrainSpec can pin bit-identity with no tolerance
    val cn = c
      .withColumn("_n2", expr("aggregate(v, 0D, (a, x) -> a + x * x)"))
      .withColumn("vn", expr("transform(v, x -> x * (1.0D / sqrt(_n2)))"))
      .select(col("vec_id"), col("vn"))
    for (_ <- 1 to iters) {
      val cc = centColsOf(s, cents)
      val assigned = cc.cleanup(cc.attach(cn)
        .withColumn("cell", NativeVector.argmaxDot(col("vn"), cc.flat, cc.sn)))
      val sums = assigned
        .select(col("cell"), posexplode(col("vn")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(sum(floor(col("x") * LloydFp + 0.5).cast("long")).as("sx"),
          count(lit(1)).as("cnt"))
        .collect() // bounded: ≤ cells × dims rows — the centroid matrix
      val acc = Array.fill(cells)(new Array[Double](dims))
      val counts = new Array[Long](cells)
      sums.foreach { r =>
        val cell = r.getInt(0); val i = r.getInt(1)
        acc(cell)(i) = r.getLong(2).toDouble / LloydFp.toDouble
        counts(cell) = r.getLong(3)
      }
      cents = cents.indices.map { k =>
        if (counts(k) == 0) cents(k) else norm(acc(k))
      }.toArray
    }
    cents
  }

  /** Centroids per sf dir: trained once per JVM (the quantizer is
    * deterministic given the data — the driver trainer trivially, the
    * distributed trainer by fixed-point construction — so re-training
    * would reproduce them bit-identically; the cache just saves the
    * collect). When exactly one dir has trained, `oracles` embeds these
    * exact doubles as SQL literals.
    */
  private[graft] val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def centroidsFor(s: SparkSession, d: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(d, _ => {
      val c = split(s, d)._2
      val n = c.count()
      if (n <= DistTrainVectors) trainCentroids(c, cellsFor(n))
      else trainCentroidsDistributed(c, cellsFor(n))
    })

  /** Sequential sum of squares — the exact fold order of norm2Sql, so the
    * precomputed centroid norms embed as literals both engines share.
    */
  private def n2Seq(v: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    acc
  }

  /** How the trained centroid matrix reaches the row-level kernels:
    * `flat`/`m2d`/`sn` are the flattened matrix, nested matrix, and norm
    * columns; `attach` makes them available on a frame and `cleanup`
    * removes the plumbing. At ≤ [[MaxCells]] cells they are expression
    * LITERALS and attach/cleanup are identity — the plan every test SF
    * and every generated oracle sees. Above MaxCells the matrix rides a
    * ONE-ROW broadcast DataFrame crossJoined on (BroadcastNestedLoopJoin
    * against a single row: no row multiplication, no shuffle, matrix
    * ships once per executor as torrent-broadcast data) — same kernels,
    * same operands, no literal ceiling. CentroidPlanSpec pins literal ≡
    * join assignment past the threshold.
    */
  private[graft] final case class CentCols(flat: Column, m2d: Column,
      sn: Column, attach: DataFrame => DataFrame, cleanup: DataFrame => DataFrame)

  private[graft] def centColsOf(s: SparkSession,
      cents: Array[Array[Double]]): CentCols = {
    val sn = cents.map(cv => math.sqrt(n2Seq(cv))).toIndexedSeq
    if (cents.length <= MaxCells)
      CentCols(typedlit(cents.flatten.toIndexedSeq),
        typedlit(cents.map(_.toIndexedSeq).toIndexedSeq), typedlit(sn),
        identity, identity)
    else {
      import s.implicits._
      val row = Seq((cents.flatten.toSeq, cents.map(_.toSeq).toSeq, sn.toSeq))
        .toDF("_cmat", "_cm2d", "_csn")
      CentCols(col("_cmat"), col("_cm2d"), col("_csn"),
        df => df.crossJoin(broadcast(row)),
        df => df.drop("_cmat", "_cm2d", "_csn"))
    }
  }

  private[graft] def centColsFor(s: SparkSession, d: String): CentCols =
    centColsOf(s, centroidsFor(s, d))

  /** Map-side cell assignment for ANY (.., v) frame against this dir's
    * trained centroids — shared by knn_ivf, the ScaleStress diagnostics,
    * and the streaming index-maintenance path (IvfIngest assigns each
    * micro-batch with this exact expression: zero shuffle, zero train).
    *
    * Nearest-cell ranking uses dot(v, cv)/sqrt(n2(cv)) — the row's own
    * norm sqrt(n2(v)) is a common positive factor across cells, so the
    * argmax is the cosine argmax at a THIRD of the flops: one codegen'd
    * ArrayDot per cell, zero per-row norm work (centroid norms are
    * driver-computed literals, same IEEE value in the oracle SQL). Ties go
    * to the lowest cell, the same (ccos desc, cell asc) order the oracle's
    * row_number states. No join, no per-vector window, tiny codegen unit.
    */
  private[graft] def assignCells(df: DataFrame, s: SparkSession, d: String): DataFrame = {
    val cc = centColsFor(s, d)
    cc.cleanup(cc.attach(df)
      .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
  }

  /** Per-query probe cells: rank all cells inside ONE native looping
    * expression ([[NativeVector.argTopKDot]] — score desc, cell-asc
    * tiebreak, the same order the old (negccos, cell) struct sort stated)
    * and explode the top `nProbe` — map-side, constant codegen size at any
    * cell count (the struct-sort formulation unrolled past janino's 64 KB
    * method budget and fell back to interpreted eval).
    */
  private[graft] def queryProbes(q: DataFrame, s: SparkSession, d: String,
      nProbe: Int = NProbe): DataFrame = {
    val cc = centColsFor(s, d)
    cc.attach(q)
      .withColumn("cell", explode(NativeVector.argTopKDot(col("qv"), cc.flat, cc.sn, lit(nProbe))))
      .select(col("q_id"), col("qv"), col("cell"))
  }

  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val corpusCells = assignCells(c, s, d)
      .select(col("vec_id"), col("v"), col("cell"))
    topK(broadcast(queryProbes(q, s, d)).join(corpusCells, "cell")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  // ----------------------------------------------------------- probe sweep
  /** IVF nprobe tuning curve — recall@[[K]] and scanned-candidate cost at
    * each probe width in [[ProbeSweep]]: the table a deployment reads to
    * pick its recall/latency point (the published IVF trade-off measured
    * on THIS corpus and THIS trained quantizer, not quoted from a paper).
    * Reuses the trained centroids, the native looping probe ranking, and
    * the two-phase top-k; ground truth is the exact brute top-[[K]].
    * Output is |[[ProbeSweep]]| rows: nprobe, candidates scanned (the cost
    * driver — the scan fraction nprobe/cells buys), hits, recall ppm.
    */
  val ProbeSweep = Seq(1, 4, 16)

  def knnIvfProbeSweep(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    // cell index ∥ exact truth — independent chains (r15, guide §2.6)
    val two = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize(assignCells(c, s, d) // scanned once per point
        .select(col("vec_id"), col("v"), col("cell"))),
      () => Scale.materialize(
        knnBrute(s, d).select(col("q_id"), col("nn_id")))), slots = 2)
    val (corpusCells, brute) = (two(0), two(1))
    ProbeSweep.map { np =>
      val scored = broadcast(queryProbes(q, s, d, np))
        .join(corpusCells, "cell")
      val nCands = scored.agg(count(lit(1)).as("n_candidates"))
      val res = topK(scored
          .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
        .select(col("q_id"), col("nn_id"))
      val hits = brute.join(res, Seq("q_id", "nn_id"))
        .agg(count(lit(1)).as("n_hits"))
      nCands.crossJoin(hits)
        .select(lit(np).as("nprobe"), col("n_candidates"), col("n_hits"),
          expr(s"n_hits * 1000000 div ${NumQueries.toLong * K}")
            .as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** The sweep restated per probe width against the same literal trained
    * centroids (generated-after-training contract). `fast` swaps the
    * sequential-fold cosine for list_dot_product in the brute ground
    * truth and the per-candidate scoring (the sf1+ form).
    */
  private def probeSweepOracleSql(cents: Array[Array[Double]],
      fast: Boolean = false): String = {
    val cellRows = cellRowsSql(cents)
    def perNp(np: Int): String =
      s"""qa$np AS (SELECT q_id, qv, cell FROM (
         |  SELECT q.q_id, q.qv, cells.cell,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY ${dotSql("q.qv", "cells.cv")} / cells.sn DESC,
         |        cells.cell) AS r
         |  FROM q, cells) t WHERE r <= $np),
         |sc$np AS (SELECT qa$np.q_id, ca.vec_id,
         |    ${hammingCosSql("qa" + np + ".qv", "ca.v", fast)} AS cos
         |  FROM qa$np JOIN ca USING (cell)),
         |t$np AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
         |      AS rank FROM sc$np) WHERE rank <= $K),
         |n$np AS (SELECT count(*) AS n_candidates FROM sc$np),
         |h$np AS (SELECT count(*) AS n_hits FROM t$np
         |  JOIN br ON br.q_id = t$np.q_id AND br.vec_id = t$np.vec_id)"""
        .stripMargin
    def rowNp(np: Int): String =
      s"""SELECT $np AS nprobe, CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_hits * 1000000 // ${NumQueries.toLong * K} AS BIGINT)
         |    AS recall_ppm
         |FROM n$np, h$np""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |cells AS ($cellRows),
       |ca AS (SELECT vec_id, v, cell FROM (
       |  SELECT c.vec_id, c.v, cells.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${dotSql("c.v", "cells.cv")} / cells.sn DESC,
       |        cells.cell) AS r
       |  FROM c, cells) t WHERE r = 1),
       |bsc AS (SELECT q_id, c.vec_id, ${hammingCosSql("qv", "v", fast)} AS cos
       |  FROM q, c),
       |br AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
       |      AS rank FROM bsc) WHERE rank <= $K),
       |${ProbeSweep.map(perNp).mkString(",\n")}
       |${ProbeSweep.map(rowNp).mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ------------------------------------------------------------- outliers
  /** Outlier report size. */
  val OutlierK = 50

  /** Quantization-error outliers: the corpus vectors farthest (lowest
    * cosine) from their own nearest trained centroid — the standard
    * embedding-space data-quality sweep (out-of-distribution and
    * mislabeled rows surface first; SemDeDup's "far from every cluster"
    * tail). Reuses the dir's trained IVF centroids ([[centroidsFor]]), so
    * the sweep costs ONE map-side argmax + cosine per vector (no join, no
    * shuffle beyond the global top-[[OutlierK]], which is a TakeOrdered —
    * a per-partition heap then a driver merge of 50-row heads, the only
    * correct shape for a global top-k at 10^9 vectors). The oracle
    * restates the same literal centroids (generated-after-training
    * contract), cell argmax, and IEEE cosine.
    */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val c = split(s, d)._2
    val cc = centColsFor(s, d)
    val dim = centroidsFor(s, d)(0).length
    val scored = cc.cleanup(cc.attach(c)
      .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn))
      .withColumn("cos", NativeVector.cosine(col("v"),
        slice(cc.flat, col("cell") * dim + 1, lit(dim)))))
    val top = scored.orderBy(col("cos").asc, col("vec_id")).limit(OutlierK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").asc, col("vec_id"))))
    Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      .join(broadcast(top), "vec_id")
      .select(col("rnk"), col("vec_id"), col("label"), col("cell"),
        detRound(lit(1.0) - col("cos"), 6).as("qerr"))
  }

  private def outliersOracleSql(cents: Array[Array[Double]]): String = {
    val cellRows = cellRowsSql(cents)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |cells AS ($cellRows),
       |ca AS (SELECT vec_id, v, label, cell FROM (
       |  SELECT c.vec_id, c.v, c.label, cells.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${dotSql("c.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM c, cells) t WHERE r = 1),
       |sc AS (SELECT ca.vec_id, ca.label, ca.cell,
       |    ${cosineSql("ca.v", "cells.cv")} AS cos
       |  FROM ca JOIN cells USING (cell)),
       |rk AS (SELECT *, row_number() OVER (ORDER BY cos ASC, vec_id) AS rnk
       |  FROM sc)
       |SELECT CAST(rnk AS INT) AS rnk, vec_id, label, cell,
       |  floor((1e0 - cos) * 1e6) / 1e6 AS qerr
       |FROM rk WHERE rnk <= $OutlierK""".stripMargin
  }

  // ------------------------------------------------------- cluster purity
  /** Clustering-quality evaluation over the trained IVF cells: per-cell
    * label contingency → majority label + purity, plus a corpus-wide
    * `_all` row (Σ majority counts / n — the standard external purity
    * metric). The eval a 100 TB embedding pipeline runs after (re)training
    * its coarse quantizer: one map-side argmax per vector, a (cell, label)
    * count-agg (cells x labels cells — bounded model statistics, fully
    * map-side partial), everything downstream on that bounded frame.
    * Integer counts end to end; the two divisions are final-projection
    * floors. Generated oracle restates the literal centroids + argmax.
    */
  def embedClusterPurity(s: SparkSession, d: String): DataFrame = {
    val c = Tables.embeddings(s, d)
      .filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    val assigned = {
      val cc = centColsFor(s, d)
      cc.cleanup(cc.attach(c)
        .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
    }
    val cont = assigned.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val per = cont
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
          .orderBy(col("cnt").desc, col("label"))))
      .withColumn("n_vecs", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
      .filter(col("r") === 1)
      .select(col("cell"), col("n_vecs"), col("label").as("top_label"),
        col("cnt").as("top_cnt"))
    val overall = per.agg(sum(col("top_cnt")).as("top_cnt"),
        sum(col("n_vecs")).as("n_vecs"))
      .select(lit(-1).as("cell"), col("n_vecs"),
        lit(-1).as("top_label"), col("top_cnt"))
    per.unionByName(overall)
      .select(col("cell"), col("n_vecs"), col("top_label"), col("top_cnt"),
        (floor(col("top_cnt").cast("double") / col("n_vecs").cast("double") * 1e4) / 1e4)
          .as("purity"))
  }

  private def purityOracleSql(cents: Array[Array[Double]]): String = {
    val cellRows = cellRowsSql(cents)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings WHERE vec_id >= $NumQueries),
       |cells AS ($cellRows),
       |ca AS (SELECT vec_id, label, cell FROM (
       |  SELECT e.vec_id, e.label, cells.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotSql("e.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM e, cells) t WHERE r = 1),
       |cont AS (SELECT cell, label, count(*) AS cnt FROM ca GROUP BY 1, 2),
       |per AS (SELECT cell, n_vecs, label AS top_label, cnt AS top_cnt FROM (
       |  SELECT cell, label, cnt,
       |    row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label) AS r,
       |    sum(cnt) OVER (PARTITION BY cell) AS n_vecs
       |  FROM cont) t WHERE r = 1),
       |uni AS (SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs, top_label,
       |    top_cnt FROM per
       |  UNION ALL SELECT -1, CAST(sum(n_vecs) AS BIGINT), -1,
       |    CAST(sum(top_cnt) AS BIGINT) FROM per)
       |SELECT cell, n_vecs, top_label, top_cnt,
       |  floor(CAST(top_cnt AS DOUBLE) / CAST(n_vecs AS DOUBLE) * 1e4) / 1e4
       |    AS purity
       |FROM uni""".stripMargin
  }

  // ------------------------------------------------------ IVF cell balance
  /** IVF index-health report — the balance statistics an operator reads
    * before trusting an IVF layout at scale (a hot cell means probe-time
    * skew; empty cells mean wasted train budget): per-cell population of
    * the trained coarse quantizer, collapsed to one bounded row of
    * min/max/avg/empties plus an imbalance factor (max·cells/n, 1e6 = a
    * perfectly even layout). One map-side argmax per vector (the audited
    * [[assignCells]] expression), a cell-keyed count agg (≤ cells rows),
    * then a 1-row rollup — nothing corpus-sized survives the first agg.
    * DECIMAL guards max_cell·cells·1e6; everything else is 64-bit integer,
    * so the generated oracle (literal centroids) is hash-exact.
    */
  def embedIvfBalance(s: SparkSession, d: String): DataFrame = {
    val c = split(s, d)._2
    val cells = centroidsFor(s, d).length
    val counts = assignCells(c, s, d)
      .groupBy(col("cell")).agg(count(lit(1)).as("cn"))
    counts.agg(count(lit(1)).as("used0"),
        sum(col("cn")).as("n_vecs"),
        min(col("cn")).as("min_cell"),
        max(col("cn")).as("max_cell"))
      .select(lit(cells.toLong).as("n_cells"),
        col("used0").as("used_cells"),
        (lit(cells.toLong) - col("used0")).as("empty_cells"),
        col("n_vecs"), col("min_cell"), col("max_cell"),
        expr(s"CAST(CAST(CAST(max_cell AS DECIMAL(38,0)) * $cells * 1000000 " +
          "AS DECIMAL(38,0)) div n_vecs AS BIGINT)").as("imbalance_ppm"))
  }

  private def ivfBalanceOracleSql(cents: Array[Array[Double]]): String = {
    val cellRows = cellRowsSql(cents)
    val cells = cents.length
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id >= $NumQueries),
       |cells AS ($cellRows),
       |ca AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, cells.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotSql("e.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM e, cells) t WHERE r = 1),
       |cnt AS (SELECT cell, count(*) AS cn FROM ca GROUP BY 1)
       |SELECT CAST($cells AS BIGINT) AS n_cells,
       |  count(*) AS used_cells,
       |  CAST($cells AS BIGINT) - count(*) AS empty_cells,
       |  CAST(sum(cn) AS BIGINT) AS n_vecs,
       |  min(cn) AS min_cell, max(cn) AS max_cell,
       |  CAST((CAST(max(cn) AS HUGEINT) * $cells * 1000000)
       |    // CAST(sum(cn) AS HUGEINT) AS BIGINT) AS imbalance_ppm
       |FROM cnt""".stripMargin
  }

  // ------------------------------------------------------- centroid drift
  /** Per-dimension fixed-point quantization for the drift centroids. */
  val DriftQ = 1000000L

  /** Per-label centroid drift from the corpus centroid — the domain-mix
    * diagnostic an embedding pipeline tracks across snapshots ("is this
    * slice's embedding mass moving away from the corpus?"). Every
    * component quantizes to floor(x·1e6) BIGINT FIRST, so the per-label
    * per-dimension sums are exact integers no aggregation order can
    * perturb; means use the shared truncating integer division (Spark
    * `div` ≡ DuckDB `//`); the mean-vector dot products and norms stay
    * ≤ dims·(1e6)² < 2^53, so the final double cosine is bit-identical in
    * both engines.
    *
    * Scale: one posexplode (corpus × dims rows, linear, map-side agg to
    * labels × dims), then everything runs on the bounded labels × dims
    * model frame with the dims-sized global sum broadcast back on.
    */
  def embedCentroidDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("label"), toDouble(col("embedding")).as("v"))
    val n = e.count() // corpus scalar, metadata-cheap
    val q = e.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x") * DriftQ).cast("long").as("q"))
    val byLab = q.groupBy(col("label"), col("dim")).agg(sum(col("q")).as("sq"))
    val nl = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val glob = byLab.groupBy(col("dim")).agg(sum(col("sq")).as("gq"))
    val m = byLab.join(nl, "label").join(broadcast(glob), "dim")
      .select(col("label"), col("n_vecs"),
        expr("sq div n_vecs").as("ml"), expr(s"gq div ${n}L").as("mg"))
    m.groupBy(col("label"), col("n_vecs"))
      .agg(sum(col("ml") * col("mg")).as("dotlg"),
        sum(col("ml") * col("ml")).as("n2l"),
        sum(col("mg") * col("mg")).as("n2g"))
      .select(col("label"), col("n_vecs"),
        expr("CASE WHEN n2l > 0 AND n2g > 0 THEN floor(CAST(dotlg AS DOUBLE) " +
          "/ sqrt(CAST(n2l AS DOUBLE) * CAST(n2g AS DOUBLE)) * 1e6) / 1e6 " +
          "ELSE 0e0 END").as("cos_centroid"))
  }

  private val driftOracleSql: String =
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT count(*) AS n FROM e),
       |q AS (SELECT label, CAST(i AS INT) - 1 AS dim,
       |    CAST(floor(v[CAST(i AS INT)] * $DriftQ) AS BIGINT) AS q
       |  FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
       |bylab AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq
       |  FROM q GROUP BY 1, 2),
       |nl AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY 1),
       |gsum AS (SELECT dim, CAST(sum(sq) AS BIGINT) AS gq FROM bylab GROUP BY 1),
       |m AS (SELECT label, n_vecs, sq // n_vecs AS ml, gq // n.n AS mg
       |  FROM bylab JOIN nl USING (label) JOIN gsum USING (dim), n),
       |p AS (SELECT label, n_vecs,
       |    CAST(sum(ml * mg) AS BIGINT) AS dotlg,
       |    CAST(sum(ml * ml) AS BIGINT) AS n2l,
       |    CAST(sum(mg * mg) AS BIGINT) AS n2g
       |  FROM m GROUP BY 1, 2)
       |SELECT label, n_vecs,
       |  CASE WHEN n2l > 0 AND n2g > 0
       |    THEN floor(CAST(dotlg AS DOUBLE)
       |      / sqrt(CAST(n2l AS DOUBLE) * CAST(n2g AS DOUBLE)) * 1e6) / 1e6
       |    ELSE 0e0 END AS cos_centroid
       |FROM p""".stripMargin

  // ------------------------------------------------------------- k-center
  /** Coreset size for the greedy k-center selection. */
  val KcK = 8

  /** Greedy k-center / farthest-point traversal (Gonzalez 1985) over
    * cosine distance — the classic diversity-coreset selection a
    * data-curation pipeline uses to pick maximally-spread exemplars (and
    * the 2-approximation to optimal k-center). Deterministic seed = lowest
    * vec_id; each round picks the vector minimizing max-cosine to the
    * chosen set (= farthest), ties to the lowest vec_id.
    *
    * Scale: each of the K-1 rounds is ONE map-side pass (cosines against
    * ≤ K literal center vectors, max is order-exact) ending in a global
    * top-1 TakeOrdered — K full scans total, no shuffle, no state beyond
    * the K collected center rows (the bounded-collect training contract).
    * The oracle unrolls the same K-1 rounds as CTEs with incremental
    * `greatest` — max over the same exactly-computed doubles, so
    * association cannot change the result.
    */
  def embedKcenter(s: SparkSession, d: String): DataFrame = {
    val c = split(s, d)._2
    val first = c.orderBy(col("vec_id")).limit(1).head()
    var centers =
      Vector((first.getLong(0), first.getSeq[Double](1).toArray, 2.0))
    for (_ <- 2 to KcK) {
      val sCol = centers.map { case (_, cv, _) =>
        NativeVector.cosine(col("v"), typedlit(cv.toIndexedSeq)) }
        .reduceLeft(greatest(_, _))
      val chosen = centers.map(_._1)
      val next = c.filter(!col("vec_id").isInCollection(chosen))
        .withColumn("s", sCol)
        .orderBy(col("s").asc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("s")).head()
      centers = centers :+
        ((next.getLong(0), next.getSeq[Double](1).toArray, 1.0 - next.getDouble(2)))
    }
    import s.implicits._
    centers.zipWithIndex.map { case ((id, _, dist), i) =>
      (i + 1, id, math.floor(dist * 1e6) / 1e6) }
      .toDF("rnk", "vec_id", "dist")
  }

  /** The unrolled greedy restated in SQL: round k's candidate frame
    * excludes the round-(k-1) pick and carries s = greatest(prev s, cos to
    * the new center); the seed row reports the 2e0 "unbounded" sentinel
    * (max possible 1−cos) as its distance-to-set, matching the Spark side.
    */
  private val kcenterOracleSql: String = {
    val rounds = (2 to KcK).map { k =>
      val prevS = if (k == 2) s"${cosineSql("s1.v", "c1.v")}"
      else s"greatest(s${k - 1}.s, ${cosineSql(s"s${k - 1}.v", s"c${k - 1}.v")})"
      // s1 is the base corpus frame; later frames chain exclusions
      val src = if (k == 2) "s1" else s"s${k - 1}"
      s"""s$k AS (SELECT $src.vec_id, $src.v, $prevS AS s
         |  FROM $src, c${k - 1} WHERE $src.vec_id <> c${k - 1}.vec_id),
         |c$k AS (SELECT vec_id, v, s FROM s$k ORDER BY s ASC, vec_id LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val sel = (2 to KcK).map(k =>
      s"UNION ALL SELECT $k AS rnk, vec_id, floor((1e0 - s) * 1e6) / 1e6 FROM c$k")
      .mkString("\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id >= $NumQueries),
       |c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |s1 AS (SELECT e.vec_id, e.v FROM e, c1 WHERE e.vec_id <> c1.vec_id),
       |$rounds
       |SELECT 1 AS rnk, vec_id, 2e0 AS dist FROM c1
       |$sel""".stripMargin
  }

  // ------------------------------------------------------------ kNN graph
  /** Approximate kNN GRAPH: every corpus vector's top GraphK neighbors
    * (self excluded) — the primitive semantic clustering, diversity
    * sampling, and graph-based dedup build on. Same IVF index as knn_ivf,
    * but the CORPUS is on BOTH sides: there is no query set to broadcast,
    * so candidates come from a plain equi-join on cell between the probe
    * rows (each vector ranks all cells against the literal centroid matrix
    * and keeps GraphProbe) and the cell-assigned corpus. GraphProbe < NProbe
    * because graph consumers want high-cos edges, not exhaustive top-10.
    *
    * Scale: the cell join's parallelism is bounded by the cell count,
    * which [[cellsFor]] sizes ∝ √n (floored at NumCells=32, UNCAPPED above
    * — the standard IVF rule, pinned in CentroidPlanSpec), so cell width
    * AND join parallelism both grow ∝ √n and the per-cell width² work
    * stays Θ(n) per cell round — subquadratic in total. The final top-k is
    * the two-phase bucketed operator — never a per-vector single reducer.
    */
  val GraphK = 5
  val GraphProbe = 4

  /** NN-descent refinement rounds after the IVF-cell base graph (Dong et
    * al., WWW'11): each round proposes neighbor-of-neighbor candidates
    * over the SYMMETRIZED current graph, scores only the new pairs, and
    * re-takes top-GraphK — cells miss cross-boundary true neighbors, and
    * "a neighbor of my neighbor is likely my neighbor" is exactly the
    * repair for that. Cost per round is bounded by construction: |sym| =
    * 2nk edges, the expansion join fans out ≤ (2k)² candidates per node
    * BEFORE dedup and the anti-join drops already-scored pairs, so the
    * rescoring join touches O(n·k²) id-keyed rows — no quadratic anywhere,
    * and the vectors travel only into the two final equi-joins.
    */
  val GraphDescentRounds = 2

  /** Reverse-neighbor cap for the NN-descent adjacency arrays (standard
    * NN-descent practice samples reverse neighbors; VERDICT r15 item 7):
    * after symmetrization a hub node's in-degree is unbounded in the worst
    * case, so without a cap the per-middle-node `collect_set` row can grow
    * with reverse-kNN in-degree. Each middle node keeps its [[GraphRevCap]]
    * SMALLEST neighbor ids (deterministic; restated identically in every
    * generated oracle, so build parity holds by construction wherever the
    * cap binds). 8·GraphK = 40 does NOT bind on this corpus at any tested
    * SF — measured max symmetrized degree 17/18/21 at sf0.001/0.01/0.1
    * — so results at the gate SFs are unchanged (SimilaritySpec pins the
    * cap as non-binding); it exists to bound the deployment-SF worst case.
    */
  val GraphRevCap = 8 * GraphK

  /** Single-exchange top-k for walk-sized frames: every group is bounded by
    * LITERAL constants (≤ beam·(GraphK+1) rows per query — never
    * corpus-dependent), so the bucketed two-phase of [[Scale.topKPerGroup]]
    * would pay a second exchange for skew protection these frames cannot
    * need. Same deterministic order ⇒ identical rows (r15).
    */
  private def topKBounded(df: DataFrame, groupCol: String, order: Seq[Column],
      k: Int): DataFrame =
    topKBounded(df, Seq(groupCol), order, lit(k))

  /** Multi-key / per-row-k variant (the batched sweep cuts each pane at its
    * own literal beam width). `kCol` must be a deterministic function of the
    * group columns only.
    */
  private def topKBounded(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], kCol: Column): DataFrame = {
    require(!df.columns.contains("rnk"),
      "topKBounded emits a 'rnk' column; input must not already have one")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= kCol)
  }

  private def topKEdges(scored: DataFrame): DataFrame =
    Scale.topKPerGroup(
        scored.select(col("src"), col("dst"), col("cos")),
        Seq("src"), Seq(col("cos").desc, col("dst")),
        k = GraphK, saltSrc = col("dst"))
      .select(col("src"), col("dst"), col("cos"), col("rnk"))

  def knnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphRounds(s, d, GraphDescentRounds)

  /** Rounds made parametric so the spec can measure the descent LIFT
    * (rounds = 0 is the raw cell graph). Measured on the synthetic corpus:
    * recall@5 0.55 (base) → 0.63 (1 round) → 0.69 (2 rounds) → saturates
    * (0.69 at 3) — synthetic near-uniform vectors have weak
    * neighbor-of-neighbor locality, which bounds what ANY graph refinement
    * can recover; on clustered real embeddings the same rounds close to
    * ≥0.9 (Dong et al.). The floor asserted in SimilaritySpec is the
    * measured-backed 0.65 with the lift assertion carrying the real
    * regression guard.
    */
  private[graft] def knnGraphRounds(s: SparkSession, d: String,
      descentRounds: Int): DataFrame =
    topKEdges(knnGraphEdgesOver(corpus(s, d), s, d, descentRounds))
      .select(col("src").as("vec_id"), col("dst").as("nbr_id"),
        col("rnk").as("rank"), detRound(col("cos"), 6).as("cos"))

  /** The kNN-graph edge build over an arbitrary node frame (vec_id, v) —
    * factored from [[knnGraphRounds]] so [[knnGraphSearch]] can build the
    * SAME graph over the corpus slice only (query ids excluded: a search
    * structure must not contain its own probes). Returns the un-renamed
    * (src, dst, cos) edge frame after the final descent round.
    */
  private def knnGraphEdgesOver(e: DataFrame, s: SparkSession, d: String,
      descentRounds: Int): DataFrame = {
    val cc = centColsFor(s, d)
    val cellAssigned = cc.cleanup(cc.attach(e)
      .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
    val probes = cc.attach(e)
      .withColumn("cell",
        explode(NativeVector.argTopKDot(col("v"), cc.flat, cc.sn, lit(GraphProbe))))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
    val scored = probes.join(cellAssigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
      .select(col("q_id").as("src"), col("vec_id").as("dst"), col("cos"))
    var edges = topKEdges(scored).drop("rnk").transform(Scale.materialize)
    for (_ <- 1 to descentRounds) {
      val sym = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      // neighbor-of-neighbor expansion via per-middle-node adjacency arrays
      // (the part_pagerank edge-build shape): one groupBy exchange + a
      // map-side double explode replaces the sym⋈sym sort-merge self-join's
      // two sort exchanges — measured 1.5-2× faster per round at sf0.1 with
      // bit-identical output (r15). Array width is bounded by [[GraphRevCap]]
      // per node: out-degree is ≤ GraphK by construction, but a hub's
      // REVERSE in-degree is not, so the sorted slice keeps the cap's
      // smallest neighbor ids (non-binding at every tested SF — see
      // GraphRevCap; the oracles state the identical ranked cut).
      val cand = sym.groupBy(col("src").as("b"))
        .agg(collect_set(col("dst")).as("ns0"))
        .select(slice(array_sort(col("ns0")), 1, GraphRevCap).as("ns"))
        .select(explode(col("ns")).as("a"), col("ns"))
        .select(col("a"), explode(col("ns")).as("c"))
        .filter(col("a") =!= col("c"))
        .select(col("a").as("src"), col("c").as("dst")).distinct()
        .join(edges.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
      val freshScored = cand
        .join(e.select(col("vec_id").as("src"), col("v").as("va")), "src")
        .join(e.select(col("vec_id").as("dst"), col("v").as("vc")), "dst")
        .withColumn("cos", NativeVector.cosine(col("va"), col("vc")))
        .select(col("src"), col("dst"), col("cos"))
      edges = topKEdges(edges.unionByName(freshScored)).drop("rnk")
        .transform(Scale.materialize)
    }
    edges
  }

  /** Beam width and hop count for [[knnGraphSearch]]. Entry is
    * CENTROID-GUIDED (the NSG/DiskANN discipline — enter the graph where
    * a coarse route already localized the query): beam₀ is the exact
    * top-[[GsBeam]] of the query's argmax cell's members (one-probe scan,
    * ≤ corpus/cells scorings). Measured at sf1 (20k isotropic vectors,
    * the navigability worst case — graph methods assume small-world
    * structure random data lacks): fixed global entries read 0.05
    * recall, lowest-id cell seeds 0.10 — an arbitrary start gives the
    * walk no gradient; the one-probe exact entry restores the coarse
    * route's locality and the hops expand from there.
    */
  val GsBeam = 16
  val GsHops = 4

  /** Graph-based ANN SEARCH — the HNSW/NSG-class serving route, completing
    * the index-family set (LSH, IVF, PQ/OPQ, IVFPQ, SQ8, Hamming, and now
    * graph): queries walk the [[knnGraph]] structure instead of scanning
    * cells. The walk is greedy BEAM search expressed as Pregel-style
    * supersteps so every query advances in parallel: beam₀ = the exact
    * top-[[GsBeam]] of the query's argmax cell (centroid-guided entry);
    * each hop scores the beam's unvisited out-neighbors (symmetrized
    * adjacency) and keeps the top-[[GsBeam]] of beam ∪ new; after
    * [[GsHops]] hops the top-[[K]] of the final beam is the answer.
    * Fully deterministic: exact IEEE cosines, ties to the smaller vec_id,
    * deterministic entry — the oracle restates the identical unrolled
    * hops. Recall honesty (knn_graph_search_recall, measured): 0.62 at
    * the gate SF; 0.19 at sf1 — the isotropic corpus is the PATHOLOGICAL
    * case for graph ANN (navigable-small-world structure is the method's
    * premise and random high-dim data has none), so the walk collapses
    * toward its scan fraction (~3.5% of corpus touched vs knn_ivf's 11%);
    * the entry-strategy sweep that picked this design read 0.05 (fixed
    * global entries) → 0.10 (cell id-seeds) → 0.19 (one-probe exact
    * entry) at sf1. Real embedding corpora cluster — the audit publishes
    * the per-deploy number and beam/hops are the levers.
    *
    * Scale: this is THE serving argument for graph indexes — per query
    * per hop the work is ≤ beam × GraphK candidate scorings regardless of
    * corpus size (vs IVF's cells-probed scan fraction): O(hops·beam·K)
    * total per query. The graph build is the one-time index cost, shared
    * with [[knnGraph]] and maintainable by `stream_knn_graph`. Each hop is
    * one join of the (queries × beam)-sized frontier against the
    * materialized adjacency plus one bounded top-k — no corpus scan
    * anywhere after the build.
    */
  /** The walk's (entry beam, final beam) pair — factored so
    * [[knnGraphSearchLift]] can audit what the hops ADD over the
    * one-probe entry.
    */
  private def graphSearchBeams(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val (q, c) = split(s, d)
    // centroid-guided entry (the DiskANN/NSG discipline — enter the graph
    // where a coarse route already localized the query): beam₀ = the
    // exact top-GsBeam of the query's ARGMAX CELL members (a one-probe
    // scan, ≤ corpus/cells scorings per query), and the hops expand from
    // there through the graph
    val cc = centColsFor(s, d)
    // graph build and entry beam are independent chains — overlap them
    // (Scale.inParallel) instead of paying their walls back to back (r15)
    val two = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize {
        val e0 = knnGraphEdgesOver(c, s, d, GraphDescentRounds)
          .select(col("src"), col("dst"))
        e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
      },
      () => {
        val cellAssigned = cc.cleanup(cc.attach(c)
            .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
          .select(col("cell"), col("vec_id"), col("v"))
        val qCell = cc.cleanup(cc.attach(q.withColumnRenamed("qv", "v"))
            .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
          .select(col("q_id"), col("v").as("qv"), col("cell"))
        Scale.materialize(Scale.topKPerGroup(
            broadcast(qCell).join(cellAssigned, "cell")
              .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
              .select(col("q_id"), col("vec_id"), col("cos")),
            Seq("q_id"), Seq(col("cos").desc, col("vec_id")), k = GsBeam,
            saltSrc = col("vec_id"))
          .drop("rnk"))
      }), slots = 2)
    val (sym, beam0) = (two(0), two(1))
    var beam = beam0
    // Every walk frame is bounded by literals (≤ NumQueries·beam·GraphK
    // rows), so the hop joins BROADCAST the walk side: sym and the corpus
    // stream through build-side hash joins with no exchange — previously
    // each hop re-shuffled (and sorted) the corpus-sized sym/c frames
    // because the checkpointed beam carries no size stats and the planner
    // fell back to sort-merge (r15, guide §3.1).
    for (_ <- 1 to GsHops) {
      val nb = broadcast(beam.select(col("q_id"), col("vec_id")))
        .join(sym, col("vec_id") === col("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
        .distinct()
        .join(broadcast(beam.select(col("q_id"), col("vec_id"))),
          Seq("q_id", "vec_id"), "left_anti")
      val scored = broadcast(nb).join(c, "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
        .select(col("q_id"), col("vec_id"), col("cos"))
      beam = topKBounded(beam.unionByName(scored), "q_id",
          Seq(col("cos").desc, col("vec_id")), k = GsBeam)
        .drop("rnk")
        .transform(Scale.materialize)
    }
    (beam0, beam)
  }

  def knnGraphSearch(s: SparkSession, d: String): DataFrame =
    topKBounded(graphSearchBeams(s, d)._2, "q_id",
        Seq(col("cos").desc, col("vec_id")), k = K)
      .select(col("q_id"), col("vec_id").as("nn_id"),
        col("rnk").as("rank"), detRound(col("cos"), 6).as("cos"))

  /** What the WALK adds over its entry — per query, true-neighbor hits@K
    * of the entry beam alone vs after the hops (both against exact
    * brute), and the lift. The mechanism-level companion to
    * [[knnGraphSearchRecall]]: entry_hits is the one-probe coarse route's
    * contribution, lift is the graph's, so "is the graph index earning
    * its build cost on THIS corpus" is a measured per-deploy number
    * rather than an aggregate guess.
    */
  def knnGraphSearchLift(s: SparkSession, d: String): DataFrame = {
    // the exact-truth kernel and the walk are independent chains — overlap
    // them (Scale.inParallel) instead of paying their walls back to back
    val two = Scale.inParallel[Either[DataFrame, (DataFrame, DataFrame)]](Seq(
      () => Left(Scale.materialize(
        knnBrute(s, d).select(col("q_id"), col("nn_id")))),
      () => Right(graphSearchBeams(s, d))), slots = 2)
    val brute = two.collectFirst { case Left(b) => b }.get
    val (b0, bn) = two.collectFirst { case Right(p) => p }.get
    def hitsOf(b: DataFrame): DataFrame =
      broadcast(topKBounded(b, "q_id",
          Seq(col("cos").desc, col("vec_id")), k = K)
        .select(col("q_id"), col("vec_id").as("nn_id")))
        .join(brute, Seq("q_id", "nn_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
    val h0 = hitsOf(b0).withColumnRenamed("h", "h0")
    val hn = hitsOf(bn).withColumnRenamed("h", "hn")
    brute.select(col("q_id")).distinct()
      .join(broadcast(h0), Seq("q_id"), "left_outer")
      .join(broadcast(hn), Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("h0"), lit(0L)).as("entry_hits"),
        coalesce(col("hn"), lit(0L)).as("final_hits"),
        (coalesce(col("hn"), lit(0L)) - coalesce(col("h0"), lit(0L)))
          .as("lift"))
  }

  /** Recall@[[K]] of the graph-search route vs exact brute — the number a
    * graph index is judged by (its recall is bounded by the underlying
    * graph's quality: on this isotropic corpus the descent saturates at
    * ~0.69 edge recall, and the walk inherits that ceiling).
    */
  def knnGraphSearchRecall(s: SparkSession, d: String): DataFrame =
    recallOf(knnGraphSearch(s, d))(s, d)

  /** The graph-search tuning panes for [[knnGraphParamSweep]]: each
    * deployment lever swept one-at-a-time around the default
    * (entry=1 probe, beam=[[GsBeam]], hops=[[GsHops]]) — the
    * dedup_ann_probe_sweep discipline applied to the graph route, so
    * which knob buys recall on THIS corpus is a published number, not a
    * guess. Hop pane: the full 0..[[GsHopsMax]] curve from ONE walk (the
    * beam is monotone through hops, so every prefix is a free snapshot).
    * Beam pane: [[GsBeamSweep]] at the default hops. Entry pane:
    * [[GsEntrySweep]] probe cells feeding the entry beam.
    *
    * Measured (r15): the levers trade places with corpus structure. Gate
    * SF: beam 8/16/32 → recall 0.40/0.62/0.81 (THE lever), hops saturate
    * at 5–6, extra entry probes buy little (0.62→0.64/0.68). sf1 (20k
    * ISOTROPIC vectors — no small-world structure for the walk to
    * exploit): hops saturate already at 3 (0.10 entry-only → 0.19), and
    * entry probes rival the beam — beam 32 and entry 4 both read 0.27 vs
    * 0.19 default — because each extra probe is an exact one-cell scan
    * (gradient-free recall), while a wider beam pays every hop's join.
    * Deployment reading: clustered corpora widen the beam; unstructured
    * ones widen the entry first.
    */
  val GsBeamSweep = Seq(8, 32)
  val GsEntrySweep = Seq(2, 4)
  val GsHopsMax = 6

  def knnGraphParamSweep(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val cc = centColsFor(s, d)
    // The three shared frames are independent chains — build them
    // concurrently (graph build ∥ entry-scan index ∥ exact truth), then run
    // the five independent walks concurrently too: the sweep's wall was 30+
    // back-to-back tiny jobs whose per-job latency, not compute, dominated
    // (r15, guide §2.6). Each thunk is deterministic and self-contained, so
    // the emitted rows are identical to the sequential order.
    val shared = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize { // every walk's hop joins read it
        val e0 = knnGraphEdgesOver(c, s, d, GraphDescentRounds)
          .select(col("src"), col("dst"))
        e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
      },
      () => Scale.materialize( // every walk's entry scan reads it
        cc.cleanup(cc.attach(c)
            .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
          .select(col("cell"), col("vec_id"), col("v"))),
      () => Scale.materialize(
        knnBrute(s, d).select(col("q_id"), col("nn_id")))), slots = 3)
    val (sym, cellAssigned, brute) = (shared(0), shared(1), shared(2))
    val denom = NumQueries.toLong * K

    // The five sweep walks advance as ONE batched walk keyed by (wid, q_id):
    // wid 0 is the hop pane (entry 1, beam GsBeam, hits snapshotted at every
    // hop 0..GsHopsMax), wids 1.. are the beam pane (GsBeamSweep) then the
    // entry pane (GsEntrySweep), both snapshotted at GsHops. Every join and
    // window below keys on wid, so no rows cross panes and each pane's beam
    // sequence is identical to the r15 five separate walks — but one hop job
    // now serves all five panes: the r15 shape paid 27 beam-materialize
    // fences across five concurrent chains (driver bench 23.0 s vs 7.8 s
    // isolated — per-job latency, not compute, was the wall); this shape
    // pays 7 (guide §2.6, batched instead of merely overlapped).
    val panes: Seq[(Int, Int, Int)] = // (wid, entry probes, beam width)
      (0, 1, GsBeam) +:
        (GsBeamSweep.zipWithIndex.map { case (b, i) => (i + 1, 1, b) } ++
          GsEntrySweep.zipWithIndex.map { case (e, i) =>
            (1 + GsBeamSweep.size + i, e, GsBeam) })
    val maxBeam = panes.map(_._3).max
    // per-pane beam width as a literal CASE over wid — the per-pane top-k
    // cut. Ranking to maxBeam and cutting at widBeam is row-identical to
    // ranking each pane to its own k: a row at in-pane rank r > widBeam can
    // never be in that pane's top-widBeam, and ranks ≤ widBeam are equal in
    // both formulations (same total order).
    val widBeam: Column = panes.tail.foldLeft(
        when(col("wid") === panes.head._1, panes.head._3)) {
      case (e, (wid, _, b)) => e.when(col("wid") === wid, b)
    }

    def hitsRow(beam: DataFrame, wid: Int, entry: Int, b: Int,
        hop: Int): DataFrame = {
      val top = topKBounded(
          beam.filter(col("wid") === wid).drop("wid"), "q_id",
          Seq(col("cos").desc, col("vec_id")), k = K)
        .select(col("q_id"), col("vec_id").as("nn_id"))
      broadcast(top).join(brute, Seq("q_id", "nn_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(entry).as("entry_probes"), lit(b).as("beam"),
          lit(hop).as("hops"), col("n_hits"),
          expr(s"n_hits * 1000000 div $denom").as("recall_ppm"))
    }

    // entry probes: panes sharing an entry width reuse one probe ranking
    // (map-side explode of the pane ids — no extra pass, no shuffle)
    val probes = panes.groupBy(_._2).toSeq.sortBy(_._1).map { case (e, ps) =>
      queryProbes(q, s, d, e)
        .withColumn("wid", explode(typedlit(ps.map(_._1))))
    }.reduce(_ unionByName _)
    val beam0 = Scale.topKPerGroup(
        broadcast(probes).join(cellAssigned, "cell")
          .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
          .select(col("wid"), col("q_id"), col("vec_id"), col("cos")),
        Seq("wid", "q_id"), Seq(col("cos").desc, col("vec_id")), k = maxBeam,
        saltSrc = col("vec_id"))
      .filter(col("rnk") <= widBeam)
      .drop("rnk")
      .transform(Scale.materialize)

    // hits snapshots are lazy 1-row aggregates over the materialized beams —
    // they all evaluate inside the caller's single final action
    val snaps = scala.collection.mutable.Map.empty[(Int, Int), DataFrame]
    snaps((0, 0)) = hitsRow(beam0, 0, 1, GsBeam, 0)
    var beam = beam0
    for (h <- 1 to GsHopsMax) {
      // panes other than the hop pane stop advancing past GsHops
      val cur = if (h > GsHops) beam.filter(col("wid") === 0) else beam
      // walk frames are literal-bounded (≤ NumQueries·Σbeams rows) —
      // broadcast them so sym and the corpus stream (no per-hop exchange),
      // same shape as [[graphSearchBeams]]'s hops (r15)
      val nb = broadcast(cur.select(col("wid"), col("q_id"), col("vec_id")))
        .join(sym, col("vec_id") === col("src"))
        .select(col("wid"), col("q_id"), col("dst").as("vec_id"))
        .distinct()
        .join(broadcast(cur.select(col("wid"), col("q_id"), col("vec_id"))),
          Seq("wid", "q_id", "vec_id"), "left_anti")
      val scored = broadcast(nb).join(c, "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cos", NativeVector.cosine(col("qv"), col("v")))
        .select(col("wid"), col("q_id"), col("vec_id"), col("cos"))
      beam = topKBounded(cur.unionByName(scored), Seq("wid", "q_id"),
          Seq(col("cos").desc, col("vec_id")), kCol = widBeam)
        .drop("rnk")
        .transform(Scale.materialize)
      if (h == GsHops) panes.foreach { case (wid, e, b) =>
        snaps((wid, h)) = hitsRow(beam, wid, e, b, h)
      }
      else snaps((0, h)) = hitsRow(beam, 0, 1, GsBeam, h)
    }
    // emission order preserved from the r15 five-walk form: hop pane rows
    // (hops ascending), then beam panes, then entry panes
    val rows = (0 to GsHopsMax).map(h => snaps((0, h))) ++
      panes.tail.map { case (wid, _, _) => snaps((wid, GsHops)) }
    rows.reduce(_ unionByName _)
  }

  /** [[knnGraphSearch]]'s oracle from the trained centroids: the
    * [[graphScaleOracleSql]] chain (native list_dot_product scoring —
    * measured bit-identical to the sequential fold on this data, the
    * established precedent) rebuilt over the CORPUS slice, then the
    * identical unrolled beam hops. MATERIALIZED hints like the graph
    * chain (each hop references its predecessor three times). Used for
    * BOTH the gate and scale oracles — the sf0.01 hash gate re-verifies
    * the bit-identity claim every round.
    */
  /** Shared DuckDB restatement of the GRAPH BUILD half (cell-probed seed
    * edges + [[GraphDescentRounds]] of neighbor descent + the symmetrized
    * adjacency `symg`), factored so every graph-search audit (search,
    * recall, lift, param sweep) states the identical structure once.
    * Exposes: e, en, gn, qq, cells, ca (corpus + argmax cell), symg.
    */
  private def graphBuildCtes(cents: Array[Array[Double]]): String = {
    def cosN(qa: String, qb: String, n2a: String, n2b: String) =
      s"(list_dot_product($qa, $qb) / sqrt($n2a * $n2b))"
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |en AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |gn AS (SELECT * FROM en WHERE vec_id >= $NumQueries),
         |qq AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM en
         |  WHERE vec_id < $NumQueries),
         |cells AS (${cellRowsSql(cents)}),
         |ca AS (SELECT vec_id, v, n2, cell FROM (
         |  SELECT gn.vec_id, gn.v, gn.n2, cells.cell,
         |    row_number() OVER (PARTITION BY gn.vec_id
         |      ORDER BY list_dot_product(gn.v, cells.cv) / cells.sn DESC, cells.cell) AS r
         |  FROM gn, cells) t WHERE r = 1),
         |pa AS (SELECT p_id, pv, n2 AS pn2, cell FROM (
         |  SELECT gn.vec_id AS p_id, gn.v AS pv, gn.n2, cells.cell,
         |    row_number() OVER (PARTITION BY gn.vec_id
         |      ORDER BY list_dot_product(gn.v, cells.cv) / cells.sn DESC, cells.cell) AS r
         |  FROM gn, cells) t WHERE r <= $GraphProbe),
         |sc AS (SELECT pa.p_id AS src, ca.vec_id AS dst,
         |    ${cosN("pa.pv", "ca.v", "pa.pn2", "ca.n2")} AS cos
         |  FROM pa JOIN ca USING (cell) WHERE pa.p_id <> ca.vec_id),
         |e0 AS (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM sc) t WHERE rank <= $GraphK)""".stripMargin
    val rounds = (1 to GraphDescentRounds).map { r =>
      val prev = s"e${r - 1}"
      s"""sym$r AS (SELECT src, dst FROM $prev
         |  UNION SELECT dst, src FROM $prev),
         |adjr$r AS (SELECT m, n FROM (
         |  SELECT src AS m, dst AS n,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
         |  FROM sym$r) t WHERE rn <= $GraphRevCap),
         |cand$r AS (
         |  SELECT DISTINCT s1.n AS src, s2.n AS dst
         |  FROM adjr$r s1 JOIN adjr$r s2 ON s1.m = s2.m WHERE s1.n <> s2.n
         |  EXCEPT SELECT src, dst FROM $prev),
         |fresh$r AS (SELECT c.src, c.dst,
         |    ${cosN("a.v", "b.v", "a.n2", "b.n2")} AS cos
         |  FROM cand$r c JOIN gn a ON c.src = a.vec_id JOIN gn b ON c.dst = b.vec_id),
         |e$r AS (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM (SELECT * FROM $prev UNION ALL SELECT * FROM fresh$r) u) t
         |  WHERE rank <= $GraphK)""".stripMargin
    }
    val last = s"e$GraphDescentRounds"
    s"""$base,
       |${rounds.mkString(",\n")},
       |symg AS (SELECT src, dst FROM $last
       |  UNION SELECT dst, src FROM $last)""".stripMargin
  }

  /** One walk's CTEs over [[graphBuildCtes]]: entry cells (top-`entry`
    * probe cells per query), entry beam (top-`beam` of those cells'
    * members), then `maxHop` beam-search hops. All CTE names carry `tag`
    * so several walks can share one WITH body (the param sweep). The
    * default walk is tag="", entry=1, beam=[[GsBeam]], maxHop=[[GsHops]] —
    * textually identical to what knn_graph_search's oracle always stated.
    */
  private def graphWalkCtes(tag: String, entry: Int, beam: Int,
      maxHop: Int): String = {
    def cosN(qa: String, qb: String, n2a: String, n2b: String) =
      s"(list_dot_product($qa, $qb) / sqrt($n2a * $n2b))"
    val hops = (1 to maxHop).map { h =>
      val prev = s"b$tag${h - 1}"
      s"""nb$tag$h AS (
         |  SELECT DISTINCT b.q_id, symg.dst AS vec_id
         |  FROM $prev b JOIN symg ON b.vec_id = symg.src
         |  EXCEPT SELECT q_id, vec_id FROM $prev),
         |sch$tag$h AS (SELECT nb.q_id, nb.vec_id,
         |    ${cosN("qq.qv", "g.v", "qq.qn2", "g.n2")} AS cos
         |  FROM nb$tag$h nb JOIN gn g ON nb.vec_id = g.vec_id
         |  JOIN qq ON nb.q_id = qq.q_id),
         |b$tag$h AS (SELECT q_id, vec_id, cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
         |  FROM (SELECT * FROM $prev UNION ALL SELECT * FROM sch$tag$h) u) t
         |  WHERE r <= $beam)""".stripMargin
    }
    val entryCmp = if (entry == 1) "= 1" else s"<= $entry"
    s"""qc$tag AS (SELECT q_id, qv, qn2, cell FROM (
       |  SELECT qq.q_id, qq.qv, qq.qn2, cells.cell,
       |    row_number() OVER (PARTITION BY qq.q_id
       |      ORDER BY list_dot_product(qq.qv, cells.cv) / cells.sn DESC, cells.cell) AS r
       |  FROM qq, cells) t WHERE r $entryCmp),
       |b${tag}0 AS (SELECT q_id, vec_id, cos FROM (
       |  SELECT qc$tag.q_id, ca.vec_id,
       |    ${cosN(s"qc$tag.qv", "ca.v", s"qc$tag.qn2", "ca.n2")} AS cos,
       |    row_number() OVER (PARTITION BY qc$tag.q_id
       |      ORDER BY ${cosN(s"qc$tag.qv", "ca.v", s"qc$tag.qn2", "ca.n2")} DESC, ca.vec_id) AS r
       |  FROM qc$tag JOIN ca USING (cell)) t WHERE r <= $beam),
       |${hops.mkString(",\n")}""".stripMargin
  }

  private def graphSearchCtes(cents: Array[Array[Double]]): String =
    s"""${graphBuildCtes(cents)},
       |${graphWalkCtes("", 1, GsBeam, GsHops)}""".stripMargin

  private def graphSearchOracleSql(cents: Array[Array[Double]]): String = {
    val sql =
      s"""${graphSearchCtes(cents)}
         |SELECT q_id, vec_id AS nn_id, CAST(rank AS INT) AS rank,
         |  floor(cos*1e6)/1e6 AS cos
         |FROM (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM b$GsHops) t WHERE rank <= $K""".stripMargin
    sql.replace(" AS (", " AS MATERIALIZED (")
  }

  /** [[knnGraphParamSweep]]'s oracle: ONE [[graphBuildCtes]] chain (the
    * graph is identical across panes), one brute-truth top-[[K]] over the
    * same frames, then a [[graphWalkCtes]] instance per pane config with
    * tagged CTE names, each recorded point stated as top-K + hits. The
    * recorded hop prefixes of the hop pane come from the SAME walk CTEs —
    * exactly the Spark side's free-snapshot structure.
    */
  private def graphParamSweepOracleSql(cents: Array[Array[Double]]): String = {
    def cosN(qa: String, qb: String, n2a: String, n2b: String) =
      s"(list_dot_product($qa, $qb) / sqrt($n2a * $n2b))"
    val configs =
      Seq(("h", 1, GsBeam, (0 to GsHopsMax): Seq[Int], GsHopsMax)) ++
        GsBeamSweep.map(b => (s"w$b", 1, b, Seq(GsHops), GsHops)) ++
        GsEntrySweep.map(e => (s"p$e", e, GsBeam, Seq(GsHops), GsHops))
    val walks = configs.map { case (tag, e, b, _, mh) =>
      graphWalkCtes(tag, e, b, mh)
    }
    val points = configs.flatMap { case (tag, _, _, rec, _) =>
      rec.map { h =>
        s"""t$tag$h AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
           |  FROM b$tag$h) t WHERE r <= $K),
           |h$tag$h AS (SELECT count(*) AS n_hits FROM t$tag$h
           |  JOIN br ON br.q_id = t$tag$h.q_id AND br.vec_id = t$tag$h.vec_id)"""
          .stripMargin
      }
    }
    val rows = configs.flatMap { case (tag, e, b, rec, _) =>
      rec.map { h =>
        s"""SELECT $e AS entry_probes, $b AS beam, $h AS hops,
           |  CAST(n_hits AS BIGINT) AS n_hits,
           |  CAST(n_hits * 1000000 // ${NumQueries.toLong * K} AS BIGINT)
           |    AS recall_ppm
           |FROM h$tag$h""".stripMargin
      }
    }
    val sql =
      s"""${graphBuildCtes(cents)},
         |bsc AS (SELECT qq.q_id, gn.vec_id,
         |    ${cosN("qq.qv", "gn.v", "qq.qn2", "gn.n2")} AS cos FROM qq, gn),
         |br AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
         |  FROM bsc) t WHERE r <= $K),
         |${walks.mkString(",\n")},
         |${points.mkString(",\n")}
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    sql.replace(" AS (", " AS MATERIALIZED (")
  }

  /** [[knnGraphSearchLift]]'s oracle: the [[graphSearchCtes]] chain run
    * ONCE (both beams come from the same CTE body — b0 is the entry, the
    * last hop CTE the final), brute truth over the SAME en/gn/qq frames
    * with the chain's native list_dot_product scoring (the bit-identity
    * precedent the knn_graph_search gate re-verifies every round), then
    * per-query hits@[[K]] of each beam's top-[[K]] against truth.
    */
  private def graphSearchLiftOracleSql(cents: Array[Array[Double]]): String = {
    def cosN(qa: String, qb: String, n2a: String, n2b: String) =
      s"(list_dot_product($qa, $qb) / sqrt($n2a * $n2b))"
    val sql =
      s"""${graphSearchCtes(cents)},
         |t0 AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
         |  FROM b0) t WHERE r <= $K),
         |tn AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
         |  FROM b$GsHops) t WHERE r <= $K),
         |bsc AS (SELECT qq.q_id, gn.vec_id,
         |    ${cosN("qq.qv", "gn.v", "qq.qn2", "gn.n2")} AS cos FROM qq, gn),
         |br AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
         |  FROM bsc) t WHERE r <= $K),
         |h0 AS (SELECT br.q_id, count(*) AS h FROM br
         |  JOIN t0 ON t0.q_id = br.q_id AND t0.vec_id = br.vec_id GROUP BY 1),
         |hn AS (SELECT br.q_id, count(*) AS h FROM br
         |  JOIN tn ON tn.q_id = br.q_id AND tn.vec_id = br.vec_id GROUP BY 1)
         |SELECT q.q_id, coalesce(h0.h, 0) AS entry_hits,
         |  coalesce(hn.h, 0) AS final_hits,
         |  coalesce(hn.h, 0) - coalesce(h0.h, 0) AS lift
         |FROM (SELECT DISTINCT q_id FROM br) q
         |LEFT JOIN h0 ON h0.q_id = q.q_id
         |LEFT JOIN hn ON hn.q_id = q.q_id""".stripMargin
    sql.replace(" AS (", " AS MATERIALIZED (")
  }

  // ------------------------------------------------------------- semdedup
  /** SemDeDup (Abbas et al., 2023): SEMANTIC dedup by clustering the
    * embedding space and pruning near-duplicate pairs WITHIN clusters —
    * the published answer to "embedding near-dup at web scale" (the paper
    * runs it on LAION/CommonCrawl before training): k-means confines the
    * quadratic pairwise work to cells, and the keep rule retains the
    * cluster-atypical representative (LOW cosine to the centroid), biasing
    * the surviving corpus toward diversity.
    *
    * Keep rule, made exactly deterministic: within a cell, rank vectors by
    * (centroid-cosine asc, vec_id); a vector is dropped iff some
    * rank-preceding vector in its cell is a τ-neighbor (pairwise cos ≥
    * SemTau — the same near-dup τ as dedup_embedding, which this op
    * arbitrates within clusters). Two consequences, both spec-pinned: the
    * kept set is τ-independent within every cell (a kept pair would drop
    * the later one), and every dup group keeps at least one member (its
    * rank-minimal vector has no preceding neighbor).
    *
    * Scale: cell assignment is the map-side centroid argmax shared with
    * knn_ivf/stream_ivf_ingest (zero shuffle; literal matrix ≤ MaxCells,
    * 1-row broadcast centroid frame above — centCols); the pair join is cell-
    * confined width² like knn_graph (cells ∝ √n at deployment — the IVF
    * sizing rule — keeps width and parallelism scaling); the drop set and
    * final flag join are id-keyed and linear. Both engines compare the SAME
    * IEEE doubles (identical dot fold, sqrt, division), so the rank
    * precedence — and therefore the kept set — is bit-deterministic.
    */
  val SemTau = 0.40

  def dedupSemdedup(s: SparkSession, d: String): DataFrame = {
    val cm = centColsFor(s, d)
    val cc = cm.cleanup(cm.attach(corpus(s, d))
        .withColumn("cell", NativeVector.argmaxDot(col("v"), cm.flat, cm.sn))
        .withColumn("ccos",
          NativeVector.cosine(col("v"), element_at(cm.m2d, col("cell") + 1))))
      .transform(Scale.materialize) // feeds both pair sides + the output
    val dropped = cc.as("a").join(cc.as("b"),
        col("a.cell") === col("b.cell") &&
          (col("a.ccos") < col("b.ccos") ||
            (col("a.ccos") === col("b.ccos") && col("a.vec_id") < col("b.vec_id"))) &&
          NativeVector.cosine(col("a.v"), col("b.v")) >= SemTau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    cc.join(dropped.withColumn("dropped", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), detRound(col("ccos"), 6).as("ccos"),
        when(col("dropped").isNull, lit(1)).otherwise(lit(0)).as("keep"))
  }

  // ------------------------------------------- ANN-confined embedding dedup
  /** Probe cells per vector for the ANN dedup candidate route. Recall is
    * MEASURED, never assumed — `dedup_embedding_ann_recall` audits this
    * route against the exact kernel the same way dedup_recall_eval audits
    * the minhash banding, and the measurement is the published IVF trade
    * in action: with cells ∝ √n and probes FIXED, the scan fraction
    * probes/cells shrinks as 8/√n, so recall falls as the corpus grows
    * unless the pairs are genuinely clustered. The default is PICKED FROM
    * THE MEASURED SWEEP (r14, `dedup_ann_probe_sweep` at sf1 on the
    * isotropic worst case — recall_ppm: 318531 @ 4 probes, 498161 @ 8,
    * 704133 @ 16, 885308 @ 32): the curve has no saturation knee on this
    * corpus, but the MARGINAL recall per added probe halves with each
    * doubling — 4.5 pts/probe (4→8), 2.6 (8→16), 1.1 (16→32) — so 16 is
    * the widest setting before the efficiency collapse: 0.704 worst-case
    * recall at 2× the old default's linear candidate cost, vs 32 paying
    * another 2× for less than half the per-probe return. Pair-tightness
    * behavior is unchanged (recall rises toward 1 for cos ≥ 0.6 pairs
    * even at sf1). The lever stays this constant (cost ∝ probes,
    * linearly); the monitor stays the audit query and the sweep.
    */
  val AnnDedupProbes = 16

  /** Embedding near-dup pairs through IVF-cell-confined candidates + exact
    * τ-verify — the scale-safe route to what `dedup_embedding` computes
    * exactly: the exact kernel is quadratic BY CONTRACT (every pair
    * scored), fine for audit scales and infeasible compute at 100 TB even
    * blocked; this operator confines candidate generation to shared probe
    * cells (each vector in its [[AnnDedupProbes]] nearest cells, pairs from
    * a plain cell equi-join — dedup_semdedup's confinement with knn_ivf's
    * multi-probe), then verifies every candidate with the IDENTICAL IEEE
    * cosine and τ. Output schema and semantics match dedup_embedding
    * (vec_a < vec_b, floor-1e-6 cos, τ = [[SemTau]] — the same 0.40);
    * the result is a measured-recall SUBSET of the exact pair set.
    *
    * Scale: cell assignment is the map-side [[NativeVector.argTopKDot]]
    * (zero shuffle); the pair join is cell-confined probe×home work under
    * the cells ∝ √n sizing ([[cellsFor]]) — Θ(n^1.5) total pairwork, and
    * measured 0.90 s → 3.73 s at sf0.1 → sf1 (4.1× at 10× data, vs 26×
    * for the blocked exact kernel and 43× for the broadcast one). Only
    * τ-passing (id, id, cos) triples reach the final distinct (a pair
    * discoverable from both endpoints' probe lists lands twice; cos is
    * bit-deterministic both ways — IEEE multiplies commute and the fold
    * order is fixed — so the distinct collapses exact duplicates).
    *
    * Recall honesty (measured, [[AnnDedupProbes]]): the synthetic
    * embeddings are ISOTROPIC — the corpus's entire ≥ τ pair set is the
    * 3σ tail of the random-cosine distribution (nothing above cos 0.65
    * exists at any SF), which is the provably-worst case for every
    * sublinear blocking scheme: there are no clusters for cells to
    * capture, and a measured τ-transitive expansion round (the knn_graph
    * NN-descent repair) recovers only +1.4 points — rejected. Real
    * embedding corpora are the opposite regime (SemDeDup's premise:
    * near-dups co-cluster), where cell capture does the work. The audit
    * query publishes the number a deployment actually needs to watch.
    */
  def dedupEmbeddingAnn(s: SparkSession, d: String): DataFrame =
    annPairs(s, d, AnnDedupProbes)

  /** [[dedupEmbeddingAnn]] at an explicit probe width — the single tuning
    * lever (cost ∝ probes, linearly), factored out so
    * [[dedupAnnProbeSweep]] can measure the recall it buys.
    */
  private[graft] def annPairs(s: SparkSession, d: String, probes: Int): DataFrame = {
    val cc = centColsFor(s, d)
    // Asymmetric probing (the knn_graph join shape): the INDEX side sits in
    // its argmax cell only; the PROBE side explodes its AnnDedupProbes
    // nearest cells. A pair is a candidate iff either endpoint's probe list
    // contains the other's home cell — implied-by (and nearly as complete
    // as) the symmetric both-sides-probe join, at 1/AnnDedupProbes the
    // candidate count (measured at sf1: 17.7 s symmetric → see SURVEY §6).
    // Norms ride each side once, so the verify costs ONE dot per pair
    // (cosine(a,b) re-derives both norms pairwise — 3× the flops).
    val assigned = cc.cleanup(cc.attach(corpus(s, d))
        .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn)))
      .withColumn("n2", NativeVector.norm2(col("v")))
    val probeSide = cc.cleanup(cc.attach(corpus(s, d))
        .withColumn("cell",
          explode(NativeVector.argTopKDot(col("v"), cc.flat, cc.sn, lit(probes)))))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
      .withColumn("qn2", NativeVector.norm2(col("qv")))
      // distribute by cell BEFORE the verify: the embeddings scan is a
      // handful of parquet splits (one, at the test SFs), and a broadcast
      // join inherits the stream side's partitioning — without this the
      // whole probe×home scoring loop runs on those few cores (measured
      // 14 s single-task at sf1, ~1 s distributed)
      .repartition(col("cell"))
    probeSide.join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos",
        NativeVector.dot(col("qv"), col("v")) / sqrt(col("qn2") * col("n2")))
      .filter(col("cos") >= SemTau)
      .select(least(col("q_id"), col("vec_id")).as("vec_a"),
        greatest(col("q_id"), col("vec_id")).as("vec_b"),
        detRound(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Blocking-quality audit for the ANN dedup route (the dedup_recall_eval
    * discipline): recall of [[dedupEmbeddingAnn]]'s pair set against the
    * exact [[Dedup.dedupEmbedding]] ground truth. Every ANN pair is
    * exact-verified, so precision is 1 by construction — the one number
    * that licenses replacing the quadratic kernel at scale is recall, and
    * this publishes it as a first-class query. n_hit is computed from the
    * actual intersection (not assumed = n_ann) so a τ or rounding drift
    * between the two operators would surface here, not ship silently.
    */
  /** Corpus size above which the EXACT-truth side of the ANN audits runs
    * over a bounded deterministic sample — the dedup_recall_eval
    * bounded-sample discipline applied to the quadratic kernel itself
    * (VERDICT r10 task 6), so the audits stay runnable at deployment scale
    * instead of quadratic. The sample is the `vec_id < TruthSampleIds`
    * prefix slice (vec_ids are dense from 0 — TESTDATA.md contract): both
    * engines state it identically, and for a pairwise threshold kernel
    * truth-on-the-slice ≡ full truth filtered to pairs with both endpoints
    * in the slice, so the sampled audit measures the deployed route's
    * recall on an unbiased fixed pane of the corpus. The ANN side (which
    * stays linear and runs at FULL scale — the audit samples its output,
    * not its input) is post-filtered to the same pane so n_true / n_ann /
    * n_hit all count one pane. Below the cap — including both driver gate
    * SFs (sf0.01: 500 ids; sf1: 20,000) — nothing changes; above it the
    * exact kernel is bounded at cap²/2 pairs regardless of corpus size
    * (sf10 measured, BENCH_sf10.json: dedup_ann_probe_sweep 504.5→112.7 s,
    * dedup_embedding_ann_recall 156.6→21.2 s).
    */
  val TruthSampleIds = 32768L

  /** (exact truth pairs, pane restrictor for the ANN side) per the
    * [[TruthSampleIds]] dispatch.
    */
  private def sampledTruth(s: SparkSession, d: String): (DataFrame, DataFrame => DataFrame) = {
    // one counting pass: the count here IS the kernel-dispatch count inside
    // dedupEmbedding, so hand it down (sliced mode: vec_ids are dense from
    // 0 — the TruthSampleIds contract — so the slice holds exactly the cap)
    val n = Tables.embeddings(s, d).count()
    if (n <= TruthSampleIds)
      (Dedup.dedupEmbedding(s, d, knownN = n), identity[DataFrame])
    else (Dedup.dedupEmbedding(s, d, maxId = TruthSampleIds,
        knownN = TruthSampleIds),
      (df: DataFrame) => df.filter(
        col("vec_a") < TruthSampleIds && col("vec_b") < TruthSampleIds))
  }

  def dedupEmbeddingAnnRecall(s: SparkSession, d: String): DataFrame = {
    val (truthPairs, pane) = sampledTruth(s, d)
    // exact kernel ∥ ANN route — independent chains (r15, guide §2.6)
    val two = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize(truthPairs.select(col("vec_a"), col("vec_b"))),
      () => Scale.materialize(dedupEmbeddingAnn(s, d)
        .select(col("vec_a"), col("vec_b")).transform(pane))), slots = 2)
    val (truth, ann) = (two(0), two(1))
    val hit = ann.join(truth, Seq("vec_a", "vec_b"), "left_semi")
    val nt = truth.agg(count(lit(1)).as("n_true"))
    val na = ann.agg(count(lit(1)).as("n_ann"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    nt.crossJoin(broadcast(na)).crossJoin(broadcast(nh)) // 1-row scalars
      .select(col("n_true"), col("n_ann"), col("n_hit"),
        expr("CASE WHEN n_true > 0 THEN n_hit * 1000000 div n_true " +
          "ELSE CAST(0 AS BIGINT) END").as("recall_ppm"))
  }

  /** Probe widths swept by [[dedupAnnProbeSweep]] — brackets the deployed
    * [[AnnDedupProbes]] from both sides of the cost curve (4 = half the
    * budget, 16/32 = 2×/4×), so the table shows what the next doubling of
    * linear candidate cost actually buys in recall on THIS corpus.
    */
  val AnnProbeSweep = Seq(4, 8, 16, 32)

  /** The ANN-dedup recall lever, measured — [[dedupEmbeddingAnnRecall]]
    * swept across [[AnnProbeSweep]] probe widths (the knn_ivf_probe_sweep
    * discipline applied to the dedup route): per width, the exact-kernel
    * pair count, the ANN pair count (precision 1 by construction — every
    * candidate is exact-verified), the intersection, and recall ppm. This
    * is the tuning curve a deployment reads before raising
    * [[AnnDedupProbes]]: candidate cost grows linearly with the width,
    * recall grows with it only as fast as the corpus's near-dup pairs
    * co-cluster (on this deliberately isotropic synthetic corpus the curve
    * is the worst case on record; real embedding corpora sit far above it).
    *
    * Scale: the exact truth kernel is computed ONCE and materialized (it
    * is the audit's cost ceiling, same as the single-width recall op); each
    * sweep branch is one cell-confined Θ(n·probes·width) candidate pass —
    * the sweep total is ~Σ(widths)/[[AnnDedupProbes]] ≈ 7.5× the deployed
    * route's candidate work, all linear, no new quadratic anywhere.
    */
  def dedupAnnProbeSweep(s: SparkSession, d: String): DataFrame = {
    val (truthPairs, pane) = sampledTruth(s, d) // [[TruthSampleIds]] dispatch
    // the exact kernel and the |sweep| ANN branches are all independent
    // chains — materialize them concurrently (r15, guide §2.6)
    val frames = Scale.inParallel[DataFrame](
      (() => Scale.materialize( // one exact kernel, |sweep|+1 consumers
        truthPairs.select(col("vec_a"), col("vec_b")))) +:
        AnnProbeSweep.map(np => () => Scale.materialize( // count AND hit join
          annPairs(s, d, np).select(col("vec_a"), col("vec_b"))
            .transform(pane))), slots = 5)
    val truth = frames.head
    val nt = truth.agg(count(lit(1)).as("n_true"))
    AnnProbeSweep.zip(frames.tail).map { case (np, ann) =>
      val na = ann.agg(count(lit(1)).as("n_ann"))
      val nh = ann.join(truth, Seq("vec_a", "vec_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nt.crossJoin(broadcast(na)).crossJoin(broadcast(nh)) // 1-row scalars
        .select(lit(np).as("nprobe"), col("n_true"), col("n_ann"),
          col("n_hit"),
          expr("CASE WHEN n_true > 0 THEN n_hit * 1000000 div n_true " +
            "ELSE CAST(0 AS BIGINT) END").as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------- recall eval
  /** Index-quality evaluation as a first-class query: per-query recall@K
    * of the IVF search against the exact brute-force neighbours — the
    * number every ANN deployment monitors (recall drifts when the corpus
    * distribution moves away from what the quantizer trained on, and the
    * probe budget needs re-tuning). Composes the two verified searches;
    * the hit join is on (q_id, nn_id) result frames (queries × K rows —
    * negligible next to either search at any scale), and queries with
    * zero index hits still get a row (left join, recall 0) so a
    * catastrophically mis-trained index reads 0.0, not absent.
    */
  def knnRecallEval(s: SparkSession, d: String): DataFrame = {
    val brute = knnBrute(s, d).select(col("q_id"), col("nn_id"))
    val ivf = knnIvf(s, d).select(col("q_id"), col("nn_id"))
    val hits = brute.join(ivf, Seq("q_id", "nn_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        detRound(coalesce(col("n_hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  // ------------------------------------------------------- matryoshka eval
  /** Matryoshka truncation audit (Kusupati et al., NeurIPS 2022): recall@K
    * of exact search run on PREFIX dimensions m ∈ [[MatDims]] against the
    * full-dimension ground truth — the measurement that licenses serving a
    * truncated embedding (¼ the bytes, ¼ the dot-product flops) and the
    * published eval for MRL-trained models. Truncated cosine is the same
    * unrolled left-to-right fold as the full one, just stopped at m
    * ([[VectorFunctions.cosineU]]) — bit-identical in the oracle's prefix
    * fold — and each budget's top-K reuses the bounded two-phase [[topK]].
    *
    * Scale: an exact-eval audit over the bounded [[NumQueries]] broadcast
    * query set (the knn_recall_eval discipline): |MatDims| linear corpus
    * scans, no index to drift. m = 64 rides along as the self-check — its
    * recall is 1.0 by construction.
    */
  val MatDims = Seq(8, 16, 32, 64)

  def knnMatryoshka(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    // ONE corpus scan scores all |MatDims| budgets per (query, candidate)
    // pair (prefix folds are near-free next to the pair join), exploded to
    // (dim_budget, q_id, vec_id, cos) and cut by one batched two-phase
    // top-k over (dim_budget, q_id) — the r15 shape ran one scan + top-k
    // PER budget plus a fifth brute scan for the ground truth (5 corpus
    // scans, 5 top-k exchange pairs → 1 + 1; guide §2.4). Ground truth =
    // the m=64 pane: cosineU(·,·,64) is the full cosine (the audit's
    // recall-1.0-by-construction self-check row), and the oracle re-proves
    // the kernels' bit-identity every round.
    // prefix norms precompute PER ROW (not per pair — the r15 shape redid
    // both vectors' norm folds inside every pairwise cosine), and the four
    // cosines project BELOW the explode: inlining all four unrolled folds
    // into the Generate's consume blew janino's method budget and dropped
    // the stage out of whole-stage codegen (§4)
    val qEnr = q.select(col("q_id") +: col("qv") +:
      MatDims.map(m => norm2U(col("qv"), m).as(s"_qn$m")): _*)
    val cEnr = c.select(col("vec_id") +: col("v") +:
      MatDims.map(m => norm2U(col("v"), m).as(s"_cn$m")): _*)
    val scored = broadcast(qEnr).join(cEnr)
      .select(col("q_id") +: col("vec_id") +:
        MatDims.map(m => (dotU(col("qv"), col("v"), m)
          / sqrt(col(s"_qn$m") * col(s"_cn$m"))).as(s"_c$m")): _*)
      .select(col("q_id"), col("vec_id"),
        explode(array(MatDims.map(m =>
          struct(lit(m).as("dim_budget"), col(s"_c$m").as("cos"))): _*)).as("e"))
      .select(col("e.dim_budget").as("dim_budget"), col("q_id"),
        col("vec_id"), col("e.cos").as("cos"))
    val trunc = Scale.materialize(Scale.topKPerGroup(scored,
        Seq("dim_budget", "q_id"), Seq(col("cos").desc, col("vec_id")),
        k = K, saltSrc = col("vec_id"))
      .select(col("dim_budget"), col("q_id"), col("vec_id").as("nn_id")))
    val full = trunc.filter(col("dim_budget") === MatDims.max)
      .select(col("q_id"), col("nn_id"))
    val hits = trunc.join(full, Seq("q_id", "nn_id"))
      .groupBy(col("dim_budget"), col("q_id")).agg(count(lit(1)).as("n_hits"))
    trunc.select(col("dim_budget"), col("q_id")).distinct()
      .join(hits, Seq("dim_budget", "q_id"), "left_outer")
      .select(col("dim_budget"), col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        detRound(coalesce(col("n_hits"), lit(0L)).cast("double") / K, 4)
          .as("recall"))
  }

  private def matryoshkaOracleSql: String = {
    def dotP(m: Int, a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${m + 1}), i -> $a[i]*$b[i])), (acc, x) -> acc + x)"
    def cosP(m: Int, a: String, b: String) =
      s"(${dotP(m, a, b)} / sqrt(${dotP(m, a, a)} * ${dotP(m, b, b)}))"
    val budgets = MatDims.map { m =>
      s"""SELECT $m AS dim_budget, q_id, vec_id AS nn_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cosP(m, "qv", "v")} DESC, vec_id) AS rank
         |  FROM q, c) WHERE rank <= $K""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |tr AS (
       |$budgets
       |),
       |full_ AS (SELECT q_id, vec_id AS nn_id FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${cosineSql("qv", "v")} DESC, vec_id) AS rank
       |  FROM q, c) WHERE rank <= $K),
       |h AS (SELECT dim_budget, tr.q_id, count(*) AS n_hits
       |  FROM tr JOIN full_ ON tr.q_id = full_.q_id AND tr.nn_id = full_.nn_id
       |  GROUP BY 1, 2),
       |base AS (SELECT DISTINCT dim_budget, q_id FROM tr)
       |SELECT base.dim_budget, base.q_id,
       |  coalesce(n_hits, 0) AS n_hits,
       |  floor((CAST(coalesce(n_hits, 0) AS DOUBLE) / $K) * 1e4) / 1e4 AS recall
       |FROM base LEFT JOIN h
       |  ON base.dim_budget = h.dim_budget AND base.q_id = h.q_id""".stripMargin
  }

  // ------------------------------------------------------------------ PCA
  /** PCA projection of the embedding corpus (the dimensionality-reduction /
    * whitening stage in front of ANN indexes and semantic clustering —
    * IVFADC literature trains exactly this before quantizing): project
    * every vector onto the top-[[PcaK]] principal components of a bounded
    * deterministic sample. Training follows the trained-quantizer precedent
    * (knn_ivf): [[PcaSample]] xxhash64-ordered vectors → driver-side mean +
    * covariance → fixed-sweep cyclic Jacobi eigensolver (deterministic:
    * fixed rotation order, fixed iteration count, strict JVM float
    * semantics), eigenvectors sign-normalized (largest-|coordinate| made
    * positive) and sorted (eigenvalue desc, index). The mean and component
    * matrix embed as LITERALS in both the Spark plan and the generated
    * oracle, so projection is a shuffle-free per-row centered dot per
    * component — the oracle restates it with the proven `dotSql` fold twin,
    * bit-identical doubles.
    *
    * Scale: training I/O is one bounded sample collect; projection is one
    * linear codegen-friendly scan (8 fused dot folds per row), the same
    * shape at any corpus size.
    */
  val PcaK = 8
  val PcaSample = 2048

  final case class PcaModel(mean: Array[Double], comps: Array[Array[Double]])

  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, PcaModel]()

  /** Fixed-sweep cyclic Jacobi: eigenvalues on the diagonal, eigenvectors
    * as COLUMNS of the returned matrix. Deterministic by construction.
    */
  private[graft] def jacobiEigen(a: Array[Array[Double]],
      sweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    val m = Array.tabulate(n, n)((i, j) => a(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until sweeps; p <- 0 until n - 1; q <- p + 1 until n) {
      val apq = m(p)(q)
      if (math.abs(apq) > 1e-13) {
        val theta = 0.5 * (m(q)(q) - m(p)(p)) / apq
        val t = if (theta == 0.0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var k = 0
        while (k < n) {
          val mpk = m(p)(k); val mqk = m(q)(k)
          m(p)(k) = c * mpk - s * mqk; m(q)(k) = s * mpk + c * mqk
          k += 1
        }
        k = 0
        while (k < n) {
          val mkp = m(k)(p); val mkq = m(k)(q)
          m(k)(p) = c * mkp - s * mkq; m(k)(q) = s * mkp + c * mkq
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq; v(k)(q) = s * vkp + c * vkq
          k += 1
        }
      }
    }
    (Array.tabulate(n)(i => m(i)(i)), v)
  }

  private def pcaTrain(s: SparkSession, d: String): PcaModel = {
    val sample = corpus(s, d)
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(PcaSample)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    val n = sample.length
    val dim = sample.head.length
    val mean = new Array[Double](dim)
    sample.foreach(x => { var i = 0; while (i < dim) { mean(i) += x(i); i += 1 } })
    var i = 0
    while (i < dim) { mean(i) /= n; i += 1 }
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { x =>
      var a = 0
      while (a < dim) {
        val xa = x(a) - mean(a)
        var b = a
        while (b < dim) { cov(a)(b) += xa * (x(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    for (a <- 0 until dim; b <- a until dim) {
      cov(a)(b) /= (n - 1); cov(b)(a) = cov(a)(b)
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(j => (-evals(j), j)).take(PcaK)
    val comps = order.map { j =>
      val col0 = Array.tabulate(dim)(i0 => evecs(i0)(j))
      // deterministic sign: the largest-|coordinate| entry is positive
      val piv = (0 until dim).maxBy(i0 => (math.abs(col0(i0)), -i0))
      if (col0(piv) < 0) col0.map(-_) else col0
    }.toArray
    PcaModel(mean, comps)
  }

  private[graft] def pcaFor(s: SparkSession, d: String): PcaModel =
    pcaCache.computeIfAbsent(d, _ => pcaTrain(s, d))

  def embedPca(s: SparkSession, d: String): DataFrame = {
    val m = pcaFor(s, d)
    val meanLit = typedlit(m.mean.toIndexedSeq)
    val centered = zip_with(col("v"), meanLit, (x, mu) => x - mu)
    val coords = m.comps.zipWithIndex.map { case (comp, j) =>
      struct(lit(j).as("comp"),
        graft.functions.VectorFunctions.dot(centered, typedlit(comp.toIndexedSeq)).as("coord"))
    }
    corpus(s, d)
      .select(col("vec_id"), explode(array(coords.toIndexedSeq: _*)).as("c"))
      .select(col("vec_id"), col("c.comp").as("comp"),
        detRound(col("c.coord"), 6).as("coord"))
  }

  /** embed_pca's generated oracle: mean + components as literal DOUBLE[]
    * arrays, the same centered sequential-fold dot per component.
    */
  private def pcaOracleSql(m: PcaModel): String = {
    def arr(a: Array[Double]) = a.mkString("[", ",", "]")
    val comps = m.comps.zipWithIndex.map { case (comp, j) =>
      s"SELECT vec_id, $j AS comp, ${graft.functions.VectorFunctions.dotSql("cv", s"(${arr(comp)})")} AS raw FROM cent"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id,
       |    list_transform(range(1, len(v)+1), i -> v[i] - (${arr(m.mean)})[i]) AS cv
       |  FROM e),
       |pr AS ($comps)
       |SELECT vec_id, comp, floor(raw*1e6)/1e6 AS coord FROM pr""".stripMargin
  }

  // ------------------------------------------------------------------ RRF
  /** Ensemble retrieval via Reciprocal Rank Fusion (Cormack et al., SIGIR
    * 2009 — the fusion rule hybrid search engines standardized on): fuse
    * the LSH and IVF top-k lists per query by score = Σ 1/(60 + rank),
    * re-rank, cut at [[K]]. Two structurally different indexes miss
    * different neighbors (hash-plane boundaries vs cell boundaries), and
    * RRF needs no score calibration between them — ranks only, which is
    * why it composes ANY retriever pair (its production role is
    * dense+lexical; here both lists are re-used verified indexes whose
    * generated oracles restate them exactly, so the fused list is
    * oracle-exact too). Per-candidate score is TWO coalesced terms added
    * in fixed order — deterministic doubles; ties break on vec_id.
    * Scale: a full-outer join of two k-row-per-query lists (bounded), then
    * the standard bounded top-k. The indexes do the heavy lifting.
    */
  val RrfC = 60

  def knnRrf(s: SparkSession, d: String): DataFrame = {
    val lsh = knnLsh(s, d).select(col("q_id"), col("nn_id"), col("rank").as("r_lsh"))
    val ivf = knnIvf(s, d).select(col("q_id"), col("nn_id"), col("rank").as("r_ivf"))
    val fused = lsh.join(ivf, Seq("q_id", "nn_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0) / (lit(RrfC) + col("r_lsh")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("r_ivf")), lit(0.0)))
    Scale.topKPerGroup(
        fused.select(col("q_id"), col("nn_id"), col("score")),
        Seq("q_id"), Seq(col("score").desc, col("nn_id")),
        k = K, saltSrc = col("nn_id"))
      .select(col("q_id"), col("nn_id"), col("rnk").as("rank"),
        detRound(col("score"), 6).as("score"))
  }

  // ------------------------------------------------------------------- PQ
  /** Product quantization (Jégou et al., TPAMI 2011): 64 dims → PqSub=8
    * subspaces × PqK=64 centroids, so every corpus vector compresses to 8
    * 6-bit codes (the 100 TB story: a 256-byte float vector becomes a
    * 6-byte code — the index fits in memory ~40× further, and candidate
    * scoring is 8 table lookups instead of 64 multiplies). Codebooks train
    * like the IVF quantizer: bounded deterministic sample, farthest-point
    * seeding, driver-side Lloyd — per subspace, standard L2 k-means.
    * (PqK, PqR) chosen by measurement on this near-random corpus (top-10
    * cosines ≈ 0.25-0.39): K=16/R=50 → recall 0.59; K=64/R=100 → 0.99 at
    * both sf0.001 and sf0.01 — quantization noise must sit well under the
    * tiny cosine spread, so 6-bit subspace codebooks, not 4-bit.
    * Encoding is the native `PqEncode` expression (one codegen'd loop;
    * argmin L2 in dot form) over the L2-NORMALIZED vector — dot of
    * normalized vectors IS cosine, so the ADC ranking approximates the
    * cosine ground truth instead of the raw dot (which diverges wherever
    * norms vary on non-unit-norm corpora).
    * Search is ADC: each query precomputes its 8×64 dot-product lookup
    * table once, scores every code by 8 adds in fixed subspace order
    * (IEEE-exact in both engines), keeps the top PqR by (approx desc,
    * vec_id), then reranks exactly — so the output is true cosines with
    * PQ doing only candidate generation.
    */
  val PqSub = 8
  val PqK = 64
  val PqR = 100

  private def trainPqCodebook(c: DataFrame): Array[Array[Array[Double]]] = {
    // train on L2-NORMALIZED vectors — PQ candidates are ranked by the ADC
    // dot, and dot-on-normalized IS cosine: without this the candidate
    // order approximates raw dot and diverges from the cosine ground truth
    // wherever norms vary (measured: recall 0.56 unnormalized vs 0.90+)
    pqKmeans(sampleNormalized(c))
  }

  /** The deterministic hash-ordered TrainSample collect, L2-normalized. */
  private def sampleNormalized(c: DataFrame): Array[Array[Double]] =
    c.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(TrainSample)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      .map { x => val n = math.sqrt(n2Seq(x)); x.map(_ / n) }

  /** Per-subspace L2 k-means over an arbitrary training matrix — shared by
    * direct-PQ (normalized vectors) and IVF-PQ (cell residuals).
    */
  private def pqKmeans(sample: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val sub = sample(0).length / PqSub
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }; acc
    }
    (0 until PqSub).toArray.map { m =>
      val xs = sample.map(x => java.util.Arrays.copyOfRange(x, m * sub, (m + 1) * sub))
      // farthest-point seeding (ties keep the lowest sample index)
      val seeds = Array.newBuilder[Array[Double]]
      seeds += xs(0)
      val bestD = xs.map(l2(_, xs(0)))
      for (_ <- 1 until PqK) {
        var far = 0; var i = 1
        while (i < xs.length) { if (bestD(i) > bestD(far)) far = i; i += 1 }
        val nc = xs(far); seeds += nc
        var j = 0
        while (j < xs.length) {
          val d2 = l2(xs(j), nc); if (d2 < bestD(j)) bestD(j) = d2; j += 1
        }
      }
      var cents = seeds.result()
      for (_ <- 1 to LloydIters) {
        val sums = Array.fill(PqK)(new Array[Double](sub))
        val counts = new Array[Int](PqK)
        xs.foreach { x =>
          var best = 0; var bd = l2(x, cents(0)); var k = 1
          while (k < PqK) {
            val d2 = l2(x, cents(k)); if (d2 < bd) { bd = d2; best = k }; k += 1
          }
          val acc = sums(best); var i = 0
          while (i < sub) { acc(i) += x(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { k =>
          if (counts(k) == 0) cents(k) else sums(k).map(_ / counts(k))
        }.toArray
      }
      cents
    }
  }

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  private def pqCodebookFor(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    pqCache.computeIfAbsent(d, _ => trainPqCodebook(split(s, d)._2))

  /** The corpus→codes map of [[knnPq]], factored out so the streaming
    * ingest path ([[graft.streaming.PqIngest]]) assigns the IDENTICAL
    * codes: same trained codebooks (cached per dir — zero retrain per
    * micro-batch), same normalize, same native encode expression — one
    * map-side codegen'd pass, zero shuffle, so a micro-batch pays
    * O(batch × codebook) and nothing else.
    */
  private[graft] def pqEncodeFrame(df: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val cb = pqCodebookFor(s, d)
    val flat = typedlit(cb.flatten.flatten.toIndexedSeq)
    val bias = typedlit(cb.flatMap(_.map(cv => -n2Seq(cv) / 2)).toIndexedSeq)
    df.withColumn("nrm", sqrt(NativeVector.norm2(col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .withColumn("codes", NativeVector.pqEncode(col("nv"), flat, bias, lit(PqSub)))
      .select(col("vec_id"), col("codes"))
  }

  /** [[knnOpq]]'s corpus→codes map (rotate, then PQ-encode) — the OPQ
    * twin of [[pqEncodeFrame]], shared with streaming ingest.
    */
  private[graft] def opqEncodeFrame(df: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val m = opqFor(s, d)
    val rotFlat = typedlit(m.rot.flatten.toIndexedSeq)
    val flat = typedlit(m.cb.flatten.flatten.toIndexedSeq)
    val bias = typedlit(m.cb.flatMap(_.map(cv => -n2Seq(cv) / 2)).toIndexedSeq)
    df.withColumn("nrm", sqrt(NativeVector.norm2(col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .withColumn("rv", NativeVector.matVec(col("nv"), rotFlat))
      .withColumn("codes", NativeVector.pqEncode(col("rv"), flat, bias, lit(PqSub)))
      .select(col("vec_id"), col("codes"))
  }

  def knnPq(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val cb = pqCodebookFor(s, d)
    val flat = typedlit(cb.flatten.flatten.toIndexedSeq)
    // corpus → 8-int codes over the NORMALIZED vector (one map-side
    // codegen'd pass, nothing else moves): ADC then approximates cosine
    val codes = pqEncodeFrame(c, s, d)
    // per-query ADC table: lut[m·PqK + k] = dot(nq_m, C[m][k]) — computed
    // once per query row (bounded set) in one native looping expression
    // (the 8×16 unrolled dot-of-slice array blew janino's 64 KB method
    // budget), broadcast with the query
    val qlut = q
      .withColumn("nrm", sqrt(NativeVector.norm2(col("qv"))))
      .withColumn("nqv", transform(col("qv"), x => x / col("nrm")))
      .select(col("q_id"), NativeVector.pqLut(col("nqv"), flat, lit(PqSub)).as("lut"))
    // approx score = Σ_m lut[m][code_m], fixed m order (left-assoc adds —
    // the oracle states the same d0 + d1 + … + d7)
    val approx = (0 until PqSub).map(m =>
      element_at(col("lut"), lit(m * PqK + 1) + element_at(col("codes"), m + 1)))
      .reduce(_ + _)
    val cand = Scale.topKPerGroup(
        broadcast(qlut.select(col("q_id"), col("lut"))).join(codes)
          .select(col("q_id"), col("vec_id"), approx.as("approx")),
        Seq("q_id"), Seq(col("approx").desc, col("vec_id")),
        k = PqR, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    // exact rerank of ≤ PqR candidates per query: true cosine, same output
    // contract as every other knn_*
    topK(c.join(broadcast(cand), "vec_id")
      .join(broadcast(q.select(col("q_id"), col("qv"))), "q_id")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  // ----------------------------------------------------------------- OPQ
  /** Optimized Product Quantization, parametric variant (OPQ_P — Ge et
    * al., CVPR 2013 §4.1): rotate the normalized vectors by a learned
    * ORTHOGONAL matrix before product-quantizing. Plain PQ slices the
    * vector on arbitrary coordinate boundaries, so correlated/unbalanced
    * dimensions waste codebook capacity; OPQ_P rotates into the
    * second-moment eigenbasis and allocates the eigen-directions to the
    * [[PqSub]] subspaces balancing the per-subspace VARIANCE PRODUCT
    * (greedy: dims by eigenvalue desc, each to the non-full subspace with
    * the smallest log-product — the paper's allocation), so every
    * codebook quantizes comparable mass. Orthogonality means
    * dot(R·a, R·b) = dot(a, b): the ADC score approximates the SAME
    * cosine, and the exact rerank is unchanged — the rotation costs one
    * codegen'd [[NativeVector.matVec]] per vector at encode time and one
    * per query, nothing at scan time (codes are scored by table lookups
    * exactly as in [[knnPq]]).
    */
  final case class OpqModel(rot: Array[Array[Double]],
      cb: Array[Array[Array[Double]]])

  private[graft] val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, OpqModel]()

  private def trainOpq(c: DataFrame): OpqModel = {
    val xs = sampleNormalized(c)
    val dim = xs(0).length
    // Guard (r13 advice): the greedy allocation below fills PqSub buckets
    // of exactly dim/PqSub dims each — with a non-divisible dim the last
    // eigen-directions find every bucket full and minBy throws an opaque
    // UnsupportedOperationException (and pqKmeans would silently truncate
    // the tail dims). Fail fast with the actual contract instead.
    require(dim % PqSub == 0,
      s"OPQ needs dim divisible by PqSub: dim=$dim, PqSub=$PqSub — pad or " +
        "project the embedding to a multiple (the codebooks partition " +
        "dimensions into equal-width subspaces)")
    // second-moment matrix about the ORIGIN: unit-sphere data carries no
    // meaningful mean term, and the encode path must apply the identical
    // rotation with no mean subtraction
    val cov = Array.ofDim[Double](dim, dim)
    xs.foreach { x =>
      var a = 0
      while (a < dim) {
        var b = a
        while (b < dim) { cov(a)(b) += x(a) * x(b); b += 1 }
        a += 1
      }
    }
    for (a <- 0 until dim; b <- a until dim) {
      cov(a)(b) /= xs.length; cov(b)(a) = cov(a)(b)
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(j => (-evals(j), j))
    val sub = dim / PqSub
    val logs = new Array[Double](PqSub)
    val buckets = Array.fill(PqSub)(scala.collection.mutable.ArrayBuffer.empty[Int])
    for (j <- order) {
      val m = (0 until PqSub).filter(buckets(_).size < sub)
        .minBy(i => (logs(i), i))
      buckets(m) += j
      logs(m) += math.log(math.max(evals(j), 1e-12))
    }
    // rows of R (in subspace-allocation order): rotated coordinate r of x
    // is dot(rot(r), x); sign fixed like pcaTrain so R is deterministic
    val rot = buckets.flatMap(_.iterator).map { j =>
      val col0 = Array.tabulate(dim)(i0 => evecs(i0)(j))
      val piv = (0 until dim).maxBy(i0 => (math.abs(col0(i0)), -i0))
      if (col0(piv) < 0) col0.map(-_) else col0
    }
    val rxs = xs.map { x =>
      rot.map { r =>
        var acc = 0.0; var i = 0
        while (i < dim) { acc += r(i) * x(i); i += 1 }
        acc
      }
    }
    OpqModel(rot, pqKmeans(rxs))
  }

  private[graft] def opqFor(s: SparkSession, d: String): OpqModel =
    opqCache.computeIfAbsent(d, _ => trainOpq(split(s, d)._2))

  /** PQ codebook-quality monitor — per-subspace reconstruction distortion
    * ‖nv[m·sub..] − C[m][code_m]‖² of the live code assignment (the
    * quantization-error audit a PQ deployment watches to decide when the
    * batch-trained codebooks have aged off a drifting corpus and
    * [[graft.streaming.PqIngest]]'s "retrain is a policy decision" fires;
    * per-subspace resolution shows WHICH slice degraded — the OPQ
    * balance question as a number). Exactness: codes from the shared
    * [[pqEncodeFrame]]; per-vector distortion is a sequential left-fold
    * of squared diffs against the codeword slice (the [[ArrayDot]] fold
    * order, restated as the same list_reduce in the generated oracle),
    * quantized to ppb; integer sums and truncating-division means.
    * Scale: one map-side encode + one fold per vector — no shuffle until
    * the final [[PqSub]]-group aggregate; output is codebook-bounded.
    */
  /** The per-(vector, subspace) quantized distortion rows of
    * [[embedPqDistortion]], factored so the STREAMING monitor
    * ([[graft.streaming.PqIngest.ingest]]'s stats sidecar) accumulates the
    * IDENTICAL integers per micro-batch — the fold (n, Σ, max) is
    * associative, so streamed totals ≡ the batch audit exactly.
    */
  private[graft] def pqDistortionRows(df: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val cb = pqCodebookFor(s, d)
    val sub = cb(0)(0).length
    val cbFlat = typedlit(cb.flatten.flatten.toIndexedSeq)
    val nv = df
      .withColumn("nrm", sqrt(NativeVector.norm2(col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv"))
    val joined = pqEncodeFrame(df, s, d).join(nv, "vec_id")
    val perSub = (0 until PqSub).map { m =>
      val cw = slice(cbFlat,
        (lit(m * PqK) + element_at(col("codes"), m + 1)) * sub + 1, lit(sub))
      val d2 = aggregate(
        zip_with(slice(col("nv"), m * sub + 1, sub), cw,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(lit(m).as("m"), d2.as("d2"))
    }
    joined
      .select(explode(array(perSub: _*)).as("s"))
      .select(col("s.m").as("subspace"),
        expr("CAST(floor(s.d2*1e9) AS BIGINT)").as("d2ppb"))
  }

  /** OPQ twin of [[pqDistortionRows]]: the reconstruction distortion is
    * measured in the ROTATED basis (‖R·nv[m·sub..] − C[m][code_m]‖² —
    * rotation is orthogonal, so this IS the reconstruction error of the
    * de-rotated codeword too), with codes from the shared
    * [[opqEncodeFrame]]. Gives [[graft.streaming.PqIngest]]'s monitor the
    * same associative (n, Σ, max) partials for OPQ stores, which ingest
    * previously wrote only for plain PQ (ADVICE r14: calling the monitor
    * on an OPQ store failed with an opaque path-not-found).
    */
  private[graft] def opqDistortionRows(df: DataFrame, s: SparkSession,
      d: String): DataFrame = {
    val m0 = opqFor(s, d)
    val cb = m0.cb
    val sub = cb(0)(0).length
    val cbFlat = typedlit(cb.flatten.flatten.toIndexedSeq)
    val rotFlat = typedlit(m0.rot.flatten.toIndexedSeq)
    val rv = df
      .withColumn("nrm", sqrt(NativeVector.norm2(col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), NativeVector.matVec(col("nv"), rotFlat).as("rv"))
    val joined = opqEncodeFrame(df, s, d).join(rv, "vec_id")
    val perSub = (0 until PqSub).map { m =>
      val cw = slice(cbFlat,
        (lit(m * PqK) + element_at(col("codes"), m + 1)) * sub + 1, lit(sub))
      val d2 = aggregate(
        zip_with(slice(col("rv"), m * sub + 1, sub), cw,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(lit(m).as("m"), d2.as("d2"))
    }
    joined
      .select(explode(array(perSub: _*)).as("s"))
      .select(col("s.m").as("subspace"),
        expr("CAST(floor(s.d2*1e9) AS BIGINT)").as("d2ppb"))
  }

  def embedPqDistortion(s: SparkSession, d: String): DataFrame =
    pqDistortionRows(split(s, d)._2, s, d)
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(d2ppb) div count(1)").as("mean_d2_ppb"),
        max(col("d2ppb")).as("max_d2_ppb"))

  /** [[embedPqDistortion]]'s oracle from the trained codebook — the
    * [[pqOracleSql]] code-assignment CTEs verbatim, then the same
    * sequential squared-diff fold per (vector, subspace).
    */
  private def pqDistortionOracleSql(cb: Array[Array[Array[Double]]]): String = {
    val sub = cb(0)(0).length
    def cvSql(m: Int, k: Int): String =
      cb(m)(k).map(_.toString).mkString("([", ",", "]::DOUBLE[])")
    val cbRows = (for (m <- 0 until PqSub; k <- 0 until PqK) yield
      s"SELECT $m AS m, $k AS k, ${cvSql(m, k)} AS cv, ${-n2Seq(cb(m)(k)) / 2} AS bias"
    ).mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id, v, sqrt(${norm2Sql("v")}) AS nrm
       |  FROM e WHERE vec_id >= $NumQueries),
       |c AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM c0),
       |cb AS ($cbRows),
       |codes AS (SELECT vec_id, m, cv FROM (
       |  SELECT c.vec_id, cb.m, cb.cv,
       |    row_number() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY ${dotSql(s"(c.nv[cb.m*$sub+1:(cb.m+1)*$sub])", "cb.cv")} + cb.bias DESC, cb.k) AS r
       |  FROM c, cb) t WHERE r = 1),
       |d2 AS (SELECT codes.m AS subspace,
       |    CAST(floor(list_reduce(list_prepend(0.0,
       |      list_transform(range(1, $sub + 1), i ->
       |        (c.nv[codes.m*$sub + i] - codes.cv[i])
       |          * (c.nv[codes.m*$sub + i] - codes.cv[i]))),
       |      (acc, x) -> acc + x)*1e9) AS BIGINT) AS d2ppb
       |  FROM codes JOIN c USING (vec_id))
       |SELECT subspace, count(*) AS n_vecs,
       |  CAST(sum(d2ppb) // count(*) AS BIGINT) AS mean_d2_ppb,
       |  CAST(max(d2ppb) AS BIGINT) AS max_d2_ppb
       |FROM d2 GROUP BY 1""".stripMargin
  }

  def knnOpq(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val m = opqFor(s, d)
    val rotFlat = typedlit(m.rot.flatten.toIndexedSeq)
    val flat = typedlit(m.cb.flatten.flatten.toIndexedSeq)
    val codes = opqEncodeFrame(c, s, d)
    val qlut = q
      .withColumn("nrm", sqrt(NativeVector.norm2(col("qv"))))
      .withColumn("nqv", transform(col("qv"), x => x / col("nrm")))
      .withColumn("rqv", NativeVector.matVec(col("nqv"), rotFlat))
      .select(col("q_id"), NativeVector.pqLut(col("rqv"), flat, lit(PqSub)).as("lut"))
    val approx = (0 until PqSub).map(m0 =>
      element_at(col("lut"), lit(m0 * PqK + 1) + element_at(col("codes"), m0 + 1)))
      .reduce(_ + _)
    val cand = Scale.topKPerGroup(
        broadcast(qlut).join(codes)
          .select(col("q_id"), col("vec_id"), approx.as("approx")),
        Seq("q_id"), Seq(col("approx").desc, col("vec_id")),
        k = PqR, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    topK(c.join(broadcast(cand), "vec_id")
      .join(broadcast(q.select(col("q_id"), col("qv"))), "q_id")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  /** Recall@[[K]] of the OPQ route vs exact brute ([[knnPqRecall]]
    * discipline) — published next to knn_pq_recall so the rotation's
    * value (or cost) on this corpus is a measured number, not a claim.
    */
  def knnOpqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(knnOpq(s, d))(s, d)

  // -------------------------------------------------------------- IVF-PQ
  /** The composed billion-scale layout (IVFADC, Jégou et al., TPAMI 2011):
    * the coarse quantizer routes each vector to a cell, PQ encodes the
    * RESIDUAL nv − ĉ_cell (residuals are tighter than raw vectors, so the
    * same 6-byte code carries more precision), and a query ADC-scores only
    * the [[IvfPqProbe]] cells it probes: score ≈ nq·ĉ_cell + nq·r =
    * cterm + Σ_m lut[m][code_m]. The 100 TB story compounds both parts —
    * the inverted lists bound the scan to probed cells AND each scanned
    * entry is 8 table-lookup adds over a 6-byte code; the full-precision
    * vectors are touched only for the ≤ PqR exact reranks per query.
    * Probing [[IvfPqProbe]] = 24 of 32 cells (vs knn_ivf's 16) is the
    * tradeoff made affordable by ADC: more cells at a fraction of the
    * per-entry cost, covering the composed recall loss.
    */
  val IvfPqProbe = 24

  final case class IvfPqIndex(cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]])

  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, IvfPqIndex]()

  private def ivfPqFor(s: SparkSession, d: String): IvfPqIndex =
    ivfPqCache.computeIfAbsent(d, _ => {
      val cents = centroidsFor(s, d)
      val xs = sampleNormalized(split(s, d)._2)
      // residuals of the training sample against their own cell's centroid
      // (unit-norm centroids; same argmax rule as the corpus assignment)
      val resid = xs.map { x =>
        var best = 0; var bs = Double.NegativeInfinity; var k = 0
        while (k < cents.length) {
          var acc = 0.0; var i = 0
          while (i < x.length) { acc += x(i) * cents(k)(i); i += 1 }
          val sc = acc / math.sqrt(n2Seq(cents(k)))
          if (sc > bs) { bs = sc; best = k }
          k += 1
        }
        val c = cents(best)
        Array.tabulate(x.length)(i => x(i) - c(i))
      }
      IvfPqIndex(cents, pqKmeans(resid))
    })

  def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    val (q, c) = split(s, d)
    val idx = ivfPqFor(s, d)
    val cents = idx.cents; val cb = idx.cb
    val dim = cents(0).length
    val sub = cb(0)(0).length
    val cc = centColsOf(s, cents)
    val flatCb = typedlit(cb.flatten.flatten.toIndexedSeq)
    val bias = typedlit(cb.flatMap(_.map(cv => -n2Seq(cv) / 2)).toIndexedSeq)
    // corpus → (cell, 8 residual codes) in ONE map-side codegen'd pass;
    // only (vec_id, cell, codes) ever moves. Cell-scaled operands route
    // through centCols (literal ≤ MaxCells, 1-row broadcast frame above);
    // the PQ codebook literals are cells-independent (PqSub·PqK·subDim).
    val codes = cc.attach(c)
      .withColumn("cell", NativeVector.argmaxDot(col("v"), cc.flat, cc.sn))
      .withColumn("nrm", sqrt(NativeVector.norm2(col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .withColumn("rv", transform(col("nv"), (x, i) =>
        x - element_at(cc.flat, col("cell") * dim + i + lit(1))))
      .withColumn("codes", NativeVector.pqEncode(col("rv"), flatCb, bias, lit(PqSub)))
      .select(col("vec_id"), col("cell"), col("codes"))
    // query probes (same raw-v /sn ranking as knn_ivf, one native looping
    // expression — constant codegen size) + per-cell centroid term + the
    // residual ADC table (also one native loop nest — the 8×16 unrolled
    // dot-of-slice array blew janino's 64 KB method budget) — all
    // map-side on the bounded query set
    val qCells = cc.attach(q)
      .withColumn("nrm", sqrt(NativeVector.norm2(col("qv"))))
      .withColumn("nqv", transform(col("qv"), x => x / col("nrm")))
      .withColumn("lut", NativeVector.pqLut(col("nqv"), flatCb, lit(PqSub)))
      .withColumn("cell",
        explode(NativeVector.argTopKDot(col("qv"), cc.flat, cc.sn, lit(IvfPqProbe))))
      .withColumn("cterm",
        NativeVector.dot(col("nqv"), slice(cc.flat, col("cell") * dim + 1, lit(dim))))
      .select(col("q_id"), col("cell"), col("cterm"), col("lut"))
    // approx = cterm + Σ_m lut[m][code_m], fixed left-assoc order (the
    // oracle states the same cterm + d0 + … + d7)
    val approx = (col("cterm") +: (0 until PqSub).map(mm =>
      element_at(col("lut"), lit(mm * PqK + 1) + element_at(col("codes"), mm + 1))))
      .reduce(_ + _)
    val cand = Scale.topKPerGroup(
        broadcast(qCells).join(codes, "cell")
          .select(col("q_id"), col("vec_id"), approx.as("approx")),
        Seq("q_id"), Seq(col("approx").desc, col("vec_id")),
        k = PqR, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    topK(c.join(broadcast(cand), "vec_id")
      .join(broadcast(q.select(col("q_id"), col("qv"))), "q_id")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  // ------------------------------------------------------------- hamming
  /** Binary-sign Hamming search: each 64-dim embedding compresses to TWO
    * 32-bit sign words packed in BIGINTs (bit i of half h = 1 iff
    * dim 32h+i ≥ 0 — the 1-bit quantization of the SimHash/ITQ family,
    * 256× smaller than float32), and k-NN ranks by Hamming distance
    * bit_count(w0⊕w0') + bit_count(w1⊕w1') with vec_id tie-break. The
    * split into halves keeps every shift strictly below bit 31 — bit 63
    * would need a signed-overflow shift whose semantics differ across
    * engines (DuckDB raises where two's complement wraps).
    *
    * Scale: binarization is one map-side codegen'd projection; the scored
    * join moves ONLY (vec_id, 2 longs) — at 100 TB of floats the Hamming
    * index is ~0.4 TB, the memory-resident re-rank front-end every
    * billion-scale deployment uses — and ranking is the same two-phase
    * bucketed top-k as brute (integer compares, no FP anywhere).
    */
  val HammingDim = 64

  private def hammingWords(df: DataFrame): DataFrame = {
    def half(h: Int) = expr(
      s"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + " +
      s"CASE WHEN element_at(embedding, ${32 * h} + i + 1) >= 0 " +
      s"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)")
    df.select(col("vec_id"), half(0).as("w0"), half(1).as("w1"))
  }

  def knnHamming(s: SparkSession, d: String): DataFrame = {
    val e = hammingWords(Tables.embeddings(s, d))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
    val c = e.filter(col("vec_id") >= NumQueries)
    Scale.topKPerGroup(
        broadcast(q).join(c)
          .select(col("q_id"), col("vec_id"),
            (expr("bit_count(q0 ^ w0)") + expr("bit_count(q1 ^ w1)"))
              .as("hamming")),
        Seq("q_id"), Seq(col("hamming").asc, col("vec_id")),
        k = K, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"), col("rnk").as("rank"),
        col("hamming"))
  }

  /** DuckDB restatement of one packed sign word (shared by the hamming
    * oracles).
    */
  private def hammingHalfSql(h: Int): String =
    s"CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN " +
    s"embedding[${32 * h} + i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i) " +
    s"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** Shared oracle prefix: packed words split into query/candidate sides
    * with pairwise Hamming scores (the `sc` relation).
    */
  private def hammingScoredCte: String =
    s"""h AS (SELECT vec_id, ${hammingHalfSql(0)} AS w0, ${hammingHalfSql(1)} AS w1
       |  FROM embeddings),
       |hq AS (SELECT vec_id AS q_id, w0 AS q0, w1 AS q1 FROM h
       |  WHERE vec_id < $NumQueries),
       |hc AS (SELECT * FROM h WHERE vec_id >= $NumQueries),
       |sc AS (SELECT q_id, vec_id,
       |    CAST(bit_count(xor(q0, w0)) + bit_count(xor(q1, w1)) AS INT)
       |      AS hamming
       |  FROM hq, hc)""".stripMargin

  private def hammingOracleSql: String =
    s"""WITH $hammingScoredCte,
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY hamming, vec_id) AS rnk FROM sc)
       |SELECT q_id, vec_id AS nn_id, CAST(rnk AS INT) AS rank, hamming
       |FROM rk WHERE rnk <= $K""".stripMargin

  // ----------------------------------------------------- hamming + rerank
  /** Two-stage search — the production shape of the binary index: a wide
    * Hamming shortlist of [[HammingR]] candidates per query (integer
    * compares over the packed sign words, [[knnHamming]]'s scan), then an
    * exact float cosine re-rank of ONLY the shortlist down to the final
    * top-[[K]]. This is how a billion-scale deployment actually serves:
    * the 1-bit index bounds the float reads to R per query, so the exact
    * kernel touches R·|queries| vectors instead of the corpus.
    *
    * Scale: stage 1 shuffles only (vec_id, 2 longs); stage 2 joins the
    * R-row-per-query shortlist back to the float column (a semi-join-
    * shaped equi-join on vec_id that prunes the scan to the shortlist)
    * and re-ranks a bounded R·|queries| frame. Same cosine and the same
    * (cos desc, vec_id) total order as brute, so agreement with the
    * ground truth is measurable bit for bit ([[knnHammingRecall]]).
    */
  val HammingR = 50

  /** Hamming shortlist of [[HammingR]] per query — stage 1 of the rerank. */
  private def hammingShortlist(s: SparkSession, d: String): DataFrame = {
    val e = hammingWords(Tables.embeddings(s, d))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
    val c = e.filter(col("vec_id") >= NumQueries)
    Scale.topKPerGroup(
        broadcast(q).join(c)
          .select(col("q_id"), col("vec_id"),
            (expr("bit_count(q0 ^ w0)") + expr("bit_count(q1 ^ w1)"))
              .as("hamming")),
        Seq("q_id"), Seq(col("hamming").asc, col("vec_id")),
        k = HammingR, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
  }

  def knnHammingRerank(s: SparkSession, d: String): DataFrame = {
    val (qf, cf) = split(s, d)
    topK(hammingShortlist(s, d)
      .join(cf, "vec_id") // shortlist prunes the float reads to R/query
      .join(broadcast(qf), "q_id")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  /** `fast = true` swaps the sequential-fold [[cosineSql]] for DuckDB's
    * native list_dot_product (measured bit-identical on this data — the
    * [[Dedup.embeddingScaleOracleSql]] precedent) for the sf1+ gate.
    */
  private def hammingCosSql(a: String, b: String, fast: Boolean): String =
    if (fast) s"(list_dot_product($a, $b) / " +
      s"sqrt(list_dot_product($a, $a) * list_dot_product($b, $b)))"
    else cosineSql(a, b)

  private def hammingRerankOracleSql(fast: Boolean = false): String =
    s"""WITH $hammingScoredCte,
       |sl AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id)
       |      AS srnk FROM sc) WHERE srnk <= $HammingR),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |rs AS (SELECT sl.q_id, sl.vec_id,
       |    ${hammingCosSql("qe.v", "ce.v", fast)} AS cos
       |  FROM sl JOIN e ce ON ce.vec_id = sl.vec_id
       |  JOIN e qe ON qe.vec_id = sl.q_id),
       |rk AS (SELECT q_id, vec_id, cos, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM rs)
       |SELECT q_id, vec_id AS nn_id, CAST(rank AS INT) AS rank,
       |  floor(cos*1e6)/1e6 AS cos
       |FROM rk WHERE rank <= $K""".stripMargin

  /** Recall@[[K]] of the Hamming-shortlist rerank against the exact brute
    * ground truth, per query — the number that licenses replacing the
    * float scan with the 1-bit front-end (the [[knnRecallEval]]
    * discipline applied to [[knnHammingRerank]]). A miss here is a true
    * neighbor whose sign pattern fell outside the R-radius shortlist.
    */
  def knnHammingRecall(s: SparkSession, d: String): DataFrame = {
    val brute = knnBrute(s, d).select(col("q_id"), col("nn_id"))
    val rr = knnHammingRerank(s, d).select(col("q_id"), col("nn_id"))
    val hits = brute.join(rr, Seq("q_id", "nn_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        detRound(coalesce(col("n_hits"), lit(0L)).cast("double") / K, 4)
          .as("recall"))
  }

  private def hammingRecallOracleSql(fast: Boolean = false): String =
    s"""WITH $hammingScoredCte,
       |sl AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id)
       |      AS srnk FROM sc) WHERE srnk <= $HammingR),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |rs AS (SELECT sl.q_id, sl.vec_id,
       |    ${hammingCosSql("qe.v", "ce.v", fast)} AS cos
       |  FROM sl JOIN e ce ON ce.vec_id = sl.vec_id
       |  JOIN e qe ON qe.vec_id = sl.q_id),
       |rrk AS (SELECT q_id, vec_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM rs),
       |rr AS (SELECT q_id, vec_id FROM rrk WHERE rank <= $K),
       |qe2 AS (SELECT vec_id AS q_id, v AS qv FROM e
       |  WHERE vec_id < $NumQueries),
       |ce2 AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |bsc AS (SELECT q_id, vec_id, ${hammingCosSql("qv", "v", fast)} AS cos
       |  FROM qe2, ce2),
       |brk AS (SELECT q_id, vec_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM bsc),
       |br AS (SELECT q_id, vec_id FROM brk WHERE rank <= $K),
       |hits AS (SELECT br.q_id, count(*) AS n_hits
       |  FROM br JOIN rr ON rr.q_id = br.q_id AND rr.vec_id = br.vec_id
       |  GROUP BY 1)
       |SELECT q.q_id, coalesce(hits.n_hits, 0) AS n_hits,
       |  floor(coalesce(hits.n_hits, 0) * 1e4 / $K) / 1e4 AS recall
       |FROM (SELECT DISTINCT q_id FROM br) q
       |LEFT JOIN hits ON hits.q_id = q.q_id""".stripMargin

  // ------------------------------------------------------ sq8 + rerank
  /** Two-stage search over the SQ8 codec — the int8 serving path of a
    * quantized vector store ([[embedSq8]] proved the codec; this is the
    * query side): stage 1 scores every candidate with the exact INTEGER
    * dot of the 0..255 codes (the int8-GEMM shortlist a production store
    * runs — 64·255² < 2³² so the scores are exact BIGINTs, no float in
    * the hot scan), keeps [[Sq8R]] per query by (dot desc, vec_id);
    * stage 2 re-ranks ONLY the shortlist with exact float cosine to
    * top-[[K]]. Per-dim [mn,mx] ranges follow embedSq8's bounded-collect
    * literal-model contract (≤dims rows); the oracle recomputes them
    * itself. The raw code dot is un-debiased by design — monotone enough
    * for a shortlist, and [[knnSq8Recall]] measures exactly how much it
    * loses.
    */
  val Sq8R = 50

  /** Per-vector SQ8 code arrays under driver-collected per-dim ranges
    * (codes 0..255 as BIGINTs; degenerate mx=mn dims code to 0).
    */
  private def sq8Codes(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val dims = emb.select(size(col("v"))).head.getInt(0)
    val stats = emb.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("pos")).collect() // ≤ dims rows — the bounded literal model
    val mnA = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxA = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    emb.select(col("vec_id"),
      transform(sequence(lit(1), lit(dims)), i => {
        val x = element_at(col("v"), i).cast("double")
        val mn = element_at(mnA, i)
        val mx = element_at(mxA, i)
        when(mx > mn,
          least(lit(255.0), floor((x - mn) * lit(255.0) / (mx - mn)))
            .cast("long"))
          .otherwise(lit(0L))
      }).as("cs"))
  }

  /** Integer-dot shortlist of [[Sq8R]] per query — stage 1 of the rerank. */
  private def sq8Shortlist(s: SparkSession, d: String): DataFrame = {
    val cd = sq8Codes(s, d)
    val q = cd.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("cs").as("qcs"))
    val c = cd.filter(col("vec_id") >= NumQueries)
    // NativeVector.dotLong, not aggregate(zip_with(...)): the HOF pair
    // scorer allocated a 64-slot array + lambda fold per (query, candidate)
    // pair OUTSIDE codegen — measured as this query's whole sf10 wall
    // (24.5 s / 8.4× per 10×, BENCH_sf10.json r11). The native loop keeps
    // the scan in one whole-stage-codegen pass; integer dot, so the scores
    // are bit-identical by arithmetic, not by fold-order discipline.
    Scale.topKPerGroup(
        broadcast(q).join(c)
          .select(col("q_id"), col("vec_id"),
            NativeVector.dotLong(col("qcs"), col("cs")).as("d8")),
        Seq("q_id"), Seq(col("d8").desc, col("vec_id")),
        k = Sq8R, saltSrc = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
  }

  def knnSq8Rerank(s: SparkSession, d: String): DataFrame = {
    val (qf, cf) = split(s, d)
    topK(sq8Shortlist(s, d)
      .join(cf, "vec_id") // shortlist prunes the float reads to R/query
      .join(broadcast(qf), "q_id")
      .withColumn("cos", NativeVector.cosine(col("qv"), col("v"))))
  }

  /** Shared oracle prefix for the sq8 searches: recomputed ranges → code
    * lists → integer-dot shortlist of [[Sq8R]] per query (`sl`).
    */
  private def sq8ShortlistCte: String =
    s"""e0 AS (SELECT vec_id, embedding AS v FROM embeddings),
       |st AS (SELECT CAST(i AS INT) AS i,
       |    min(CAST(v[CAST(i AS INT)] AS DOUBLE)) AS mn,
       |    max(CAST(v[CAST(i AS INT)] AS DOUBLE)) AS mx
       |  FROM e0, unnest(range(1, len(v)+1)) t(i) GROUP BY 1),
       |mm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       |  FROM st),
       |cd AS (SELECT vec_id, list_transform(range(1, len(v)+1), i ->
       |    CASE WHEN mxs[CAST(i AS INT)] > mns[CAST(i AS INT)] THEN
       |      CAST(least(255.0, floor((CAST(v[CAST(i AS INT)] AS DOUBLE)
       |          - mns[CAST(i AS INT)]) * 255.0
       |        / (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]))) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS cs
       |  FROM e0, mm),
       |cq AS (SELECT vec_id AS q_id, cs AS qcs FROM cd
       |  WHERE vec_id < $NumQueries),
       |cc AS (SELECT * FROM cd WHERE vec_id >= $NumQueries),
       |s8 AS (SELECT q_id, vec_id,
       |    CAST(list_sum(list_transform(range(1, len(qcs)+1), i ->
       |      qcs[CAST(i AS INT)] * cs[CAST(i AS INT)])) AS BIGINT) AS d8
       |  FROM cq, cc),
       |sl AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d8 DESC, vec_id)
       |      AS srnk FROM s8) WHERE srnk <= $Sq8R)""".stripMargin

  private def sq8RerankOracleSql(fast: Boolean = false): String =
    s"""WITH $sq8ShortlistCte,
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |rs AS (SELECT sl.q_id, sl.vec_id,
       |    ${hammingCosSql("qe.v", "ce.v", fast)} AS cos
       |  FROM sl JOIN e ce ON ce.vec_id = sl.vec_id
       |  JOIN e qe ON qe.vec_id = sl.q_id),
       |rk AS (SELECT q_id, vec_id, cos, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM rs)
       |SELECT q_id, vec_id AS nn_id, CAST(rank AS INT) AS rank,
       |  floor(cos*1e6)/1e6 AS cos
       |FROM rk WHERE rank <= $K""".stripMargin

  /** Recall@[[K]] of the SQ8-shortlist rerank against the exact brute
    * ground truth — the number that prices the codec's 4× scan-byte
    * saving in lost neighbors (the [[knnHammingRecall]] discipline; a
    * 256-level code should shortlist strictly better than 1-bit signs).
    */
  def knnSq8Recall(s: SparkSession, d: String): DataFrame =
    recallOf(knnSq8Rerank(s, d))(s, d)

  /** Recall@[[K]] of the PQ search (ADC shortlist + exact rerank) against
    * the exact brute ground truth — completes the codec recall-audit
    * family: hamming/sq8/ivf each publish their recall as a first-class
    * query, while PQ's measured 1.00 lived only in a spec assertion. Same
    * composition as [[knnRecallEval]]: the hit join is on (q_id, nn_id)
    * result frames (queries × K rows), queries with zero hits still get a
    * row.
    */
  def knnPqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(knnPq(s, d))(s, d)

  /** Recall@[[K]] of the composed IVFADC (IVF cells + residual PQ) search
    * vs exact brute — the billion-scale layout's monitoring number
    * ([[knnPqRecall]] discipline).
    */
  def knnIvfPqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(knnIvfPq(s, d))(s, d)

  private def recallOf(route: DataFrame)(s: SparkSession, d: String): DataFrame = {
    // both frames have two consumers (hit join + denominator / the route's
    // own rerank lineage) — materialize so the exact-truth kernel and the
    // route run once, the shared-frame discipline of the other audits
    // truth kernel ∥ route materialization (independent chains, r15); both
    // results are ≤ NumQueries·K rows — broadcast the comparison joins
    val two = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize(knnBrute(s, d).select(col("q_id"), col("nn_id"))),
      () => Scale.materialize(route.select(col("q_id"), col("nn_id")))),
      slots = 2)
    val (brute, r) = (two(0), two(1))
    val hits = brute.join(broadcast(r), Seq("q_id", "nn_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("q_id")).distinct()
      .join(broadcast(hits), Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        detRound(coalesce(col("n_hits"), lit(0L)).cast("double") / K, 4)
          .as("recall"))
  }

  /** The recall audits' shared oracle shape: exact brute + the route's own
    * oracle as CTEs, hit join, per-query recall (the recallEvalOracleSql
    * twin, parametric in the route SQL).
    */
  private def recallOfOracleSql(routeSql: String): String =
    s"""WITH brute AS (SELECT * FROM (
       |$bruteOracleSql
       |)),
       |rt AS (SELECT * FROM (
       |$routeSql
       |)),
       |h AS (SELECT b.q_id, count(*) AS n_hits
       |  FROM brute b JOIN rt ON rt.q_id = b.q_id AND rt.nn_id = b.nn_id
       |  GROUP BY 1),
       |qs AS (SELECT DISTINCT q_id FROM brute)
       |SELECT q_id, coalesce(n_hits, 0) AS n_hits,
       |  floor(CAST(coalesce(n_hits, 0) AS DOUBLE) / $K * 1e4)/1e4 AS recall
       |FROM qs LEFT JOIN h USING (q_id)""".stripMargin

  private def sq8RecallOracleSql(fast: Boolean = false): String =
    s"""WITH $sq8ShortlistCte,
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |rs AS (SELECT sl.q_id, sl.vec_id,
       |    ${hammingCosSql("qe.v", "ce.v", fast)} AS cos
       |  FROM sl JOIN e ce ON ce.vec_id = sl.vec_id
       |  JOIN e qe ON qe.vec_id = sl.q_id),
       |rrk AS (SELECT q_id, vec_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM rs),
       |rr AS (SELECT q_id, vec_id FROM rrk WHERE rank <= $K),
       |qe2 AS (SELECT vec_id AS q_id, v AS qv FROM e
       |  WHERE vec_id < $NumQueries),
       |ce2 AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |bsc AS (SELECT q_id, vec_id, ${hammingCosSql("qv", "v", fast)} AS cos
       |  FROM qe2, ce2),
       |brk AS (SELECT q_id, vec_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM bsc),
       |br AS (SELECT q_id, vec_id FROM brk WHERE rank <= $K),
       |hits AS (SELECT br.q_id, count(*) AS n_hits
       |  FROM br JOIN rr ON rr.q_id = br.q_id AND rr.vec_id = br.vec_id
       |  GROUP BY 1)
       |SELECT q.q_id, coalesce(hits.n_hits, 0) AS n_hits,
       |  floor(coalesce(hits.n_hits, 0) * 1e4 / $K) / 1e4 AS recall
       |FROM (SELECT DISTINCT q_id FROM br) q
       |LEFT JOIN hits ON hits.q_id = q.q_id""".stripMargin

  // --------------------------------------------------------- dim variance
  /** Per-dimension moment profile of the embedding corpus — the anisotropy
    * audit run before trusting PCA budgets, Matryoshka truncation, or SQ8
    * ranges: each component quantizes to floor(x·1e6) BIGINT FIRST (the
    * [[embedCentroidDrift]] discipline — integer sums no aggregation order
    * can perturb), then per dimension the count, floored mean, exact
    * population variance (n·Σq²−(Σq)²) div n² in micro² units, and the
    * min/max envelope. A dimension with collapsed variance is wasted
    * index bytes; a runaway one dominates every cosine.
    *
    * Scale: one posexplode → (dim)-keyed map-side-partial aggregate; the
    * output is the bounded dims-row model frame. Sums ride DECIMAL(38) —
    * Σq² ≤ n·(5e6)² needs the headroom long lacks at 100 TB corpora.
    */
  def embedDimVariance(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(toDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("dim"), floor(col("x") * DriftQ).cast("long").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("sq"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sq2"),
        min(col("q")).as("min_micro"), max(col("q")).as("max_micro"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        expr("CAST(sq div n AS BIGINT)").as("mean_micro"),
        expr("CAST((n * sq2 - sq * sq) div (CAST(n AS DECIMAL(38,0)) * n) " +
          "AS BIGINT)").as("var_micro2"),
        col("min_micro"), col("max_micro"))

  private def dimVarianceOracleSql: String =
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT CAST(i AS INT) - 1 AS dim,
       |    CAST(floor(v[CAST(i AS INT)] * $DriftQ) AS BIGINT) AS q
       |  FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
       |ag AS (SELECT dim, count(*) AS n, sum(CAST(q AS HUGEINT)) AS sq,
       |    sum(CAST(q AS HUGEINT) * q) AS sq2,
       |    min(q) AS min_micro, max(q) AS max_micro
       |  FROM q GROUP BY 1)
       |SELECT CAST(dim AS BIGINT) AS dim, n,
       |  CAST(sq // n AS BIGINT) AS mean_micro,
       |  CAST((n * sq2 - sq * sq) // (CAST(n AS HUGEINT) * n) AS BIGINT)
       |    AS var_micro2,
       |  min_micro, max_micro
       |FROM ag""".stripMargin

  // ------------------------------------------------------ label kNN eval
  /** Leave-one-out kNN-classifier accuracy per label — the standard
    * label-quality / embedding-quality eval (does the embedding separate
    * the classes a classifier must separate?): every [[EvalMod]]-th vector
    * is a probe, its label is predicted as the majority label of its
    * [[K]] nearest corpus neighbors (self excluded; vote ties break to the
    * smaller label, neighbor ties to the smaller vec_id), and accuracy
    * rolls up per TRUE label in ppm. Like [[knnRecallEval]]/
    * [[Dedup.dedupRecallEval]] this is an exact AUDIT whose probe set is
    * BOUNDED BY CONSTANT, not by fraction: every [[EvalMod]]-th vector up
    * to [[EvalCap]] probes (vec_id < EvalCap·EvalMod — a deterministic
    * prefix slice both engines state identically). A fractional slice made
    * the eval quadratic in the corpus (probes ∝ n × scan ∝ n — measured
    * 268 s at sf1, 158× its sf0.1 self, the round-10 suite's worst entry
    * by 5×); with the cap the audit is one linear corpus scan against the
    * broadcast probe set at any corpus size, which is what "run it over a bounded probe sample, not
    * the corpus" (the recall-eval discipline) always meant. The cap covers
    * every vector at the sf0.01 gate (≤ 2,560 ids), so gate results are
    * unchanged; statistically, 512 probes put the per-label accuracy's
    * standard error under ~±2.2 points — the monitoring resolution this
    * audit exists for.
    */
  val EvalMod = 5
  val EvalCap = 512

  def embedLabelKnnEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    // ≤ EvalCap probes — the bounded deterministic collect contract (same
    // budget class as the IVF/PQ training samples: 512 × 64 doubles).
    val probeRows = e.filter(col("vec_id") % EvalMod === 0 &&
        col("vec_id") < lit(EvalCap.toLong * EvalMod))
      .as[(Long, Array[Double], Int)].collect().sortBy(_._1)
    def n2(v: Array[Double]): Double = {
      var a = 0.0; var i = 0
      while (i < v.length) { a += v(i) * v(i); i += 1 }
      a
    }
    val bc = s.sparkContext.broadcast(
      probeRows.map { case (id, v, l) => (id, l, v, n2(v)) })
    // Probe scan as a mapPartitions primitive-loop kernel (the
    // dedupEmbeddingBroadcast precedent — rung (d), measured-justified):
    // the broadcast-join formulation materialized probes × corpus rows
    // each carrying BOTH 64-double arrays through the join before the
    // projection could drop them — at sf10 that was 102M array-pair rows
    // and 462 s of per-row array deserialization + allocation (17.1× per
    // 10× — the suite's second-worst superlinear wall) for ~6 Gflops of
    // actual math. Here each corpus partition streams once, every row
    // scores all probes in a tight double loop (fold order, NaN ordering
    // via Double.compare, and cos = dot/sqrt(nq·nv) all bit-identical to
    // NativeVector.cosine / the SQL oracle), and only per-partition
    // (probe × K) candidate rows ever materialize — the global
    // topKPerGroup then sees ≤ K·partitions rows per probe. Measured:
    // sf1 27.0→4.2 s, sf10 462→5.8 s (1.4× per 10× — sublinear;
    // BENCH_sf10.json).
    val cand = e.as[(Long, Array[Double], Int)]
      // fan the single-file scan out first (the dedup_embedding lesson:
      // 1-2 input splits would run the whole kernel on 1-2 cores)
      .repartition(s.sparkContext.defaultParallelism * 4)
      .mapPartitions { it =>
        val ps = bc.value
        val np = ps.length
        // per-probe ≤K candidate lists kept sorted best-first under the
        // (cos desc, vec_id asc) total order; K=10, so linear insertion
        val cosB = Array.fill(np)(new Array[Double](K))
        val idB = Array.fill(np)(new Array[Long](K))
        val lbB = Array.fill(np)(new Array[Int](K))
        val cnt = new Array[Int](np)
        // Spark/DuckDB double sort order: NaN sorts LARGEST (zero-norm
        // vectors score NaN) — java.lang.Double.compare matches both
        def better(c1: Double, i1: Long, c2: Double, i2: Long): Boolean = {
          val c = java.lang.Double.compare(c1, c2)
          c > 0 || (c == 0 && i1 < i2)
        }
        it.foreach { case (vid, v, lbl) =>
          val nv = n2(v)
          var p = 0
          while (p < np) {
            val (qid, _, qv, qn) = ps(p)
            if (vid != qid) {
              var dot = 0.0; var i = 0
              while (i < v.length) { dot += qv(i) * v(i); i += 1 }
              val cos = dot / math.sqrt(qn * nv)
              val c = cnt(p)
              var j = 0
              while (j < c && !better(cos, vid, cosB(p)(j), idB(p)(j))) j += 1
              if (j < K) {
                var m = math.min(c, K - 1)
                while (m > j) {
                  cosB(p)(m) = cosB(p)(m - 1); idB(p)(m) = idB(p)(m - 1)
                  lbB(p)(m) = lbB(p)(m - 1); m -= 1
                }
                cosB(p)(j) = cos; idB(p)(j) = vid; lbB(p)(j) = lbl
                if (c < K) cnt(p) = c + 1
              }
            }
            p += 1
          }
        }
        (0 until np).iterator.flatMap { p =>
          val (qid, qlbl, _, _) = ps(p)
          (0 until cnt(p)).iterator
            .map(j => (qid, qlbl, idB(p)(j), lbB(p)(j), cosB(p)(j)))
        }
      }.toDF("q_id", "q_label", "vec_id", "label", "cos")
    val top = Scale.topKPerGroup(cand,
      Seq("q_id"), Seq(col("cos").desc, col("vec_id")),
      k = K, saltSrc = col("vec_id"))
    val votes = top.groupBy(col("q_id"), col("q_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
    // bounded window: ≤ K vote rows per probe
    val pred = votes.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("q_label"), col("label").as("pred_label"))
    pred.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_eval"), col("n_correct"),
        expr("n_correct * 1000000 div n_eval").as("acc_ppm"))
  }

  private def labelKnnOracleSql(fast: Boolean = false): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings),
       |pq AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e
       |  WHERE vec_id % $EvalMod = 0 AND vec_id < ${EvalCap.toLong * EvalMod}),
       |sc AS (SELECT q_id, q_label, e.vec_id, e.label,
       |    ${hammingCosSql("qv", "v", fast)} AS cos
       |  FROM pq, e WHERE e.vec_id <> pq.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS r FROM sc),
       |tv AS (SELECT q_id, q_label, label, count(*) AS votes FROM rk
       |  WHERE r <= $K GROUP BY 1, 2, 3),
       |pr AS (SELECT q_id, q_label, label AS pred_label, row_number()
       |    OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn
       |  FROM tv)
       |SELECT q_label AS label, count(*) AS n_eval,
       |  CAST(sum(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) AS BIGINT) AS acc_ppm
       |FROM pr WHERE rn = 1 GROUP BY 1""".stripMargin

  // --------------------------------------------------------- silhouette
  /** Simplified (centroid-based) silhouette per label — the cluster-
    * separation audit (Rousseeuw's s(i) with the per-cluster mean distance
    * replaced by distance-to-centroid, the standard linear-time form):
    * per-label centroids come from floor(x·10⁶) integer component sums
    * (the [[embedCentroidDrift]] discipline — no aggregation-order
    * sensitivity), every vector scores an exact-integer dot against each
    * centroid, cosines floor to micro units, and
    * s = (b−a)·10⁶ div max(a,b) over the micro-distances a (own centroid)
    * and b (nearest other centroid). Vectors with max(a,b) = 0 are
    * excluded by contract (a vector exactly ON two centroids separates
    * nothing), and so are zero-norm vectors (qq = 0) and degenerate
    * zero-norm label centroids (mm = 0) — cosine against a zero vector is
    * undefined, and the two engines disagree on Inf/NaN→BIGINT casts.
    *
    * Scale: one posexplode → (label,dim) map-side centroid agg (bounded
    * labels × dims model frame), then the scoring join is vector-dims ×
    * |labels| against the BROADCAST centroid frame with a map-side-partial
    * (vec,label) dot rollup — no corpus-sized window, no pairwise
    * vector×vector work anywhere.
    */
  /** Pane bound for the alignment audit: pairwise work is
    * [[AlignPane]]²/2 cosines REGARDLESS of corpus size — the
    * constant-bounded audit discipline ([[TruthSampleIds]] /
    * EvalCap precedent), covering every vector at the gate SFs.
    */
  val AlignPane = 2048

  /** Population-level ALIGNMENT vs cross-class CONTRAST of the embedding
    * space (the alignment half of Wang & Isola 2020's alignment/uniformity
    * pair, per label, with the cross-label mean as the contrast baseline —
    * the corpus-statistic companion to [[embedTripletEval]]'s per-anchor
    * extremes): over all pairs in the deterministic [[AlignPane]] prefix
    * pane, mean squared distance ‖x−y‖² = 2−2·cos between SAME-label
    * members (align_ppm — small = the class is tight), between each label
    * and the rest (cross_ppm), and the gap (positive = the space separates
    * that class). All integer: per-pair 1e6-quantized distances from the
    * bit-deterministic sequential-fold cosine, integer sums and
    * truncating division on both engines. Labels with a single pane
    * member have no same-pair row and drop out by contract.
    *
    * Scale: the pane self-join broadcasts one bounded side and streams the
    * other; aggregation is map-side partial over ≤ |labels| groups — the
    * audit costs the same at every corpus size.
    */
  def embedAlignment(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") < AlignPane)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"),
      col("label").as("la"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"),
      col("label").as("lb"))
    val pairs = broadcast(a).join(b, col("ia") < col("ib"))
      .withColumn("c0", NativeVector.cosine(col("va"), col("vb")))
      .select(col("la"), col("lb"),
        expr("CAST(floor((2 - 2*c0)*1e6) AS BIGINT)").as("d2ppm"))
      .transform(Scale.materialize) // one pane pass, three consumers
    val same = pairs.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_same"), sum(col("d2ppm")).as("ss"))
    val cross = pairs.filter(col("la") =!= col("lb"))
      .select(col("la").as("label"), col("d2ppm"))
      .unionByName(pairs.filter(col("la") =!= col("lb"))
        .select(col("lb").as("label"), col("d2ppm")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_cross"), sum(col("d2ppm")).as("sc"))
    same.join(cross, "label")
      .select(col("label"), col("n_same"),
        expr("ss div n_same").as("align_ppm"),
        col("n_cross"),
        expr("sc div n_cross").as("cross_ppm"),
        (expr("sc div n_cross") - expr("ss div n_same")).as("gap_ppm"))
  }

  private def alignmentOracleSql: String = {
    import graft.functions.VectorFunctions.cosineSql
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings WHERE vec_id < $AlignPane),
       |p AS (SELECT a.label AS la, b.label AS lb,
       |    CAST(floor((2 - 2*${cosineSql("a.v", "b.v")})*1e6) AS BIGINT)
       |      AS d2ppm
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
       |s AS (SELECT la AS label, count(*) AS n_same, sum(d2ppm) AS ss
       |  FROM p WHERE la = lb GROUP BY 1),
       |c AS (SELECT label, count(*) AS n_cross, sum(d2ppm) AS sc FROM (
       |    SELECT la AS label, d2ppm FROM p WHERE la <> lb
       |    UNION ALL SELECT lb AS label, d2ppm FROM p WHERE la <> lb)
       |  GROUP BY 1)
       |SELECT s.label, n_same, CAST(ss // n_same AS BIGINT) AS align_ppm,
       |  n_cross, CAST(sc // n_cross AS BIGINT) AS cross_ppm,
       |  CAST(sc // n_cross AS BIGINT) - CAST(ss // n_same AS BIGINT)
       |    AS gap_ppm
       |FROM s JOIN c USING (label)""".stripMargin
  }

  def embedSilhouette(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(toDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x") * DriftQ).cast("long").as("q"))
      .transform(Scale.materialize) // feeds centroids, norms, AND scoring
    val cent = q.groupBy(col("label").as("c_label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      .select(col("c_label"), col("dim"), expr("sq div n").as("m"))
      .transform(Scale.materialize) // feeds the norm agg AND the dot join
    val centNorm = cent.groupBy(col("c_label"))
      .agg(sum(col("m") * col("m")).as("mm"))
    val qq = q.groupBy(col("vec_id").as("vid2"))
      .agg(sum(col("q") * col("q")).as("qq"))
    val dots = q.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum(col("q") * col("m")).as("dot"))
    val cosm = dots
      .join(qq, col("vec_id") === col("vid2"))
      .join(broadcast(centNorm), Seq("c_label"))
      // zero-norm exclusion (see contract in the Scaladoc): without it an
      // all-zero vector (qq=0) or degenerate centroid (mm=0) divides by 0 —
      // Spark nulls the Inf/NaN on the long cast while DuckDB's CAST errors,
      // an engine-divergent, data-dependent failure the max(a,b)>0 filter
      // runs too late to catch.
      .filter(col("qq") > 0 && col("mm") > 0)
      .select(col("vec_id"), col("label"), col("c_label"),
        floor(lit(1e6) * col("dot")
            / (sqrt(col("qq").cast("double")) * sqrt(col("mm").cast("double"))))
          .cast("long").as("cos_micro"))
    val ab = cosm.groupBy(col("vec_id"), col("label"))
      .agg((lit(1000000L)
          - max(when(col("c_label") === col("label"), col("cos_micro"))))
          .as("a_d"),
        (lit(1000000L)
          - max(when(col("c_label") =!= col("label"), col("cos_micro"))))
          .as("b_d"))
    ab.filter(greatest(col("a_d"), col("b_d")) > 0)
      .select(col("label"),
        expr("(b_d - a_d) * 1000000 div greatest(a_d, b_d)").as("s_ppm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(s_ppm) div count(1)").as("mean_s_ppm"),
        min(col("s_ppm")).as("min_s_ppm"),
        max(col("s_ppm")).as("max_s_ppm"))
  }

  private def silhouetteOracleSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id, label, CAST(i AS INT) - 1 AS dim,
       |    CAST(floor(v[CAST(i AS INT)] * $DriftQ) AS BIGINT) AS q
       |  FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
       |cent AS (SELECT label AS c_label, dim,
       |    CAST(sum(q) // count(*) AS BIGINT) AS m FROM q GROUP BY 1, 2),
       |cn AS (SELECT c_label, CAST(sum(m * m) AS BIGINT) AS mm FROM cent
       |  GROUP BY 1),
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq FROM q
       |  GROUP BY 1),
       |dots AS (SELECT q.vec_id, q.label, c.c_label,
       |    CAST(sum(q.q * c.m) AS BIGINT) AS dot
       |  FROM q JOIN cent c ON c.dim = q.dim GROUP BY 1, 2, 3),
       |cosm AS (SELECT d.vec_id, d.label, d.c_label,
       |    CAST(floor(1e6 * d.dot / (sqrt(CAST(qq.qq AS DOUBLE))
       |      * sqrt(CAST(cn.mm AS DOUBLE)))) AS BIGINT) AS cos_micro
       |  FROM dots d JOIN qq ON qq.vec_id = d.vec_id
       |  JOIN cn ON cn.c_label = d.c_label
       |  WHERE qq.qq > 0 AND cn.mm > 0),
       |ab AS (SELECT vec_id, label,
       |    1000000 - max(CASE WHEN c_label = label THEN cos_micro END)
       |      AS a_d,
       |    1000000 - max(CASE WHEN c_label <> label THEN cos_micro END)
       |      AS b_d
       |  FROM cosm GROUP BY 1, 2),
       |sv AS (SELECT label, (b_d - a_d) * 1000000 // greatest(a_d, b_d)
       |    AS s_ppm
       |  FROM ab WHERE greatest(a_d, b_d) > 0)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_s_ppm,
       |  CAST(min(s_ppm) AS BIGINT) AS min_s_ppm,
       |  CAST(max(s_ppm) AS BIGINT) AS max_s_ppm
       |FROM sv GROUP BY 1""".stripMargin

  /** Diagnostics for ScaleStress: corpus cell assignment (IVF inverted-
    * list balance — the probed-cell scan cost driver) and PQ codes (per-
    * subspace codebook utilization).
    */
  private[graft] def diagCorpusCells(s: SparkSession, d: String): DataFrame =
    assignCells(split(s, d)._2, s, d).select(col("vec_id"), col("cell"))

  private[graft] def diagPqCodes(s: SparkSession, d: String): DataFrame = {
    val c = split(s, d)._2
    val cb = pqCodebookFor(s, d)
    val flat = typedlit(cb.flatten.flatten.toIndexedSeq)
    val bias = typedlit(cb.flatMap(_.map(cv => -n2Seq(cv) / 2)).toIndexedSeq)
    c.withColumn("nrm", sqrt(NativeVector.norm2(col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .withColumn("codes", NativeVector.pqEncode(col("nv"), flat, bias, lit(PqSub)))
      .select(col("vec_id"), col("codes"))
  }

  /** int8 scalar quantization (the SQ8 storage path of a large vector
    * store — 4 bytes/dim → 1, the standard FAISS `SQ8` codec) with a
    * per-label L1 reconstruction-error report: per-dim [min,max] ranges
    * (one map-side-partial agg to a ≤dims-row frame, collected as the
    * bounded literal model), code = floor((x−mn)·255/(mx−mn)) clamped to
    * 255 (x ≥ mn by construction so no lower clamp; the upper guard
    * absorbs the 1-ulp overshoot at x = mx), dequant at the cell midpoint.
    * The per-vector error is a SEQUENTIAL left fold over dims (identical
    * association in both engines — the list_reduce(list_prepend) pattern),
    * floored to integer BEFORE the per-label agg so shuffle order can
    * never change a bit. The oracle recomputes the ranges itself in SQL —
    * nothing trained crosses over. Scale: one stats pass + one scoring
    * pass, both shuffle-free except the dims-row and labels-row aggs.
    */
  def embedSq8(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val dims = emb.select(size(col("v"))).head.getInt(0)
    val stats = emb.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("pos")).collect() // ≤ dims rows — the bounded literal model
    val mnA = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxA = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    val err = aggregate(sequence(lit(1), lit(dims)), lit(0.0), (acc, i) => {
      val x = element_at(col("v"), i).cast("double")
      val mn = element_at(mnA, i)
      val mx = element_at(mxA, i)
      val code = least(lit(255.0), floor((x - mn) * lit(255.0) / (mx - mn)))
      val dq = mn + (code + lit(0.5)) * (mx - mn) / lit(255.0)
      acc + when(mx > mn, abs(x - dq)).otherwise(lit(0.0))
    })
    emb.select(col("label"), floor(err * lit(1e9)).cast("long").as("err_e9"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_e9")).as("sum_err"),
        max(col("err_e9")).as("max_err_e9"))
      .select(col("label"), col("n_vecs"),
        expr("sum_err div n_vecs").as("avg_err_e9"), col("max_err_e9"))
  }

  private val sq8OracleSql: String =
    """WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
      |st AS (SELECT CAST(i AS INT) AS i,
      |    min(CAST(v[CAST(i AS INT)] AS DOUBLE)) AS mn,
      |    max(CAST(v[CAST(i AS INT)] AS DOUBLE)) AS mx
      |  FROM e, unnest(range(1, len(v)+1)) t(i) GROUP BY 1),
      |mm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      |er AS (SELECT label,
      |    list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1), i ->
      |      CASE WHEN mxs[CAST(i AS INT)] > mns[CAST(i AS INT)] THEN
      |        abs(CAST(v[CAST(i AS INT)] AS DOUBLE) - (mns[CAST(i AS INT)]
      |          + (least(255.0, floor((CAST(v[CAST(i AS INT)] AS DOUBLE) - mns[CAST(i AS INT)])
      |              * 255.0 / (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]))) + 0.5)
      |            * (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) / 255.0))
      |      ELSE 0.0 END)), (acc, x) -> acc + x) AS sse
      |  FROM e, mm),
      |eq AS (SELECT label, CAST(floor(sse * 1e9) AS BIGINT) AS err_e9 FROM er)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(err_e9) AS BIGINT) // count(*) AS avg_err_e9,
      |  max(err_e9) AS max_err_e9
      |FROM eq GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semdedup" -> dedupSemdedup,
    "dedup_embedding_ann" -> dedupEmbeddingAnn,
    "dedup_embedding_ann_recall" -> dedupEmbeddingAnnRecall,
    "dedup_ann_probe_sweep" -> dedupAnnProbeSweep,
    "embed_sq8" -> embedSq8,
    "knn_brute_cosine" -> knnBrute,
    "knn_mmr" -> knnMmr,
    "embed_triplet_eval" -> embedTripletEval,
    "knn_matryoshka" -> knnMatryoshka,
    "knn_range" -> knnRange,
    "knn_filtered" -> knnFiltered,
    "knn_lsh" -> knnLsh,
    "knn_lsh_auto" -> knnLshAuto,
    "knn_ivf" -> knnIvf,
    "embed_outliers" -> embedOutliers,
    "embed_cluster_purity" -> embedClusterPurity,
    "embed_ivf_balance" -> embedIvfBalance,
    "embed_centroid_drift" -> embedCentroidDrift,
    "embed_kcenter" -> embedKcenter,
    "knn_rrf" -> knnRrf,
    "embed_pca" -> embedPca,
    "knn_graph" -> knnGraph,
    "knn_recall_eval" -> knnRecallEval,
    "knn_pq" -> knnPq,
    "knn_opq" -> knnOpq,
    "knn_opq_recall" -> knnOpqRecall,
    "knn_ivfpq" -> knnIvfPq,
    "knn_hamming" -> knnHamming,
    "knn_hamming_rerank" -> knnHammingRerank,
    "knn_hamming_recall" -> knnHammingRecall,
    "embed_dim_variance" -> embedDimVariance,
    "embed_label_knn_eval" -> embedLabelKnnEval,
    "embed_silhouette" -> embedSilhouette,
    "embed_alignment" -> embedAlignment,
    "embed_pq_distortion" -> embedPqDistortion,
    "knn_graph_search" -> knnGraphSearch,
    "knn_graph_search_recall" -> knnGraphSearchRecall,
    "knn_graph_search_lift" -> knnGraphSearchLift,
    "knn_graph_param_sweep" -> knnGraphParamSweep,
    "knn_sq8_rerank" -> knnSq8Rerank,
    "knn_sq8_recall" -> knnSq8Recall,
    "knn_pq_recall" -> knnPqRecall,
    "knn_ivfpq_recall" -> knnIvfPqRecall,
    "knn_ivf_probe_sweep" -> knnIvfProbeSweep,
  )

  /** All three searches have exact SQL oracles. The LSH oracle re-states the
    * whole index in DuckDB — the 48 hyperplanes embed as literal DOUBLE[]
    * arrays (deterministic fixed-seed values; Double toString round-trips
    * bit-exactly), signatures fold with the same sequential IEEE order as
    * NativeVector.dot, so both engines bucket, probe, and rank identically.
    * The IVF oracle embeds the TRAINED centroids the same way: the quantizer
    * is deterministic given the data, and `oracles` is generated after the
    * query has trained (Verify runs queries, then dumps oracle_sql.json), so
    * the literal centroids in the SQL are the exact doubles the Spark plan
    * used — both engines assign cells, probe, and rank identically.
    */
  private def planeSql(ps: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], t: Int, j: Int): String =
    ps(t)(j).map(_.toString).mkString("([", ",", "]::DOUBLE[])")
  private def sigSql(ps: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      sigBits: Int, t: Int, v: String): String =
    (0 until sigBits).map { j =>
      s"(CASE WHEN ${dotSql(v, planeSql(ps, t, j))} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  private def lshOracleSqlFor(numTables: Int, sigBits: Int): String = {
    val ps = if (numTables == NumTables && sigBits == SigBits) planes
      else mkPlanes(numTables, sigBits)
    val csig = (0 until numTables).map(t =>
      s"SELECT vec_id, v, $t AS t, ${sigSql(ps, sigBits, t, "v")} AS sig FROM c").mkString("\nUNION ALL ")
    val qsig = (0 until numTables).map(t =>
      s"SELECT q_id, qv, $t AS t, ${sigSql(ps, sigBits, t, "qv")} AS sig FROM q").mkString("\nUNION ALL ")
    val flips = (0 until sigBits).map(j => 1 << j).mkString("[", ",", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |csig AS ($csig),
       |qsig AS ($qsig),
       |probes AS (
       |  SELECT q_id, qv, t, sig FROM qsig
       |  UNION ALL
       |  SELECT q_id, qv, t, xor(sig, f.f) AS sig FROM qsig, (SELECT unnest($flips) AS f) f),
       |scored AS (
       |  SELECT p.q_id, s.vec_id, max(${cosineSql("p.qv", "s.v")}) AS cos
       |  FROM probes p JOIN csig s ON p.t = s.t AND p.sig = s.sig
       |  GROUP BY 1, 2),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin
  }

  /** Centroid literal rows shared by the IVF and kNN-graph oracles. */
  private def cellRowsSql(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (cv, k) =>
      s"SELECT $k AS cell, ${cv.map(_.toString).mkString("[", ",", "]")}::DOUBLE[] AS cv, " +
        s"${math.sqrt(n2Seq(cv))} AS sn"
    }.mkString("\nUNION ALL ")

  /** knn_graph restated in DuckDB: the same literal centroids, cell argmax
    * and probe ranking as the IVF oracle, with the corpus on both sides
    * and self excluded — then the [[GraphDescentRounds]] NN-descent
    * round(s) unrolled as CTEs: symmetrize the current edge set, expand
    * neighbor-of-neighbor pairs, EXCEPT the already-scored ones (the
    * Spark anti-join over distinct pairs), rescore with the identical
    * IEEE cosine, union and re-take top-GraphK under the same
    * (cos desc, dst) order.
    */
  private def graphOracleSql(cents: Array[Array[Double]]): String = {
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cells AS (${cellRowsSql(cents)}),
         |ca AS (SELECT vec_id, v, cell FROM (
         |  SELECT e.vec_id, e.v, cells.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dotSql("e.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
         |  FROM e, cells) t WHERE r = 1),
         |qa AS (SELECT q_id, qv, cell FROM (
         |  SELECT e.vec_id AS q_id, e.v AS qv, cells.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dotSql("e.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
         |  FROM e, cells) t WHERE r <= $GraphProbe),
         |sc AS (SELECT qa.q_id AS src, ca.vec_id AS dst,
         |    ${cosineSql("qa.qv", "ca.v")} AS cos
         |  FROM qa JOIN ca USING (cell) WHERE qa.q_id <> ca.vec_id),
         |e0 AS (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM sc) t WHERE rank <= $GraphK)""".stripMargin
    val rounds = (1 to GraphDescentRounds).map { r =>
      val prev = s"e${r - 1}"
      s"""sym$r AS (SELECT src, dst FROM $prev
         |  UNION SELECT dst, src FROM $prev),
         |adjr$r AS (SELECT m, n FROM (
         |  SELECT src AS m, dst AS n,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
         |  FROM sym$r) t WHERE rn <= $GraphRevCap),
         |cand$r AS (
         |  SELECT DISTINCT s1.n AS src, s2.n AS dst
         |  FROM adjr$r s1 JOIN adjr$r s2 ON s1.m = s2.m WHERE s1.n <> s2.n
         |  EXCEPT SELECT src, dst FROM $prev),
         |fresh$r AS (SELECT c.src, c.dst, ${cosineSql("a.v", "b.v")} AS cos
         |  FROM cand$r c JOIN e a ON c.src = a.vec_id JOIN e b ON c.dst = b.vec_id),
         |e$r AS (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM (SELECT * FROM $prev UNION ALL SELECT * FROM fresh$r) u) t
         |  WHERE rank <= $GraphK)""".stripMargin
    }
    val last = s"e$GraphDescentRounds"
    s"""$base,
       |${rounds.mkString(",\n")}
       |SELECT src AS vec_id, dst AS nbr_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM (SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
       |  FROM $last) t WHERE rank <= $GraphK""".stripMargin
  }

  /** knn_graph's sf1+ attestation oracle: the identical CTE chain as
    * [[graphOracleSql]] with two value-preserving cost fixes — per-vector
    * norms precomputed ONCE (`en`) instead of re-folded per candidate
    * pair, and DuckDB's native `list_dot_product` instead of the
    * interpreted `list_reduce` fold (measured bit-identical on this data:
    * same multiply order, same left-to-right accumulation). The brute
    * form re-computes 3 interpreted folds per candidate (~33M folds at
    * sf1) and times out its budget; this one is the same algebra at
    * native speed.
    */
  private def graphScaleOracleSql(cents: Array[Array[Double]]): String = {
    def cosN(qa: String, qb: String, n2a: String, n2b: String) =
      s"(list_dot_product($qa, $qb) / sqrt($n2a * $n2b))"
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |en AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |cells AS (${cellRowsSql(cents)}),
         |ca AS (SELECT vec_id, v, n2, cell FROM (
         |  SELECT en.vec_id, en.v, en.n2, cells.cell,
         |    row_number() OVER (PARTITION BY en.vec_id
         |      ORDER BY list_dot_product(en.v, cells.cv) / cells.sn DESC, cells.cell) AS r
         |  FROM en, cells) t WHERE r = 1),
         |qa AS (SELECT q_id, qv, n2 AS qn2, cell FROM (
         |  SELECT en.vec_id AS q_id, en.v AS qv, en.n2, cells.cell,
         |    row_number() OVER (PARTITION BY en.vec_id
         |      ORDER BY list_dot_product(en.v, cells.cv) / cells.sn DESC, cells.cell) AS r
         |  FROM en, cells) t WHERE r <= $GraphProbe),
         |sc AS (SELECT qa.q_id AS src, ca.vec_id AS dst,
         |    ${cosN("qa.qv", "ca.v", "qa.qn2", "ca.n2")} AS cos
         |  FROM qa JOIN ca USING (cell) WHERE qa.q_id <> ca.vec_id),
         |e0 AS (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM sc) t WHERE rank <= $GraphK)""".stripMargin
    val rounds = (1 to GraphDescentRounds).map { r =>
      val prev = s"e${r - 1}"
      s"""sym$r AS (SELECT src, dst FROM $prev
         |  UNION SELECT dst, src FROM $prev),
         |adjr$r AS (SELECT m, n FROM (
         |  SELECT src AS m, dst AS n,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
         |  FROM sym$r) t WHERE rn <= $GraphRevCap),
         |cand$r AS (
         |  SELECT DISTINCT s1.n AS src, s2.n AS dst
         |  FROM adjr$r s1 JOIN adjr$r s2 ON s1.m = s2.m WHERE s1.n <> s2.n
         |  EXCEPT SELECT src, dst FROM $prev),
         |fresh$r AS (SELECT c.src, c.dst,
         |    ${cosN("a.v", "b.v", "a.n2", "b.n2")} AS cos
         |  FROM cand$r c JOIN en a ON c.src = a.vec_id JOIN en b ON c.dst = b.vec_id),
         |e$r AS (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM (SELECT * FROM $prev UNION ALL SELECT * FROM fresh$r) u) t
         |  WHERE rank <= $GraphK)""".stripMargin
    }
    val last = s"e$GraphDescentRounds"
    val sql =
      s"""$base,
         |${rounds.mkString(",\n")}
         |SELECT src AS vec_id, dst AS nbr_id, rank, floor(cos*1e6)/1e6 AS cos
         |FROM (SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM $last) t WHERE rank <= $GraphK""".stripMargin
    // Force every CTE materialized: the descent rounds reference their
    // predecessors multiple times (sym twice, EXCEPT prev, union prev) and
    // DuckDB's default inlining re-derives the whole upstream chain per
    // reference — measured 300s+ → 21s at sf1 with the hints. ` AS (`
    // appears in this SQL only at CTE definitions (subqueries are aliased
    // `) t` / `) u`), so the rewrite is exact.
    sql.replace(" AS (", " AS MATERIALIZED (")
  }

  /** sf1+ attestation oracles (same generated-after-training contract as
    * [[oracles]]: emitted only when exactly one dir has trained, so the
    * literal centroids always restate the plan that actually ran).
    */
  def scaleOracles: Map[String, String] = {
    val hamming = Map(
      "knn_hamming_rerank" -> hammingRerankOracleSql(fast = true),
      "knn_hamming_recall" -> hammingRecallOracleSql(fast = true),
      "embed_label_knn_eval" -> labelKnnOracleSql(fast = true),
      "knn_sq8_rerank" -> sq8RerankOracleSql(fast = true),
      "knn_sq8_recall" -> sq8RecallOracleSql(fast = true))
    val withOpq =
      if (opqCache.size == 1) {
        val sql = opqOracleSql(opqCache.values.iterator.next(), fast = true)
        hamming + ("knn_opq" -> sql) +
          ("knn_opq_recall" -> recallOfOracleSql(sql))
      } else hamming
    if (centroidCache.size == 1) {
      val cents = centroidCache.values.iterator.next()
      withOpq ++ Map("knn_graph" -> graphScaleOracleSql(cents),
        "knn_graph_search" -> graphSearchOracleSql(cents),
        "knn_graph_search_recall" ->
          recallOfOracleSql(graphSearchOracleSql(cents)),
        "knn_graph_search_lift" -> graphSearchLiftOracleSql(cents),
        "knn_graph_param_sweep" -> graphParamSweepOracleSql(cents),
        "knn_ivf_probe_sweep" -> probeSweepOracleSql(cents, fast = true),
        "dedup_embedding_ann" -> annDedupOracleSql(cents, fast = true),
        "dedup_embedding_ann_recall" -> annDedupRecallOracleSql(cents,
          Dedup.embeddingScaleOracleSql, fast = true),
        "dedup_ann_probe_sweep" -> annProbeSweepOracleSql(cents,
          Dedup.embeddingScaleOracleSql, fast = true))
    } else withOpq
  }

  /** dedup_semdedup restated in DuckDB: the same literal centroids and
    * argmax cell assignment as the IVF oracle, the same IEEE centroid
    * cosine, the identical (ccos asc, vec_id) precedence inside the drop
    * EXISTS — both engines keep the same set because every compared double
    * is bit-identical.
    */
  private def semdedupOracleSql(cents: Array[Array[Double]]): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cells AS (${cellRowsSql(cents)}),
       |ca AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, cells.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotSql("e.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM e, cells) t WHERE r = 1),
       |cc AS (SELECT ca.vec_id, ca.v, ca.cell, ${cosineSql("ca.v", "cells.cv")} AS ccos
       |  FROM ca JOIN cells ON ca.cell = cells.cell),
       |drp AS (SELECT DISTINCT b.vec_id FROM cc a JOIN cc b ON a.cell = b.cell
       |  AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
       |  AND ${cosineSql("a.v", "b.v")} >= $SemTau)
       |SELECT cc.vec_id, cc.cell, floor(ccos*1e6)/1e6 AS ccos,
       |  CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS keep
       |FROM cc LEFT JOIN drp USING (vec_id)""".stripMargin

  /** dedup_embedding_ann restated in DuckDB: the same literal centroids,
    * the same top-[[AnnDedupProbes]] probe ranking as the IVF oracle's
    * row_number, the cell-confined pair join, and the identical IEEE
    * cosine + τ filter + floor + DISTINCT. `fast = true` swaps the
    * sequential-fold dotSql for DuckDB's native list_dot_product (measured
    * bit-identical on this data, ~50× faster — the
    * embeddingScaleOracleSql precedent) for the sf1+ attestation.
    */
  private def annDedupOracleSql(cents: Array[Array[Double]],
      fast: Boolean = false, probes: Int = AnnDedupProbes): String = {
    def dt(a: String, b: String) =
      if (fast) s"list_dot_product($a, $b)" else dotSql(a, b)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cells AS (${cellRowsSql(cents)}),
       |rk AS (SELECT e.vec_id, e.v, cells.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dt("e.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM e, cells),
       |ca AS (SELECT vec_id, v, ${dt("v", "v")} AS n2, cell FROM rk WHERE r = 1),
       |pa AS (SELECT vec_id, v, ${dt("v", "v")} AS n2, cell FROM rk
       |  WHERE r <= $probes),
       |sc AS (SELECT least(p.vec_id, c.vec_id) AS vec_a,
       |    greatest(p.vec_id, c.vec_id) AS vec_b,
       |    ${dt("p.v", "c.v")} / sqrt(p.n2 * c.n2) AS cos
       |  FROM pa p JOIN ca c ON p.cell = c.cell AND p.vec_id <> c.vec_id)
       |SELECT DISTINCT vec_a, vec_b, floor(cos*1e6)/1e6 AS cos
       |FROM sc WHERE cos >= $SemTau""".stripMargin
  }

  /** The audits' [[TruthSampleIds]] pane as SQL: above the cap both pair
    * sets post-filter to endpoints inside the vec_id prefix slice —
    * semantically exact for the truth side (a pair's membership depends
    * only on its two vectors, so truth-on-the-slice ≡ post-filtered full
    * truth), and a no-op below the cap (both driver gate SFs).
    */
  private val paneLimSql: String =
    s"""lim AS (SELECT CASE WHEN count(*) > $TruthSampleIds
       |  THEN $TruthSampleIds ELSE 9223372036854775807 END AS m
       |  FROM embeddings)""".stripMargin

  private val paneWhereSql: String =
    "WHERE vec_a < (SELECT m FROM lim) AND vec_b < (SELECT m FROM lim)"

  /** The recall audit restated by composing the exact-kernel oracle and the
    * ANN oracle as nested-WITH subqueries (the recallEvalOracleSql shape),
    * both restricted to the [[TruthSampleIds]] pane.
    */
  private def annDedupRecallOracleSql(cents: Array[Array[Double]],
      truthSql: String, fast: Boolean = false): String =
    s"""WITH $paneLimSql,
       |truth AS (SELECT vec_a, vec_b FROM (
       |$truthSql
       |) $paneWhereSql),
       |ann AS (SELECT vec_a, vec_b FROM (
       |${annDedupOracleSql(cents, fast)}
       |) $paneWhereSql),
       |nt AS (SELECT count(*) AS n_true FROM truth),
       |na AS (SELECT count(*) AS n_ann FROM ann),
       |nh AS (SELECT count(*) AS n_hit FROM ann JOIN truth USING (vec_a, vec_b))
       |SELECT n_true, n_ann, n_hit,
       |  CASE WHEN n_true > 0 THEN n_hit * 1000000 // n_true
       |    ELSE CAST(0 AS BIGINT) END AS recall_ppm
       |FROM nt, na, nh""".stripMargin

  /** The probe sweep restated per width: the exact-kernel truth once
    * (MATERIALIZED — every width's hit join reads it), one ANN pair CTE per
    * [[AnnProbeSweep]] width from the same literal centroids, unioned
    * count/intersection rows. The per-width ann CTEs are also materialized:
    * each is referenced twice (count + hit join) and DuckDB's default
    * inlining would re-derive the whole cell-assignment chain per
    * reference (the graphScaleOracleSql precedent).
    */
  private def annProbeSweepOracleSql(cents: Array[Array[Double]],
      truthSql: String, fast: Boolean = false): String = {
    val pers = AnnProbeSweep.map { np =>
      s"""ann$np AS MATERIALIZED (SELECT vec_a, vec_b FROM (
         |${annDedupOracleSql(cents, fast, np)}
         |) $paneWhereSql),
         |na$np AS (SELECT count(*) AS n_ann FROM ann$np),
         |nh$np AS (SELECT count(*) AS n_hit FROM ann$np
         |  JOIN truth USING (vec_a, vec_b))""".stripMargin
    }.mkString(",\n")
    val branches = AnnProbeSweep.map { np =>
      s"""SELECT $np AS nprobe, n_true, n_ann, n_hit,
         |  CASE WHEN n_true > 0 THEN n_hit * 1000000 // n_true
         |    ELSE CAST(0 AS BIGINT) END AS recall_ppm
         |FROM nt, na$np, nh$np""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $paneLimSql,
       |truth AS MATERIALIZED (SELECT vec_a, vec_b FROM (
       |$truthSql
       |) $paneWhereSql),
       |nt AS (SELECT count(*) AS n_true FROM truth),
       |$pers
       |$branches""".stripMargin
  }

  /** knn_ivf restated in DuckDB against the trained centroids as literals:
    * per-vector argmax cell (same dot/sqrt-n2 ranking and (ccos desc, cell)
    * tiebreak as the Spark struct max — the centroid norms `sn` embed as
    * the SAME precomputed doubles), per-query NProbe cells, cosine top-k.
    */
  private def ivfOracleSql(cents: Array[Array[Double]]): String = {
    val cellRows = cellRowsSql(cents)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |cells AS ($cellRows),
       |ca AS (SELECT vec_id, v, cell FROM (
       |  SELECT c.vec_id, c.v, cells.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${dotSql("c.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM c, cells) t WHERE r = 1),
       |qa AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, cells.cell,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${dotSql("q.qv", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM q, cells) t WHERE r <= $NProbe),
       |sc AS (SELECT qa.q_id, ca.vec_id, ${cosineSql("qa.qv", "ca.v")} AS cos
       |  FROM qa JOIN ca USING (cell)),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin
  }

  /** knn_pq restated in DuckDB against the trained codebook as literals:
    * per-(m,k) codebook rows carry the SAME centroid doubles and the SAME
    * precomputed -||c||²/2 bias the Spark plan broadcast; encoding is the
    * identical (score desc, k) row_number; the per-query ADC table is the
    * same PqSub×PqK slice-dots; the approx score folds the 8 subspace terms in
    * the same left-associated order; candidates and the exact rerank use
    * the same (approx desc, vec_id) / (cos desc, vec_id) total orders.
    */
  private def pqOracleSql(cb: Array[Array[Array[Double]]]): String = {
    val sub = cb(0)(0).length
    def cvSql(m: Int, k: Int): String =
      cb(m)(k).map(_.toString).mkString("([", ",", "]::DOUBLE[])")
    val cbRows = (for (m <- 0 until PqSub; k <- 0 until PqK) yield
      s"SELECT $m AS m, $k AS k, ${cvSql(m, k)} AS cv, ${-n2Seq(cb(m)(k)) / 2} AS bias"
    ).mkString("\nUNION ALL ")
    val lutExprs = (for (m <- 0 until PqSub; k <- 0 until PqK) yield
      dotSql(s"(nqv[${m * sub + 1}:${(m + 1) * sub}])", cvSql(m, k))
    ).mkString("[", ",\n    ", "]")
    val codePivot = (0 until PqSub)
      .map(m => s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val approx = (0 until PqSub).map(m => s"ql.lut[${m * PqK + 1} + cp.c$m]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q0 AS (SELECT vec_id AS q_id, v AS qv, sqrt(${norm2Sql("v")}) AS nrm
       |  FROM e WHERE vec_id < $NumQueries),
       |q AS (SELECT q_id, qv, list_transform(qv, x -> x / nrm) AS nqv FROM q0),
       |c0 AS (SELECT vec_id, v, sqrt(${norm2Sql("v")}) AS nrm
       |  FROM e WHERE vec_id >= $NumQueries),
       |c AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS nv FROM c0),
       |cb AS ($cbRows),
       |codes AS (SELECT vec_id, m, k AS code FROM (
       |  SELECT c.vec_id, cb.m, cb.k,
       |    row_number() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY ${dotSql(s"(c.nv[cb.m*$sub+1:(cb.m+1)*$sub])", "cb.cv")} + cb.bias DESC, cb.k) AS r
       |  FROM c, cb) t WHERE r = 1),
       |cp AS (SELECT vec_id, $codePivot FROM codes GROUP BY vec_id),
       |ql AS (SELECT q_id, $lutExprs AS lut FROM q),
       |scored AS (SELECT ql.q_id, cp.vec_id, ($approx) AS approx FROM ql, cp),
       |cand AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, vec_id) AS r
       |  FROM scored) t WHERE r <= $PqR),
       |sc AS (SELECT cand.q_id, c.vec_id, ${cosineSql("q.qv", "c.v")} AS cos
       |  FROM cand JOIN c ON cand.vec_id = c.vec_id JOIN q ON cand.q_id = q.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin
  }

  /** knn_opq restated in DuckDB: the learned rotation ROWS and the
    * rotated-space codebooks embed as literal doubles; rotated coordinates
    * are per-row sequential-fold dots (the same left-to-right order
    * [[graft.functions.MatVec]] generates), then encode/LUT/ADC/rerank
    * restate [[pqOracleSql]]'s total orders over the rotated vectors —
    * the exact rerank stays on the RAW cosine.
    */
  /** `fast = true` swaps every per-vector interpreted fold (the rotation's
    * 64 dots, norms, code argmax, lut, rerank cosine) for DuckDB's native
    * `list_dot_product` — measured bit-identical on this data (the
    * [[graphScaleOracleSql]] / [[hammingCosSql]] precedent) — and forces
    * CTEs MATERIALIZED (the rotated corpus `c` has two consumers). The
    * brute form's 20k×64 interpreted rotation folds blew the sf1 oracle
    * budget (r14: the two OPQ rows were the only sf1 TIMEOUTs).
    */
  private def opqOracleSql(m: OpqModel, fast: Boolean = false): String = {
    val cb = m.cb
    val sub = cb(0)(0).length
    def dot(a: String, b: String): String =
      if (fast) s"list_dot_product($a, $b)" else dotSql(a, b)
    def rowSql(r: Array[Double]): String =
      r.map(_.toString).mkString("([", ",", "]::DOUBLE[])")
    def rotList(src: String): String =
      m.rot.map(r => dot(src, rowSql(r))).mkString("[", ",\n    ", "]")
    def cvSql(mm: Int, k: Int): String =
      cb(mm)(k).map(_.toString).mkString("([", ",", "]::DOUBLE[])")
    val cbRows = (for (mm <- 0 until PqSub; k <- 0 until PqK) yield
      s"SELECT $mm AS m, $k AS k, ${cvSql(mm, k)} AS cv, ${-n2Seq(cb(mm)(k)) / 2} AS bias"
    ).mkString("\nUNION ALL ")
    val lutExprs = (for (mm <- 0 until PqSub; k <- 0 until PqK) yield
      dot(s"(rqv[${mm * sub + 1}:${(mm + 1) * sub}])", cvSql(mm, k))
    ).mkString("[", ",\n    ", "]")
    val codePivot = (0 until PqSub)
      .map(mm => s"max(CASE WHEN m = $mm THEN code END) AS c$mm").mkString(", ")
    val approx = (0 until PqSub).map(mm => s"ql.lut[${mm * PqK + 1} + cp.c$mm]").mkString(" + ")
    val normOf = (src: String) =>
      if (fast) s"sqrt(list_dot_product($src, $src))"
      else s"sqrt(${norm2Sql(src)})"
    val sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q0 AS (SELECT vec_id AS q_id, v AS qv, ${normOf("v")} AS nrm
       |  FROM e WHERE vec_id < $NumQueries),
       |q1 AS (SELECT q_id, qv, list_transform(qv, x -> x / nrm) AS nqv FROM q0),
       |q AS (SELECT q_id, qv, ${rotList("nqv")} AS rqv FROM q1),
       |c0 AS (SELECT vec_id, v, ${normOf("v")} AS nrm
       |  FROM e WHERE vec_id >= $NumQueries),
       |c1 AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS nv FROM c0),
       |c AS (SELECT vec_id, v, ${rotList("nv")} AS rv FROM c1),
       |cb AS ($cbRows),
       |codes AS (SELECT vec_id, m, k AS code FROM (
       |  SELECT c.vec_id, cb.m, cb.k,
       |    row_number() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY ${dot(s"(c.rv[cb.m*$sub+1:(cb.m+1)*$sub])", "cb.cv")} + cb.bias DESC, cb.k) AS r
       |  FROM c, cb) t WHERE r = 1),
       |cp AS (SELECT vec_id, $codePivot FROM codes GROUP BY vec_id),
       |ql AS (SELECT q_id, $lutExprs AS lut FROM q),
       |scored AS (SELECT ql.q_id, cp.vec_id, ($approx) AS approx FROM ql, cp),
       |cand AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, vec_id) AS r
       |  FROM scored) t WHERE r <= $PqR),
       |sc AS (SELECT cand.q_id, c.vec_id, ${hammingCosSql("q.qv", "c.v", fast)} AS cos
       |  FROM cand JOIN c ON cand.vec_id = c.vec_id JOIN q ON cand.q_id = q.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin
    if (fast) sql.replace(" AS (", " AS MATERIALIZED (") else sql
  }

  /** knn_ivfpq restated in DuckDB: the trained centroids (rows AND a flat
    * copy for residual/cterm slicing), residual codebooks, and biases all
    * embed as the exact literal doubles the Spark plan broadcast; cell
    * assignment, residual encoding, probe ranking, the ADC fold
    * (cterm + d0 + … + d7, left-associated), candidate cut, and exact
    * rerank restate the same total orders.
    */
  private def ivfPqOracleSql(idx: IvfPqIndex): String = {
    val cents = idx.cents; val cb = idx.cb
    val dim = cents(0).length
    val sub = cb(0)(0).length
    val cellRows = cents.zipWithIndex.map { case (cv, k) =>
      s"SELECT $k AS cell, ${cv.map(_.toString).mkString("[", ",", "]")}::DOUBLE[] AS cv, " +
        s"${math.sqrt(n2Seq(cv))} AS sn"
    }.mkString("\nUNION ALL ")
    val fcLit = cents.flatten.map(_.toString).mkString("[", ",", "]")
    def cvSql(m: Int, k: Int): String =
      cb(m)(k).map(_.toString).mkString("([", ",", "]::DOUBLE[])")
    val cbRows = (for (m <- 0 until PqSub; k <- 0 until PqK) yield
      s"SELECT $m AS m, $k AS k, ${cvSql(m, k)} AS cv, ${-n2Seq(cb(m)(k)) / 2} AS bias"
    ).mkString("\nUNION ALL ")
    val lutExprs = (for (m <- 0 until PqSub; k <- 0 until PqK) yield
      dotSql(s"(nqv[${m * sub + 1}:${(m + 1) * sub}])", cvSql(m, k))
    ).mkString("[", ",\n    ", "]")
    val codePivot = (0 until PqSub)
      .map(m => s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val approx = (Seq("ql.cterm") ++
      (0 until PqSub).map(m => s"ql.lut[${m * PqK + 1} + cp.c$m]")).mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q0 AS (SELECT vec_id AS q_id, v AS qv, sqrt(${norm2Sql("v")}) AS nrm
       |  FROM e WHERE vec_id < $NumQueries),
       |q AS (SELECT q_id, qv, list_transform(qv, x -> x / nrm) AS nqv FROM q0),
       |c0 AS (SELECT vec_id, v, sqrt(${norm2Sql("v")}) AS nrm
       |  FROM e WHERE vec_id >= $NumQueries),
       |c AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS nv FROM c0),
       |cells AS ($cellRows),
       |fcs AS (SELECT $fcLit::DOUBLE[] AS fc),
       |ca AS (SELECT vec_id, nv, cell FROM (
       |  SELECT c.vec_id, c.nv, cells.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${dotSql("c.v", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM c, cells) t WHERE r = 1),
       |rv AS (SELECT vec_id, cell,
       |    list_transform(range(1, ${dim + 1}), i -> nv[i] - fc[cell*$dim + i]) AS rv
       |  FROM ca, fcs),
       |cb AS ($cbRows),
       |codes AS (SELECT vec_id, cell, m, k AS code FROM (
       |  SELECT rv.vec_id, rv.cell, cb.m, cb.k,
       |    row_number() OVER (PARTITION BY rv.vec_id, cb.m
       |      ORDER BY ${dotSql(s"(rv.rv[cb.m*$sub+1:(cb.m+1)*$sub])", "cb.cv")} + cb.bias DESC, cb.k) AS r
       |  FROM rv, cb) t WHERE r = 1),
       |cp AS (SELECT vec_id, cell, $codePivot FROM codes GROUP BY vec_id, cell),
       |qa AS (SELECT q_id, qv, nqv, cell FROM (
       |  SELECT q.q_id, q.qv, q.nqv, cells.cell,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${dotSql("q.qv", "cells.cv")} / cells.sn DESC, cells.cell) AS r
       |  FROM q, cells) t WHERE r <= $IvfPqProbe),
       |ql AS (SELECT q_id, cell,
       |    ${dotSql("nqv", s"(fc[cell*$dim+1:cell*$dim+$dim])")} AS cterm,
       |    $lutExprs AS lut
       |  FROM qa, fcs),
       |scored AS (SELECT ql.q_id, cp.vec_id, ($approx) AS approx
       |  FROM ql JOIN cp USING (cell)),
       |cand AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, vec_id) AS r
       |  FROM scored) t WHERE r <= $PqR),
       |sc AS (SELECT cand.q_id, c.vec_id, ${cosineSql("q.qv", "c.v")} AS cos
       |  FROM cand JOIN c ON cand.vec_id = c.vec_id JOIN q ON cand.q_id = q.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin
  }

  /** knn_ivf's oracle exists once its quantizer has trained in this JVM
    * (Verify runs every query before dumping oracle_sql.json, so the full
    * gate always gets all three). The entry is emitted only when EXACTLY
    * one sf dir has trained — a filtered run that skipped knn_ivf, or a JVM
    * that touched several dirs, omits it (driver falls back to the weaker
    * rows-only check) rather than ever embedding another dataset's
    * centroids in the SQL.
    */
  private def bruteOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |sc AS (SELECT q_id, vec_id, ${cosineSql("qv", "v")} AS cos FROM q, c),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin

  /** knn_mmr's oracle: the brute pool + pool-pairwise cosines, then the
    * identical [[MmrK]] greedy rounds unrolled as CTEs — same score
    * arithmetic (one subtract of shared-fold doubles, empty-set max = 0),
    * same (score desc, vec_id) total order, anti-join removal per round.
    */
  private def mmrOracleSql: String = {
    val rounds = (2 to MmrK).map { r =>
      val prev = s"sel${r - 1}"
      s"""p$r AS (SELECT q_id, vec_id, rel, score, $r AS rank FROM (
         |  SELECT t.q_id, t.vec_id, t.rel, t.rel - coalesce(m.mx, 0.0) AS score,
         |    row_number() OVER (PARTITION BY t.q_id
         |      ORDER BY t.rel - coalesce(m.mx, 0.0) DESC, t.vec_id) AS rn
         |  FROM (SELECT p.* FROM pool p ANTI JOIN $prev s
         |      ON p.q_id = s.q_id AND p.vec_id = s.vec_id) t
         |  LEFT JOIN (SELECT pr.q_id, pr.a AS vec_id, max(pr.sim) AS mx
         |    FROM pairs pr JOIN $prev s ON pr.q_id = s.q_id AND pr.b = s.vec_id
         |    GROUP BY 1, 2) m ON m.q_id = t.q_id AND m.vec_id = t.vec_id)
         |  WHERE rn = 1),
         |sel$r AS (SELECT * FROM $prev UNION ALL
         |  SELECT q_id, vec_id, rel, score FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |sc AS (SELECT q_id, vec_id, ${cosineSql("qv", "v")} AS rel FROM q, c),
       |pool AS MATERIALIZED (SELECT q_id, vec_id, rel FROM (
       |  SELECT q_id, vec_id, rel,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
       |  FROM sc) WHERE rn <= $MmrPool),
       |poolv AS (SELECT p.q_id, p.vec_id, p.rel, c.v
       |  FROM pool p JOIN c USING (vec_id)),
       |pairs AS MATERIALIZED (SELECT x.q_id, x.vec_id AS a, y.vec_id AS b,
       |    ${cosineSql("x.v", "y.v")} AS sim
       |  FROM poolv x JOIN poolv y
       |    ON x.q_id = y.q_id AND x.vec_id <> y.vec_id),
       |p1 AS (SELECT q_id, vec_id, rel, rel AS score, 1 AS rank FROM (
       |  SELECT q_id, vec_id, rel,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
       |  FROM pool) WHERE rn = 1),
       |sel1 AS (SELECT q_id, vec_id, rel, score FROM p1),
       |$rounds,
       |allp AS (SELECT * FROM p1 ${(2 to MmrK).map(r => s"UNION ALL SELECT * FROM p$r").mkString(" ")})
       |SELECT q_id, CAST(rank AS INT) AS rank, vec_id AS nn_id,
       |  floor(rel*1e6)/1e6 AS rel, floor(score*1e6)/1e6 AS mmr
       |FROM allp""".stripMargin
  }

  /** knn_range's oracle: the brute scoring with the τ filter in place of
    * the rank cut.
    */
  private def rangeOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |sc AS (SELECT q_id, vec_id, ${cosineSql("qv", "v")} AS cos FROM q, c)
       |SELECT q_id, vec_id AS nn_id, floor(cos*1e6)/1e6 AS cos
       |FROM sc WHERE cos >= $RangeTau""".stripMargin

  /** knn_filtered's oracle: brute within label groups — the same cosine and
    * ranking as [[bruteOracleSql]] with the tenant predicate as the join.
    */
  private def filteredOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, label FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |sc AS (SELECT q_id, vec_id, ${cosineSql("qv", "v")} AS cos
       |  FROM q JOIN c ON q.label = c.label),
       |r AS (SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS nn_id, rank, floor(cos*1e6)/1e6 AS cos
       |FROM r WHERE rank <= $K""".stripMargin

  /** Recall eval restated by composing the brute and IVF oracles as
    * nested-WITH subqueries — structurally the same two searches the Spark
    * plan composes, joined on (q_id, nn_id).
    */
  private def recallEvalOracleSql(cents: Array[Array[Double]]): String =
    s"""WITH brute AS (SELECT * FROM (
       |$bruteOracleSql
       |)),
       |ivf AS (SELECT * FROM (
       |${ivfOracleSql(cents)}
       |)),
       |h AS (SELECT b.q_id, count(*) AS n_hits
       |  FROM brute b JOIN ivf i ON b.q_id = i.q_id AND b.nn_id = i.nn_id
       |  GROUP BY 1),
       |qs AS (SELECT DISTINCT q_id FROM brute)
       |SELECT q_id, coalesce(n_hits, 0) AS n_hits,
       |  floor(CAST(coalesce(n_hits, 0) AS DOUBLE) / $K * 1e4)/1e4 AS recall
       |FROM qs LEFT JOIN h USING (q_id)""".stripMargin

  /** knn_rrf's oracle: both index oracles as CTEs, the same two-term
    * fusion, the same (score desc, nn_id) ranking.
    */
  private def rrfOracleSql(cents: Array[Array[Double]]): String =
    s"""WITH lsh AS (SELECT * FROM (
       |${lshOracleSqlFor(NumTables, SigBits)}
       |)),
       |ivf AS (SELECT * FROM (
       |${ivfOracleSql(cents)}
       |)),
       |f AS (SELECT coalesce(l.q_id, i.q_id) AS q_id,
       |    coalesce(l.nn_id, i.nn_id) AS nn_id,
       |    coalesce(CAST(1.0 AS DOUBLE) / ($RrfC + l.rank), CAST(0.0 AS DOUBLE))
       |      + coalesce(CAST(1.0 AS DOUBLE) / ($RrfC + i.rank), CAST(0.0 AS DOUBLE)) AS score
       |  FROM lsh l FULL OUTER JOIN ivf i
       |    ON l.q_id = i.q_id AND l.nn_id = i.nn_id),
       |r AS (SELECT q_id, nn_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nn_id) AS rank
       |  FROM f)
       |SELECT q_id, nn_id, rank, floor(score*1e6)/1e6 AS score
       |FROM r WHERE rank <= $K""".stripMargin

  def oracles: Map[String, String] = {
    val base = Map(
      "knn_brute_cosine" -> bruteOracleSql,
      "knn_hamming" -> hammingOracleSql,
      "knn_hamming_rerank" -> hammingRerankOracleSql(),
      "knn_hamming_recall" -> hammingRecallOracleSql(),
      "embed_dim_variance" -> dimVarianceOracleSql,
      "embed_label_knn_eval" -> labelKnnOracleSql(),
      "embed_silhouette" -> silhouetteOracleSql,
      "embed_alignment" -> alignmentOracleSql,
      "knn_sq8_rerank" -> sq8RerankOracleSql(),
      "knn_sq8_recall" -> sq8RecallOracleSql(),
      "knn_mmr" -> mmrOracleSql,
      "embed_triplet_eval" -> tripletOracleSql,
      "knn_matryoshka" -> matryoshkaOracleSql,
      "knn_range" -> rangeOracleSql,
      "knn_filtered" -> filteredOracleSql,
      "knn_lsh" -> lshOracleSqlFor(NumTables, SigBits),
      "embed_kcenter" -> kcenterOracleSql,
      "embed_sq8" -> sq8OracleSql,
      "embed_centroid_drift" -> driftOracleSql,
    )
    // generated-oracle pattern (see Scaladoc above): emit only when exactly
    // one sf dir trained/tuned in this JVM, so the SQL always restates the
    // exact index the Spark plan used
    val withPca =
      if (pcaCache.size == 1)
        Map("embed_pca" -> pcaOracleSql(pcaCache.values.iterator.next()))
      else Map.empty[String, String]
    val withIvf =
      if (centroidCache.size == 1) {
        val cents = centroidCache.values.iterator.next()
        base + ("knn_ivf" -> ivfOracleSql(cents)) +
          ("knn_ivf_probe_sweep" -> probeSweepOracleSql(cents)) +
          ("embed_outliers" -> outliersOracleSql(cents)) +
          ("embed_cluster_purity" -> purityOracleSql(cents)) +
          ("embed_ivf_balance" -> ivfBalanceOracleSql(cents)) +
          ("knn_rrf" -> rrfOracleSql(cents)) +
          ("knn_graph" -> graphOracleSql(cents)) +
          ("knn_graph_search" -> graphSearchOracleSql(cents)) +
          ("knn_graph_search_recall" ->
            recallOfOracleSql(graphSearchOracleSql(cents))) +
          ("knn_graph_search_lift" -> graphSearchLiftOracleSql(cents)) +
          ("knn_graph_param_sweep" -> graphParamSweepOracleSql(cents)) +
          ("knn_recall_eval" -> recallEvalOracleSql(cents)) +
          ("dedup_semdedup" -> semdedupOracleSql(cents)) +
          ("dedup_embedding_ann" -> annDedupOracleSql(cents)) +
          ("dedup_embedding_ann_recall" ->
            annDedupRecallOracleSql(cents, Dedup.embeddingOracleSql)) +
          ("dedup_ann_probe_sweep" ->
            annProbeSweepOracleSql(cents, Dedup.embeddingOracleSql))
      } else base
    val withTune = if (tuneCache.size == 1) {
      val cfg = tuneCache.values.iterator.next()
      withIvf + ("knn_lsh_auto" -> lshOracleSqlFor(cfg.numTables, cfg.sigBits))
    } else withIvf
    val withPq = if (pqCache.size == 1) {
      val model = pqCache.values.iterator.next()
      val pqSql = pqOracleSql(model)
      withTune + ("knn_pq" -> pqSql) +
        ("knn_pq_recall" -> recallOfOracleSql(pqSql)) +
        ("embed_pq_distortion" -> pqDistortionOracleSql(model))
    } else withTune
    val withOpq = if (opqCache.size == 1) {
      val opqSql = opqOracleSql(opqCache.values.iterator.next())
      withPq + ("knn_opq" -> opqSql) +
        ("knn_opq_recall" -> recallOfOracleSql(opqSql))
    } else withPq
    val all = if (ivfPqCache.size == 1) {
      val ivfPqSql = ivfPqOracleSql(ivfPqCache.values.iterator.next())
      withOpq + ("knn_ivfpq" -> ivfPqSql) +
        ("knn_ivfpq_recall" -> recallOfOracleSql(ivfPqSql))
    } else withOpq
    all ++ withPca
  }
}
