package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions.NativeVector
import graft.functions.VectorFunctions.toDouble
import graft.operators.{Scale, Similarity}

/** Maintained incremental kNN GRAPH — `knn_graph`'s streaming twin and the
  * last LLM-pipeline primitive whose maintained form was missing: vectors
  * arrive as micro-batches and the top-[[Similarity.GraphK]] neighbor
  * lists stay current WITHOUT ever re-running the batch build. Composition
  * of two proven pieces (the reference has no ANN surface at all; this is
  * the scale mandate speaking):
  *
  *   - [[IvfIngest]]'s ingestion shape: per-batch [[Commit]] markers
  *     (idempotent, replay-safe), cell assignment against the SAME trained
  *     coarse quantizer the batch index uses (map-side codegen argmax,
  *     zero re-training), a cell-partitioned vector store.
  *   - `knn_graph`'s candidate discipline, applied INCREMENTALLY: a new
  *     vector multi-probes its [[Similarity.GraphProbe]] nearest cells and
  *     scores only the cell-confined candidates (probe·width work — width
  *     ∝ √n under the `cellsFor` sizing); repair then runs in two phases
  *     confined to the AFFECTED set (this batch + nodes a new edge
  *     touches): (1) every new edge (new → old) is offered in reverse
  *     (old → new, cosine is symmetric) and touched lists re-rank; (2) ONE
  *     NN-descent round — knnGraphRounds' neighbor-of-neighbor expansion
  *     with src restricted to affected nodes — so a new node reaches
  *     cross-cell true neighbors through a touched node's list. Untouched
  *     lists carry over via id-keyed anti-join. Per-batch cost: map-side
  *     semi-filtered scans of the edge store (affected/neighbor id sets
  *     ride broadcast semi-joins — the big side never shuffles) plus
  *     O(|affected|·(2K)²) id-keyed rescoring — never O(n·K) shuffle or
  *     O(n·k²) descent work.
  *
  * Commit protocol: each batch writes a FULL edge version under
  * `edges/v<batchId>` and commits it through [[Commit]] — a reader always
  * sees the newest committed graph version, and a replayed batch is a
  * no-op.
  *
  * What the confined repair gives up vs the batch build's global descent
  * is measured, not assumed: GraphIngestSpec ingests the sf0.001 corpus in
  * micro-batches and compares TRUE recall@K (vs the exact brute graph) of
  * the maintained graph against the batch rebuild's — measured 0.648 vs
  * 0.687 on the synthetic corpus, pinned within a 5-point margin (the
  * corpus is the near-uniform worst case; knnGraphRounds' Scaladoc
  * documents the same ceiling binding the batch build to ~0.69).
  */
object GraphIngest {

  /** Confined descent rounds per micro-batch (the batch build's
    * GraphDescentRounds analogue — but each round here touches only the
    * affected set, so the budget is per-batch repair depth, not a global
    * rebuild knob). Two, like the batch build: the second round lets a
    * repair propagate one hop further before the batch commits.
    */
  val DescentRoundsPerBatch = 2

  /** Ingest every parquet file in `srcDir` as micro-batches, maintaining
    * vectors + committed edge versions under `storeDir`.
    */
  def ingest(s: SparkSession, d: String, srcDir: String, storeDir: String,
      filesPerBatch: Int = 2): Unit = {
    val stream = s.readStream.schema(IvfIngest.embeddingSchema)
      .option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(s, d, storeDir, batch, id)
      }
      .option("checkpointLocation", s"$storeDir/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The CURRENT graph version: (src, dst, cos), top-GraphK per src ordered
    * (cos desc, dst) — same contract as the batch `knn_graph` edge set.
    */
  def graph(s: SparkSession, storeDir: String): DataFrame = {
    val v = Commit.latest(storeDir)
    require(v.isDefined, s"no committed graph version under $storeDir")
    s.read.parquet(s"$storeDir/edges/v${v.get}")
  }

  private def currentEdges(s: SparkSession, storeDir: String): DataFrame =
    if (Commit.latest(storeDir).isDefined)
      graph(s, storeDir).select(col("src"), col("dst"), col("cos"))
    else {
      import s.implicits._
      Seq.empty[(Long, Long, Double)].toDF("src", "dst", "cos")
    }

  /** knn_graph's bucketed top-K under the identical (cos desc, dst) order. */
  private def topK(scored: DataFrame): DataFrame =
    Scale.topKPerGroup(
        scored.select(col("src"), col("dst"), col("cos")),
        Seq("src"), Seq(col("cos").desc, col("dst")),
        k = Similarity.GraphK, saltSrc = col("dst"))
      .select(col("src"), col("dst"), col("cos"))

  private def processBatch(s: SparkSession, d: String, storeDir: String,
      batch: DataFrame, id: Long): Unit = {
    // `prev` below reads the newest COMMITTED version, so a replay after a
    // crash before the marker sees the correct pre-batch state and rewrites
    // identical content
    Commit.once(storeDir, id) {
      // 1. cell-assign the batch against the trained quantizer and append it
      //    to the cell-partitioned vector store (the IvfIngest layout)
      val assigned = Similarity.assignCells(
          batch.select(col("vec_id"), toDouble(col("embedding")).as("v")), s, d)
        .select(col("vec_id"), col("v"), col("cell"))
        .transform(Scale.materialize) // feeds the write, the probe side, and the anti-join
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$storeDir/vectors/batch=$id")

      // 2. candidates for NEW nodes: multi-probe cells × the cell-assigned
      //    corpus INCLUDING this batch (new↔new pairs surface here too)
      val corpus = s.read.parquet(s"$storeDir/vectors")
        .select(col("vec_id").as("dst"), col("v").as("dv"), col("cell"))
      val cc = Similarity.centColsFor(s, d)
      val probes = cc.cleanup(cc.attach(assigned.select(col("vec_id"), col("v")))
          .withColumn("cell", explode(NativeVector.argTopKDot(
            col("v"), cc.flat, cc.sn, lit(Similarity.GraphProbe)))))
        .select(col("vec_id").as("src"), col("v").as("qv"), col("cell"))
      val newEdges = topK(probes.join(corpus, "cell")
          .filter(col("src") =!= col("dst"))
          .withColumn("cos", NativeVector.cosine(col("qv"), col("dv")))
          .select(col("src"), col("dst"), col("cos")))
        .transform(Scale.materialize) // consumed by reverse-offer AND the final union

      // 3. touched-node repair, phase 1: offer each (new → old) edge in
      //    reverse to the old node and re-rank ONLY those nodes' lists
      val prev = currentEdges(s, storeDir)
      val reverseOffers = newEdges
        .select(col("dst").as("src"), col("src").as("dst"), col("cos"))
        .join(assigned.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .transform(Scale.materialize) // touched-id frame + repair input
      val touched = reverseOffers.select(col("src")).distinct()
      val repaired = topK(
        prev.join(touched, Seq("src"), "left_semi")
          .unionByName(reverseOffers)
          // an offered pair can already sit in the old list (a replayed
          // vector, or symmetric discovery in an earlier batch) — exact
          // duplicate rows, collapsed before ranking
          .dropDuplicates("src", "dst"))
      val merged = prev.join(touched, Seq("src"), "left_anti")
        .unionByName(repaired)
        .unionByName(newEdges)
        .transform(Scale.materialize) // scanned by all three descent stages

      // 3b. phase 2 — [[DescentRoundsPerBatch]] NN-descent rounds
      //     (knnGraphRounds' expansion) CONFINED to the AFFECTED set (this
      //     batch's nodes + touched): neighbor-of-neighbor candidates
      //     through the symmetrized edge set, rescored and merged into
      //     affected lists only. Per round per batch: the edge store is
      //     scanned map-side (the affected/neighbor id sets broadcast into
      //     semi-joins — no big-side shuffle) and the rescoring join touches
      //     O(|affected|·(2K)²) id-keyed rows. A new node reaches cross-cell
      //     true neighbors through a touched old node's list here — the
      //     repair the cell-confined candidates cannot make alone (measured
      //     at sf0.001: without this phase the maintained graph agreed with
      //     only 0.62 of the batch edge set; with it, TRUE recall@5 lands at
      //     0.648 vs the batch rebuild's 0.687 — GraphIngestSpec's gate).
      val affected = touched
        .unionByName(assigned.select(col("vec_id").as("src")))
        .transform(Scale.materialize)
      val vecs = corpus.select(col("dst").as("vid"), col("dv"))
      var edges = merged
      for (_ <- 1 to DescentRoundsPerBatch) {
        // (a, b): affected node → its neighbors, both edge orientations
        val symA = edges.join(broadcast(affected), Seq("src"), "left_semi")
          .select(col("src").as("a"), col("dst").as("b"))
          .unionByName(edges
            .join(broadcast(affected.select(col("src").as("dst"))), Seq("dst"), "left_semi")
            .select(col("dst").as("a"), col("src").as("b")))
          .transform(Scale.materialize)
        val nbrs = symA.select(col("b")).distinct().transform(Scale.materialize)
        // (b, c): those neighbors' own neighborhoods, both orientations
        val symB = edges
          .join(broadcast(nbrs.select(col("b").as("src"))), Seq("src"), "left_semi")
          .select(col("src").as("b"), col("dst").as("c"))
          .unionByName(edges
            .join(broadcast(nbrs.select(col("b").as("dst"))), Seq("dst"), "left_semi")
            .select(col("dst").as("b"), col("src").as("c")))
        val affEdges = edges
          .join(broadcast(affected), Seq("src"), "left_semi")
          .transform(Scale.materialize) // anti-join base + final re-rank input
        val cand = symA.join(symB, "b")
          .filter(col("a") =!= col("c"))
          .select(col("a").as("src"), col("c").as("dst")).distinct()
          .join(affEdges.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
        val descScored = cand
          .join(vecs.select(col("vid").as("src"), col("dv").as("sv")), "src")
          .join(vecs.select(col("vid").as("dst"), col("dv").as("tv")), "dst")
          .withColumn("cos", NativeVector.cosine(col("sv"), col("tv")))
          .select(col("src"), col("dst"), col("cos"))
        edges = edges.join(broadcast(affected), Seq("src"), "left_anti")
          .unionByName(topK(affEdges.unionByName(descScored)))
          .transform(Scale.materialize)
      }
      val next = edges

      // 4. full version write; Commit.once then creates the marker
      next.write.mode("overwrite").parquet(s"$storeDir/edges/v$id")
    }
  }
}
