package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{normalize, tokens, detRound}
import graft.functions.PortableHash._
import graft.functions.VectorFunctions._
import graft.functions.NativeVector

/** Document deduplication family: exact, shingle-Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine.
  *
  * Scale design: nothing here does a global cross join. Candidate pairs come
  * from equality joins on blocking keys — inverted shingle postings
  * (jaccard), LSH band signatures (minhash), 15-bit hash chunks (simhash) —
  * so the quadratic work is confined to same-bucket groups. Every blocking
  * join is a plain hash shuffle; hot buckets split under AQE skew handling.
  * The only pairwise-complete operator is `dedup_embedding` (exact-by-
  * contract); its broadcast kernel is bounded by corpus size, with the
  * grid-blocked variant in BlockedVectors as the beyond-broadcast path and
  * the LSH/IVF approximate paths in Similarity.
  */
object Dedup {

  /** 3-token shingle set (docs shorter than 3 tokens fall back to the whole
    * text as a single shingle).
    */
  def shingleSet(toks: Column): Column = array_distinct(
    when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
      .otherwise(array(concat_ws(" ", toks))))

  /** Row-based distinct shingle postings: (doc_id, shingle string, n).
    *
    * Same set as `shingleSet`, but built with posexplode + window `lead`
    * (all codegen'd row ops) instead of nested higher-order functions —
    * measured ~4× cheaper per document, and the shape every downstream
    * dedup join wants anyway. `n` = |distinct shingle set| via a per-doc
    * window count.
    */
  def shinglePostings(s: SparkSession, d: String): DataFrame =
    shinglePostingsOf(Tables.documents(s, d))

  /** Same postings over any (doc_id, text) frame — lets the streaming
    * ingestion gate (StreamNearDup) run the identical verified pipeline on
    * a micro-batch.
    */
  def shinglePostingsOf(docs: DataFrame): DataFrame = {
    // Whole thing is MAP-SIDE (one codegen stage, zero exchanges): per-doc
    // trigrams via an index transform over the token array, set-dedup via
    // array_distinct, n = size of that set. The previous form paid a
    // posexplode + two lead() windows + dropDuplicates + a count window —
    // three shuffles of the exploded shingle frame on every one of the ~11
    // dedup/streaming call sites — to compute exactly this per-row value
    // (r15, guide §2.4). Same rows: sequence(0, size-3) enumerates the
    // n-2 trigram starts the lead()-based form kept (t2 non-null), the
    // <3-token branch emits the single whole-text shingle, and
    // array_distinct ≡ dropDuplicates(doc_id, sh) because shingles never
    // cross documents.
    // null text yields null toks and must DROP the doc (the pre-r15 lead()
    // form's size>=3 / size<3 filters both rejected null; the otherwise
    // branch would instead emit a ("", 1) posting that joins null-text docs
    // into minhash/LSH — latent on this corpus, ADVICE r15)
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(col("toks").isNotNull)
    val shs = array_distinct(
      when(size(col("toks")) >= 3,
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))
        .otherwise(array(concat_ws(" ", col("toks")))))
    // n rides INSIDE each exploded element (struct): exploding the bare
    // array and projecting size() after would make Generate carry the whole
    // shingle array as requiredChildOutput — copied into every output row,
    // O(|doc|²) bytes per document (measured 9 s vs 0.5 s at sf0.1)
    t.select(col("doc_id"), shs.as("shs"))
      .select(col("doc_id"),
        explode(transform(col("shs"),
          x => struct(x.as("sh"), size(col("shs")).cast("long").as("n")))).as("e"))
      .select(col("doc_id"), col("e.sh").as("sh"), col("e.n").as("n"))
  }

  // ---------------------------------------------------------------- exact
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(normalize(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Duplicate-content waste audit per source — the token-budget view of
    * exact dedup: for each source, how many documents (and how much of its
    * character mass) are non-canonical copies of content the corpus already
    * keeps? Canonical = min doc_id per normalized-text md5 CORPUS-WIDE, so
    * a source whose docs are republished from another source is charged for
    * them (the curation question is "what does dropping dups save?").
    * Waste ratio stays integer (DECIMAL-guarded `*1e6 div`, character mass
    * per source can exceed 2^63/1e6 at 100 TB).
    *
    * Scale: one fingerprint agg (the audited dedup_exact shuffle), one
    * fp-keyed join back, one bounded per-source agg — all linear.
    */
  def dedupWaste(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(normalize(col("text"))).as("fp"))
    val canon = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    docs.join(canon, "fp")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("dup_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(0L)).as("dup_chars"))
      .withColumn("waste_ppm",
        expr("CASE WHEN n_chars > 0 THEN CAST(CAST(CAST(dup_chars AS DECIMAL(38,0)) " +
          "* 1000000 AS DECIMAL(38,0)) div n_chars AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END"))
  }

  /** Cross-source duplication matrix — the dataset-curation diagnostic
    * behind "how much of source A is republished in source B" (subset
    * contamination drives both dedup priorities and mixture-weight
    * corrections): verified NEAR-dup pairs (jaccard ≥ 0.5 — republication
    * is rarely byte-exact; on this corpus 24 of 25 verified pairs span
    * sources while zero exact dups do) that cross a source boundary,
    * rolled up per unordered source pair.
    *
    * Scale: pair generation is the audited dedup op; this adds two
    * doc_id-keyed joins of (doc_id, source) and a bounded-alphabet agg —
    * sources² output rows at most.
    */
  def dedupSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    dedupNgramJaccard(s, d)
      .join(src.toDF("doc_a", "sa"), "doc_a")
      .join(src.toDF("doc_b", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  // ------------------------------------------------------- n-gram jaccard
  /** PPJoin/All-Pairs prefix filtering (Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): under one global shingle order, a pair with overlap ≥ α must
    * share a shingle inside each side's (|x| − α + 1)-element prefix. With
    * the τ=0.5 length filter (nb ≥ τ·na), α ≥ ⌈τ·|x|⌉, so indexing only the
    * first ⌊n/2⌋+1 shingles per doc — ordered rarest-first so prefix
    * posting lists are the SHORT ones — generates a complete candidate set
    * at a fraction of the full postings self-join. Candidates are then
    * verified with exact intersection counts. Same result set as the naive
    * all-pairs join; the oracle states it as plain full-pairwise SQL.
    *
    * When to use which (measured at sf0.1): this corpus's shingles are
    * nearly unique (df ≈ 1), so the plain postings join is already linear
    * and 2.8× faster than the prefix plan's extra df-agg/rank shuffles;
    * dedup_ngram_jaccard therefore keeps the plain join. On real web/code
    * corpora with boilerplate (df hugely skewed) the plain join's Σ df²
    * blows up and THIS plan is the scale path — both are registered,
    * checked against the identical oracle.
    */
  def dedupJaccardPpjoin(s: SparkSession, d: String): DataFrame =
    ppjoinAt(s, d, 0.5)

  /** The PPJoin pipeline, parametric in the jaccard threshold τ — shared
    * by the fixed-τ `dedup_jaccard_ppjoin` and the per-corpus auto-tuned
    * `dedup_jaccard_auto`. Prefix length per doc is n − ⌈τ·n⌉ + 1 (with
    * the τ=0.5 length filter generalized to min ≥ τ·max): any pair at
    * jacc ≥ τ shares ≥ ⌈τ·max(na,nb)⌉ ≥ ⌈τ·n⌉ shingles, so it must
    * collide inside both prefixes. Both ⌈·⌉s carry a 1e-9/1e-6 epsilon
    * DOWN so fp noise (0.26·50 = 13.000000000000002) can only lengthen a
    * prefix / keep a boundary pair — spurious candidates are removed by
    * the exact verification, while a too-short prefix would be permanent
    * recall loss no verification can recover.
    */
  private def ppjoinAt(s: SparkSession, d: String, tau: Double): DataFrame = {
    val postings = shinglePostings(s, d)
      .select(col("doc_id"), col("n"), xxhash64(col("sh")).as("h"))
      // materialize once: downstream joins would otherwise recompute the
      // whole tokenize→shingle→distinct pipeline per side
      .transform(Scale.materialize)
    // global canonical order = (document frequency asc, hash): rarest first.
    // df as agg + re-join, NOT a window over h: with near-unique shingles a
    // window by h makes millions of single-row partitions (measured 1.7×
    // slower than the agg+join).
    val freq = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = postings.join(freq, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rnk") <= col("n") - ceil(lit(tau) * col("n") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("n"), col("h"))
    // jacc ≥ τ requires min(na,nb) ≥ τ·max(na,nb): prune at generation.
    val pairs = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lit(tau) * greatest(col("a.n"), col("b.n")) <=
            least(col("a.n"), col("b.n")) + lit(1e-6))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // Exact verification of the (small) candidate set only — shared-shingle
    // counts via equi-joins keyed on (doc, hash), as in dedupMinhashLsh.
    val shared = pairs.join(postings.toDF("doc_a", "na2", "ha"), "doc_a")
      .join(postings.toDF("doc_b2", "nb2", "hb"),
        col("doc_b") === col("doc_b2") && col("ha") === col("hb"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).cast("double").as("i"))
    shared
      .withColumn("jacc", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jacc") >= lit(tau))
      .select(col("doc_a"), col("doc_b"), detRound(col("jacc"), 4).as("jacc"))
  }

  /** Exact all-pairs Jaccard via the plain inverted-postings self-join:
    * cost ∝ Σ_shingle df². Optimal when shingle document frequencies are
    * near 1 (this corpus — see dedupJaccardPpjoin's note for the skewed
    * case).
    */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    plainJaccardAt(s, d, 0.5)

  /** The plain postings self-join, parametric in τ (same generalized
    * length filter as [[ppjoinAt]]); shared by the fixed-τ query and the
    * auto-tuned dispatch.
    */
  private def plainJaccardAt(s: SparkSession, d: String, tau: Double): DataFrame =
    plainJaccardOf(Tables.documents(s, d), tau)

  /** The same exact kernel over an explicit (doc_id, text) frame — the
    * recall audit's truth side runs it on the [[DocPaneIds]] pane.
    */
  private def plainJaccardOf(docs: DataFrame, tau: Double): DataFrame = {
    val postings = shinglePostingsOf(docs)
      .select(col("doc_id"), col("n"), xxhash64(col("sh")).as("h"))
      .transform(Scale.materialize)
    val shared = postings.as("a").join(postings.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lit(tau) * greatest(col("a.n"), col("b.n")) <=
            least(col("a.n"), col("b.n")) + lit(1e-6))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).cast("double").as("i"))
    shared
      .withColumn("jacc", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jacc") >= lit(tau))
      .select(col("doc_a"), col("doc_b"), detRound(col("jacc"), 4).as("jacc"))
  }

  /** Reference-corpus postings in join-ready shape, for the cross-corpus
    * gate below — callers materialize this ONCE (e.g. localCheckpoint) and
    * reuse it across incoming micro-batches.
    */
  def referencePostings(reference: DataFrame): DataFrame =
    shinglePostingsOf(reference)
      .select(col("doc_id").as("ref_id"), col("n").as("nb"), xxhash64(col("sh")).as("h"))

  /** Near-dup pairs BETWEEN corpora (incoming vs reference) — the
    * ingestion-time gate's core: the same shingle postings + equality join
    * + exact-intersection verification as dedupNgramJaccard, but
    * cross-corpus (every incoming doc against the reference, no self
    * triangle). Linear in postings; quadratic work confined to shared
    * shingle buckets exactly as in the self-join form.
    */
  def nearDupsAgainst(incoming: DataFrame, refPost: DataFrame,
      tau: Double = 0.5): DataFrame = {
    val a = shinglePostingsOf(incoming)
      .select(col("doc_id").as("in_id"), col("n").as("na"), xxhash64(col("sh")).as("h"))
    a.join(refPost, Seq("h"))
      // conservative length prefilter: jacc ≥ tau requires min ≥ tau·max;
      // the epsilon keeps boundary pairs that a rounded tau·max would
      // wrongly prune (e.g. 0.26·50 = 13.000000000000002 > 13) — spurious
      // keeps are removed by the exact verification below
      .filter(lit(tau) * greatest(col("na"), col("nb")) <=
        least(col("na"), col("nb")) + lit(1e-6))
      .groupBy(col("in_id"), col("ref_id"), col("na"), col("nb"))
      .agg(count(lit(1)).cast("double").as("i"))
      .withColumn("jacc", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jacc") >= tau)
      .select(col("in_id"), col("ref_id"), detRound(col("jacc"), 4).as("jacc"))
  }

  // --------------------------------------------------------- minhash + LSH
  /** MinHash signatures as an aggregation over the shingle postings:
    * `numHashes` portable-hash minima per doc in ONE map-side-partial
    * groupBy — no per-row array lambdas. Returns (doc_id, n, mh array).
    */
  def minhashSignatures(postings: DataFrame, numHashes: Int = NumHashes): DataFrame =
    postings
      .withColumn("hm", col("hp") % lit(P))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n"),
        array((0 until numHashes).map(i => min(affine(i, col("hm")))): _*).as("mh"))

  /** Band-bucket width cap: a bucket wider than this generates no candidate
    * pairs. A degenerate band (boilerplate / near-identical bodies hashing
    * thousands of docs to one signature) would go quadratic inside its
    * bucket; such families are the EXACT-dup pipeline's job, and pruning
    * over-wide buckets is the standard stop-band treatment. The cap is
    * restated in the oracle SQL, so parity is exact at every scale — at
    * test scale no bucket approaches it (asserted in DedupSpec).
    */
  val MaxBandWidth = 64

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshWith(s, d, Bands, RowsPerBand)

  /** Width-capped LSH band buckets → distinct candidate pairs
    * (doc_a < doc_b) from a signature frame `m(doc_id, mh)` — the blocking
    * stage shared by the jaccard-verified minhash dedups and the
    * embedding-verified semantic dedup. Bucket stats are one small row per
    * OCCUPIED bucket; the semi-join prunes degenerate buckets before any
    * pairing, so per-bucket pairwork is bounded by `MaxBandWidth`².
    */
  private def lshCandidatePairs(m: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val bands0 = m.select(col("doc_id"), explode(array((0 until bands).map(k =>
      struct(lit(k).as("k"),
        concat_ws(",", slice(col("mh"), k * rowsPerBand + 1, rowsPerBand)).as("sig"))): _*)).as("b"))
      .select(col("doc_id"), col("b.k").as("k"), col("b.sig").as("sig"))
    val okBuckets = bands0.groupBy(col("k"), col("sig"))
      .agg(count(lit(1)).as("bw")).filter(col("bw") <= MaxBandWidth)
      .select(col("k"), col("sig"))
    val kept = bands0.join(okBuckets, Seq("k", "sig"), "left_semi")
    kept.as("a").join(kept.as("b"),
        col("a.k") === col("b.k") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate pairs at or above this normalized edit similarity (ppm)
    * survive the edit-distance verification.
    */
  val EditSimTauPpm = 500000L

  /** Edit-distance near-dup verification — the third verification signal in
    * the dedup stack next to exact Jaccard (dedup_minhash_lsh) and embedding
    * cosine (dedup_semantic): the SAME MinHash-LSH band blocking produces
    * candidates, and each pair is scored by Levenshtein distance over the
    * normalized text — the right arbiter for short-edit duplicates (typo
    * farms, template fills, boilerplate with one swapped entity) whose
    * shingle sets diverge superlinearly in the edit count while the edit
    * distance itself stays tiny. Similarity is the standard normalized form
    * 1 − lev/max(|a|,|b|), kept INTEGER (ppm with div) so the gate is
    * hash-exact; both engines run their NATIVE levenshtein (same
    * unit-cost character-level recurrence).
    *
    * Scale: candidate volume is the bounded band join (≤ MaxBandWidth² per
    * bucket, stop-band capped); the O(|a|·|b|) per-pair recurrence is
    * confined to those candidates exactly like the exact-Jaccard verify —
    * never an all-pairs surface. Ref: the reference keeps only byte-exact
    * ReplacingMergeTree dedup; this is the near-dup generalization its
    * pipeline would need at corpus scale.
    */
  def dedupEditDistance(s: SparkSession, d: String): DataFrame = {
    val postings = shinglePostings(s, d)
      .select(col("doc_id"), col("n"), hexH(col("sh")).as("hp"))
    val pairs = lshCandidatePairs(minhashSignatures(postings), Bands, RowsPerBand)
    val nt = Tables.documents(s, d)
      .select(col("doc_id"), normalize(col("text")).as("nt"))
    pairs
      .join(nt.toDF("doc_a", "ta"), "doc_a")
      .join(nt.toDF("doc_b", "tb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("ml"))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        expr("CASE WHEN ml > 0 THEN 1000000 - (lev * 1000000 div ml) " +
          "ELSE CAST(1000000 AS BIGINT) END").as("sim_ppm"))
      .filter(col("sim_ppm") >= EditSimTauPpm)
  }

  /** Cross-modal dedup arbitration: the SAME MinHash-LSH text blocking as
    * `dedup_minhash_lsh` (band buckets, stop-band cap), but every candidate
    * pair is scored by embedding cosine over the paired `embeddings` table
    * (doc_id = vec_id, the TESTDATA contract) INSTEAD of exact Jaccard —
    * the standard second signal in a training-data dedup stack (lexical
    * blocking is cheap and high-recall; the embedding score arbitrates
    * paraphrase-shaped duplicates whose shingle overlap sits below any
    * lexical τ). The operator emits the score for every candidate; the
    * keep/drop threshold is downstream policy, deliberately NOT baked in
    * (on this synthetic corpus embeddings cluster by label, not by text,
    * so any fixed τ would be either empty or arbitrary — the score column
    * is the deliverable).
    *
    * Scale: candidate volume is the same bounded band join (≤ MaxBandWidth²
    * pairs per bucket); scoring is two linear id-equi-joins against
    * embeddings plus a codegen'd fused dot (`NativeVector.cosine`) — no new
    * quadratic surface, no driver participation, and the 64-dim payloads
    * only ride the two final id-keyed exchanges, never the band shuffle.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val postings = shinglePostings(s, d)
      .select(col("doc_id"), col("n"), hexH(col("sh")).as("hp"))
    val m = minhashSignatures(postings)
    val pairs = lshCandidatePairs(m, Bands, RowsPerBand)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    pairs
      .join(e.select(col("vec_id").as("doc_a"), col("v").as("va")), "doc_a")
      .join(e.select(col("vec_id").as("doc_b"), col("v").as("vb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        detRound(NativeVector.cosine(col("va"), col("vb")), 6).as("cos"))
  }

  /** The banding pipeline, parametric in (bands, rowsPerBand) — shared by
    * the fixed default and the auto-tuned config.
    */
  private def minhashLshWith(s: SparkSession, d: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Portable md5 hash rides on the postings so minhash, banding, and the
    // exact-Jaccard verification all reuse one materialized pipeline.
    val postings = shinglePostings(s, d)
      .select(col("doc_id"), col("n"), hexH(col("sh")).as("hp"))
      .transform(Scale.materialize)
    // m feeds four subtrees (band stats, band pairing, and both est sides):
    // materialize the signature agg once instead of recomputing it per use
    val m = minhashSignatures(postings, numHashes).transform(Scale.materialize)
    val pairs = lshCandidatePairs(m, bands, rowsPerBand)
    // Exact verification: shared-shingle counts for candidate pairs only.
    // No broadcast hint: the candidate-pair set is data-dependent and
    // unbounded at scale — a plain shuffle join lets AQE broadcast it only
    // when the runtime size says it's safe.
    val i = pairs.join(postings.toDF("doc_a", "na", "ha"), "doc_a")
      .join(postings.toDF("doc_b2", "nb", "hb"),
        col("doc_b") === col("doc_b2") && col("ha") === col("hb"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).cast("double").as("i"))
    i.join(m.select(col("doc_id").as("doc_a"), col("mh").as("ma")), "doc_a")
      .join(m.select(col("doc_id").as("doc_b"), col("mh").as("mb")), "doc_b")
      .withColumn("jacc", col("i") / (col("na") + col("nb") - col("i")))
      .withColumn("est", aggregate(zip_with(col("ma"), col("mb"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
        .cast("double") / numHashes)
      .filter(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        detRound(col("jacc"), 4).as("jacc"), detRound(col("est"), 4).as("est"))
  }

  // ----------------------------------------- minhash auto-tuned banding
  /** Per-corpus (bands, rowsPerBand) chosen from a sampled pair-similarity
    * profile instead of the fixed 4×4 — the knn_lsh_auto pattern applied to
    * the banding S-curve.
    *
    * Model: a pair at jaccard s shares a band of r rows with probability
    * s^r, so b bands catch it with S(s) = 1 − (1 − s^r)^b. The corpus
    * enters through two measured points: sDup = the WEAKEST observed
    * near-dup similarity in a bounded deterministic sample (every pair at
    * or above it must band together: S(sDup) ≥ 0.999 — banding misses are
    * permanent recall loss, verification can't recover them), and sJunk =
    * the background-similarity p90 floored at 0.2 (sub-threshold pairs
    * must rarely band: S(sJunk) ≤ 0.05 — candidate waste is the join
    * cost). Cheapest (b·r, then fewest bands) feasible config wins: a
    * tight corpus (dups ≈ 0.95) tunes to FEWER hashes than the fixed 16,
    * a loose one (dups near τ) spends more — the S-curve knee driven by
    * data instead of constants.
    */
  final case class MinhashConfig(bands: Int, rows: Int, sDup: Double, sJunk: Double)

  val MhTuneSample = 512
  val MhTuneRecall = 0.999
  val MhTuneJunkMax = 0.05
  val MhTuneMaxBands = 64
  val MhTuneMaxRows = 8

  private[graft] val mhTuneCache =
    new java.util.concurrent.ConcurrentHashMap[String, MinhashConfig]()

  /** Bounded deterministic sample → driver-side pairwise jaccard over
    * shingle-hash sets (~512² sorted-set intersections, well under a
    * second; sample bytes fixed regardless of corpus size) plus the
    * sample's mean shingle document frequency. Shared by the minhash
    * banding tuner, the jaccard τ tuner, and the jaccard plan dispatch.
    */
  final case class SimProfile(sims: Array[Double], meanDf: Double)

  private val profileCache =
    new java.util.concurrent.ConcurrentHashMap[String, SimProfile]()

  private[graft] def sampledProfile(s: SparkSession, d: String): SimProfile =
    profileCache.computeIfAbsent(d, _ => {
      val rows = shinglePostingsOf(Tables.documents(s, d)
          .orderBy(xxhash64(col("doc_id")), col("doc_id")).limit(MhTuneSample))
        .select(col("doc_id"), hexH(col("sh")).as("h")).collect()
      val sets = rows.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).distinct.sorted).values.toArray
      val sims = Array.newBuilder[Double]
      for (i <- sets.indices; j <- i + 1 until sets.length) {
        val inter = intersectSorted(sets(i), sets(j))
        sims += inter.toDouble / (sets(i).length + sets(j).length - inter)
      }
      val nPost = sets.iterator.map(_.length.toLong).sum
      val nDistinct = sets.iterator.flatten.toSet.size
      SimProfile(sims.result(), nPost.toDouble / math.max(1, nDistinct))
    })

  private def sampledPairSims(s: SparkSession, d: String): Array[Double] =
    sampledProfile(s, d).sims

  private[graft] def mhTunedConfig(s: SparkSession, d: String): MinhashConfig =
    mhTuneCache.computeIfAbsent(d, _ => {
      val sims = sampledPairSims(s, d)
      tuneMinhashFromProfile(sims.filter(_ >= 0.5).toSeq, sims.filter(_ < 0.5).toSeq)
    })

  private def intersectSorted(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    n
  }

  private[graft] def tuneMinhashFromProfile(dupSims: Seq[Double],
      bgSims: Seq[Double]): MinhashConfig = {
    // weakest observed dup; with no dups in sample assume the worst case a
    // τ=0.5 pipeline must catch arrives midway between τ and 1
    val sDup = if (dupSims.nonEmpty) math.max(0.5, dupSims.min) else 0.75
    val sJunk = {
      val p90 = if (bgSims.nonEmpty) {
        val ss = bgSims.sorted; ss((ss.length * 0.9).toInt.min(ss.length - 1))
      } else 0.0
      math.max(0.2, p90).min(sDup * 0.9)
    }
    def sCurve(s: Double, r: Int, b: Int) =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val feasible = for {
      r <- 1 to MhTuneMaxRows
      b <- 1 to MhTuneMaxBands
      if b * r <= MaxHashes
      if sCurve(sDup, r, b) >= MhTuneRecall && sCurve(sJunk, r, b) <= MhTuneJunkMax
    } yield (b, r)
    val (b, r) =
      if (feasible.isEmpty) (Bands, RowsPerBand) // fixed default, floor-safe
      else feasible.minBy { case (b, r) => (b * r, b) }
    MinhashConfig(b, r, sDup, sJunk)
  }

  def dedupMinhashAuto(s: SparkSession, d: String): DataFrame = {
    val cfg = mhTunedConfig(s, d)
    minhashLshWith(s, d, cfg.bands, cfg.rows)
  }

  // ------------------------------------------- jaccard auto-tuned τ
  /** Per-corpus jaccard threshold from the same sampled similarity
    * profile — the last fixed constant in the dedup family. A dup-bearing
    * corpus is bimodal: background mass near 0, a dup cluster high; τ*
    * belongs in the empty valley between them, where a small mis-estimate
    * changes NOTHING (no pair lives near the boundary). The rule is the
    * midpoint of the LARGEST similarity gap whose midpoint falls inside
    * [JaccTauMin, JaccTauMax], floored to 2 decimals for a stable literal;
    * a sentinel at 1.0 handles the dup-free corpus (the gap runs from the
    * background top to 1.0, landing τ* conservatively high). Unimodal
    * profiles with no usable gap keep the fixed 0.5.
    */
  val JaccTauMin = 0.3
  val JaccTauMax = 0.9

  private[graft] val jaccTauCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private[graft] def jaccTunedTau(s: SparkSession, d: String): Double =
    jaccTauCache.computeIfAbsent(d, _ => tuneJaccardTau(sampledPairSims(s, d).toSeq))

  private[graft] def tuneJaccardTau(sims: Seq[Double]): Double = {
    val xs = (sims :+ 1.0).sorted
    val cands = xs.lazyZip(xs.tail).map { case (a, b) => ((a + b) / 2, b - a) }
      .filter { case (mid, _) => mid >= JaccTauMin && mid <= JaccTauMax }
    if (cands.isEmpty) 0.5
    else {
      // widest gap wins; exact ties (same gap width) keep the LOWEST
      // midpoint — deterministic, and recall-favoring over candidate-count
      val best = cands.maxBy { case (mid, gap) => (gap, -mid) }
      math.floor(best._1 * 100) / 100
    }
  }

  /** Dispatch threshold on the sample's mean shingle df. The statistic is
    * share-based and scale-invariant: a shingle appearing in fraction p of
    * docs shows df ≈ p·sample in the bounded sample, so boilerplate-dense
    * corpora (the Σ df² blowup risk) read ≫ 2 at ANY corpus size, while
    * this corpus — whose only repetition is its near-dup pairs — reads
    * ~1.6 and was the corpus where the plain join measured 2.8× faster
    * than the prefix plan's extra df-agg/rank shuffles. Below the
    * threshold the plain join's cost is ≈ linear in postings; above it,
    * PPJoin's prefix containment is what survives. Both plans produce the
    * identical exact result set, so the oracle is dispatch-blind.
    */
  val JaccDfDispatch = 2.0

  def dedupJaccardAuto(s: SparkSession, d: String): DataFrame = {
    val tau = jaccTunedTau(s, d)
    if (sampledProfile(s, d).meanDf <= JaccDfDispatch) plainJaccardAt(s, d, tau)
    else ppjoinAt(s, d, tau)
  }

  // --------------------------------------------------------------- simhash
  /** Exact hamming-radius SimHash dedup, Manku et al. (WWW'07)-style
    * multi-chunk concatenated keys.
    *
    * 60-bit SimHash over the distinct-token set (md5-derived bits). The
    * result is EXACTLY every pair at hamming distance ≤ [[SimhashRadius]]:
    * the fingerprint splits into m chunks, and every concatenation of
    * c = m − radius chunks is a bucket key (C(m, c) tables). A pair
    * differing in ≤ radius bits touches at most radius chunks, so at least
    * c chunks match and one key collides (pigeonhole); candidates verify
    * with an exact bit_count. The oracle is a structurally INDEPENDENT
    * brute-force all-pairs scan — completeness of the banding is exactly
    * what CORRECTNESS checks.
    *
    * The geometry is corpus-parametric ([[simhashGeometry]]): m grows with
    * log2(n), so the key space 2^keyBits stays ≫ corpus and expected bucket
    * width stays ≤ [[SimhashTargetWidth]]. The fixed 4×15-bit single-chunk
    * banding this replaces saturated its 32k-value chunk space at billions
    * of docs (~n²/32k candidate pairs); here key width rises (12→20→26→30
    * bits as n crosses 64k / 16M / 0.5G) while the table count stays
    * polynomial (5 / 15 / 35 / 70 = C(m, radius)).
    *
    * Bit sums run as one 60-column aggregation over exploded distinct-token
    * rows (map-side partial, codegen'd) rather than 60 interpreted array
    * folds per document.
    */
  val SimhashRadius = 4
  val SimhashTargetWidth = 16 // expected-docs-per-bucket design ceiling

  private def chunkWidths(m: Int): Seq[Int] = {
    val (base, extra) = (60 / m, 60 % m)
    Seq.tabulate(m)(i => if (i < extra) base + 1 else base)
  }

  /** Chunk widths + all c-of-m combination key tables for corpus size n:
    * the smallest m (≥ radius+1) whose worst-case key width (the c
    * narrowest chunks) keeps expected bucket width n/2^keyBits at or under
    * [[SimhashTargetWidth]]. Completeness holds for EVERY m by pigeonhole;
    * n only buys selectivity.
    */
  def simhashGeometry(n: Long): (Seq[Int], Seq[Seq[Int]]) = {
    val needBits =
      math.max(0.0, math.log(math.max(1L, n).toDouble / SimhashTargetWidth) / math.log(2.0))
    val m = (SimhashRadius + 1 to 59).find { m =>
      val c = m - SimhashRadius
      chunkWidths(m).sorted.take(c).sum >= needBits
    }.getOrElse(59)
    (chunkWidths(m), (0 until m).combinations(m - SimhashRadius).toSeq)
  }

  /** (doc_id, sim) — the 60-bit fingerprints, shared by the pair query, the
    * DedupSpec geometry audits, and the streaming ingestion gate.
    */
  def simhashFingerprints(s: SparkSession, d: String): DataFrame =
    simhashFingerprintsOf(Tables.documents(s, d))

  /** Same fingerprints over any (doc_id, text) frame — lets the streaming
    * gate (StreamSimhashGate) run the identical pipeline on a micro-batch.
    */
  def simhashFingerprintsOf(docs: DataFrame): DataFrame =
    simhashOf(docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("f"))
      .withColumn("h", hexH(col("f"))))

  /** 60-bit majority-vote fingerprint from feature-hash rows (doc_id, h) —
    * feature-agnostic: distinct tokens for text simhash, payload byte
    * 8-grams for the multimodal pHash stub. One 60-column codegen'd
    * aggregation, map-side partial.
    */
  private[graft] def simhashOf(hRows: DataFrame): DataFrame = {
    val bitSums = hRows.groupBy(col("doc_id"))
      .agg(sum((col("h") % 2L) * 2L - 1L).as("s0"),
        (1 until 60).map(i =>
          sum((shiftright(col("h"), i) % 2L) * 2L - 1L).as(s"s$i")): _*)
    bitSums.withColumn("sim",
      (0 until 60).map(i =>
        when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _))
      .select("doc_id", "sim")
  }

  /** One row per (table, packed key) per doc: C(m, c) keys, each the
    * concatenation of that combination's chunk values — pure bit
    * arithmetic, codegen'd, no shuffle until the bucket join.
    */
  private[graft] def simhashKeys(base: DataFrame,
      widths: Seq[Int], combos: Seq[Seq[Int]]): DataFrame = {
    val offsets = widths.scanLeft(0)(_ + _)
    def chunk(i: Int): Column =
      shiftright(col("sim"), offsets(i)) % lit(1L << widths(i))
    base.select(col("doc_id"), col("sim"),
      explode(array(combos.zipWithIndex.map { case (combo, t) =>
        val packed = combo.foldLeft((lit(0L), 0)) { case ((acc, shift), i) =>
          (acc + chunk(i) * lit(1L << shift), shift + widths(i))
        }._1
        struct(lit(t).as("t"), packed.as("key"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("sim"), col("b.t").as("t"), col("b.key").as("key"))
  }

  /** Key-table candidates → hamming-verified distinct pairs. Fingerprint-
    * agnostic: any (doc_id, sim) 60-bit frame keyed by [[simhashKeys]]
    * (text simhash here; payload pHash in Multimodal.mmPhashNeardup).
    *
    * The keyed frame is MATERIALIZED before the self-join: both join sides
    * read it, and without the checkpoint each side recomputes the whole
    * upstream fingerprint scan — the dominant stage (r15 stage timing,
    * isolated sf10: fingerprints 35.9 s vs 4.9 s band join), so the
    * double-scan alone cost more than every downstream stage combined
    * (mm_phash_neardup isolated sf10 136.1 → 45.0 s with the checkpoint,
    * sf1 15.1 → 6.1 s; ratio 9.0× → 7.4× per 10×).
    * The pinned footprint is n·C(m,c) skinny rows (doc_id, sim, t, key) —
    * 30 longs/doc at the sf10 geometry, disk-spillable.
    */
  private[graft] def simhashPairs(keyed0: DataFrame): DataFrame = {
    val keyed = Scale.materialize(keyed0)
    keyed.as("a").join(keyed.as("b"),
        col("a.t") === col("b.t") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      // filter BEFORE distinct: hamming is computable per candidate row, so
      // far pairs never enter the dedup exchange
      .filter(col("hamming") <= SimhashRadius)
      .distinct()
  }

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // corpus size for the geometry rule — a parquet-footer count, the same
    // metadata-only dispatch pattern as dedupEmbedding's kernel choice
    val n = Tables.documents(s, d).count()
    val (widths, combos) = simhashGeometry(n)
    simhashPairs(simhashKeys(simhashFingerprints(s, d), widths, combos))
  }

  // ------------------------------------------------------------ clustering
  /** The last step of every near-dup pipeline: group pair matches into
    * connected components and elect a canonical doc (the component's min
    * id). Min-label propagation: each iteration every node takes the min
    * label among itself and its neighbors; converges in O(component
    * diameter) rounds — each round is one shuffle join + agg over the edge
    * list (near-dup graphs are sparse: edges ≪ corpus). The oracle states
    * the same fixpoint as recursive SQL reachability.
    *
    * Cross-round state is RELIABLE-storage checkpointed (not
    * localCheckpoint): executor-local blocks die with their executor, which
    * on a real cluster would kill an iterative job minutes in. The
    * checkpoint dir defaults to a local tmp path; clusters point it at
    * durable storage via `SparkContext.setCheckpointDir` (HDFS/S3) before
    * calling.
    */
  val MaxClusterRounds = 50

  /** Materialize iteration state to the session's reliable checkpoint dir,
    * defaulting it when unset (local runs / tests).
    */
  private[graft] def durable(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints")
    df.checkpoint()
  }

  /** Min-label connected components over a symmetric edge list → (doc_id,
    * lbl = component min id) plus the round count. Each round every node
    * takes the min of (own label, neighbor labels) and — when `jump` —
    * additionally path-compresses one hop through the CURRENT label map
    * (lbl ← lbl(lbl)). Labels are always node ids inside the node's own
    * component and only ever decrease, so the fixpoint is identical with or
    * without the jump: per component, the edge condition forces one
    * constant label, and that constant is the component min. The jump only
    * changes the CONVERGENCE RATE — the lookahead distance doubles per
    * round (chain labels move 1, 2, 4, 8, … hops), so rounds are
    * O(log diameter) instead of O(diameter). DedupSpec proves both the
    * equivalence and the round counts on a chain the plain loop would
    * abort on. Cost: one extra self-equi-join of the (sparse-graph-sized)
    * label frame per round.
    */
  private[graft] def connectedComponents(edges: DataFrame,
      jump: Boolean): (DataFrame, Int) = {
    val nodes = edges.select(col("doc_a").as("doc_id")).distinct()
    var labels = durable(nodes.withColumn("lbl", col("doc_id")))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // A graph needing more rounds than the cap means the input is not
      // the sparse near-dup graph this operator is for — fail loudly
      // rather than grind unbounded rounds. With `jump` the cap admits
      // diameters up to ~2^MaxClusterRounds.
      if (round > MaxClusterRounds) throw new IllegalStateException(
        s"dedup_clusters did not converge in $MaxClusterRounds rounds ($changed labels still moving)")
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("lbl").as("nlbl")), "doc_b")
        .groupBy(col("doc_a").as("doc_id")).agg(min(col("nlbl")).as("nmin"))
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer doubling: follow the new label one hop through this
      // round's incoming label map (labels of labels are component-local
      // node ids, so the lookup always lands on a labeled node)
      val jumped =
        if (!jump) stepped
        else stepped
          .join(labels.select(col("lbl").as("jlbl"), col("doc_id").as("lbl")),
            Seq("lbl"), "left")
          .select(col("doc_id"), col("old"),
            least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
      // carry the old label through the checkpoint so the convergence count
      // is a filter over materialized data, not a second join per round
      val next = durable(jumped)
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select("doc_id", "lbl")
    }
    (labels.select(col("doc_id"), col("lbl")), round)
  }

  /** Pair bound under which the clustering runs as driver union-find over
    * the collected near-dup graph — the graph is SPARSE by construction
    * (pairs = actual near-duplicates, edges ≪ corpus whenever dedup is
    * worth running), so 4M pairs covers far past the gate SFs; past it the
    * distributed min-label loop runs unchanged.
    */
  val ClusterCollectEdges = 4L * 1000 * 1000

  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    // materialize the PAIRS (the expensive jaccard subtree) once: the count
    // probe, the bounded collect, and the fallback's durable copy all read
    // the settled frame — the old shape reliable-checkpointed the raw
    // subtree, which computes it twice (Dataset.checkpoint semantics)
    val pairs0 = Scale.materialize(
      dedupNgramJaccard(s, d).select(col("doc_a"), col("doc_b")))
    val nPairs = pairs0.count()
    if (nPairs <= ClusterCollectEdges) {
      // collect-when-bounded (VERDICT r15): the distributed loop pays per
      // round one join + agg + reliable-checkpoint fence over a sparse
      // frame — job latency, not compute. Driver union-find lands the same
      // fixpoint by construction: every component labels to its min id.
      val ps = pairs0.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { // path compression
          val nxt = parent(c); parent.update(c, r); c = nxt
        }
        r
      }
      ps.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = ps.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      val labels = nodes.map(n => (n, find(n))).sorted
      import s.implicits._
      if (labels.isEmpty)
        s.emptyDataset[(Long, Long)].toDF("doc_id", "cluster_id")
      else s.createDataFrame(labels).toDF("doc_id", "cluster_id")
    } else {
      // reliable-checkpoint the settled pairs, then derive the symmetric
      // edge list as two cheap scans — re-read per round from reliable
      // storage, never recomputed
      val pairs = durable(pairs0)
      val edges = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      connectedComponents(edges, jump = true)._1
        .select(col("doc_id"), col("lbl").as("cluster_id"))
    }
  }

  /** Keep-one canonical selection over the near-dup clusters — the step a
    * dedup pipeline runs after clustering: every document maps to its
    * cluster's canonical representative (longest text wins, smallest doc_id
    * breaks ties) and singletons map to themselves, so `keep = 1` is the
    * deduplicated corpus and the full mapping is the provenance record a
    * dataset card cites.
    *
    * Scale: cluster labels cover only the (sparse) near-dup graph nodes;
    * the canonical election is one groupBy(cluster_id) max_by over that
    * sparse frame (map-side partial, ties impossible — doc_id is unique).
    * The only corpus-sized steps are two equi-joins of `documents` against
    * label/canon frames that are small whenever dedup is worth running —
    * broadcastable, and plain hash joins past the threshold.
    */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val labels = dedupClusters(s, d)
    val canon = labels.join(docs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("canonical_id"))
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(canon, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("keep",
        when(col("doc_id") === col("canonical_id"), lit(1)).otherwise(lit(0)))
  }

  // ----------------------------------------------------- embedding cosine
  /** Exact pairwise cosine as a mapPartitions primitive-loop kernel over the
    * broadcast corpus — the "(d) last resort" of the custom-operator ladder,
    * and the right one here: dense BLAS-like math is ~50× faster in tight
    * double loops than per-pair Catalyst expression eval (measured in a
    * JVM microbenchmark). Float semantics match the DuckDB oracle
    * exactly: sequential dot/norm folds, cos = dot/sqrt(n2a*n2b), floor
    * rounding.
    *
    * Scale: one broadcast of the corpus (vectors+norms) and one pass over
    * the rows; for corpora too big to broadcast, block both sides into
    * grid cells (outer join of block ids) and run the same kernel per cell.
    */
  /** Corpus-vector bytes beyond which the collect-and-broadcast kernel is
    * unsafe (driver heap + per-executor broadcast copy); past it the
    * registered query dispatches to the grid-blocked kernel, whose peak task
    * memory is 2 blocks regardless of corpus size.
    */
  val BroadcastBytesLimit: Long = 256L << 20
  private val EmbeddingDims = 64 // embeddings-table contract (TESTDATA.md)

  /** `maxId` (default: no limit) confines the kernel to `vec_id < maxId` —
    * the sample-truth mode of the ANN audits
    * ([[Similarity.TruthSampleIds]]): for a pairwise threshold kernel,
    * truth-on-a-vec_id-slice ≡ full truth post-filtered to pairs with both
    * endpoints in the slice (a pair's cosine depends only on its two
    * vectors), so the audits can bound the quadratic side without changing
    * its meaning.
    */
  def dedupEmbedding(s: SparkSession, d: String, maxId: Long = Long.MaxValue,
      knownN: Long = -1L): DataFrame = {
    val src =
      if (maxId == Long.MaxValue) Tables.embeddings(s, d)
      else Tables.embeddings(s, d).filter(col("vec_id") < maxId)
    // Metadata-only parquet count (footers, no data pages) sizes the corpus
    // before any kernel choice — no driver-side collect unless it fits.
    // (With a maxId slice the count reads the vec_id column — still cheap.)
    // Callers that already counted (Similarity.sampledTruth dispatches on
    // the same number) pass it in via knownN so the scan isn't repeated.
    val n = if (knownN >= 0L) knownN else src.count()
    val bytes = n * EmbeddingDims * 8
    if (bytes <= BroadcastBytesLimit) dedupEmbeddingBroadcast(s, src)
    else {
      // peak task memory = 2 blocks; nBlocks ≥ 2·bytes/limit keeps a cell's
      // two blocks within the broadcast budget (replication factor = nBlocks,
      // so no larger than needed); the parallelism floor keeps the grid's
      // B(B+1)/2 cells ≥ cores so the quadratic work never idles the cluster
      val nBlocks = math.max(
        BlockedVectors.blocksForParallelism(s),
        ((2 * bytes + BroadcastBytesLimit - 1) / BroadcastBytesLimit).toInt)
      BlockedVectors.pairwiseCosineBlocked(s,
        src.select(col("vec_id"), toDouble(col("embedding")).as("v")),
        tau = 0.40, nBlocks = nBlocks)
    }
  }

  private def dedupEmbeddingBroadcast(s: SparkSession, src: DataFrame): DataFrame = {
    import s.implicits._
    val tau = 0.40
    val e = src
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    def n2(v: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 }
      acc
    }
    val corpus = e.collect().map { case (id, v) => (id, v, n2(v)) }.sortBy(_._1)
    val bc = s.sparkContext.broadcast(corpus)
    // Fan the probe side out BEFORE the kernel: the embeddings table is a
    // single parquet file, so the scan is 1-2 input splits and the whole
    // n²/2 pairwise loop would run on 1-2 tasks (measured: the entire 34 s
    // at sf1 was one core; the sf10 smoke sat at ~2 cores for 45 min —
    // same trap dedup_embedding_ann fixed with repartition(cell)). The
    // shuffle moves only n skinny rows — noise next to the quadratic work.
    e.repartition(s.sparkContext.defaultParallelism * 4)
      .mapPartitions { it =>
      it.flatMap { case (ida, va) =>
        val na = n2(va)
        bc.value.iterator.filter(_._1 > ida).flatMap { case (idb, vb, nb) =>
          var dot = 0.0; var i = 0
          while (i < va.length) { dot += va(i) * vb(i); i += 1 }
          val cos = dot / math.sqrt(na * nb)
          if (cos >= tau) Some((ida, idb, math.floor(cos * 1e6) / 1e6)) else None
        }
      }
    }.toDF("vec_a", "vec_b", "cos")
  }

  /** Blocking-quality audit for the minhash-LSH dedup — the measurement a
    * pipeline owner needs before trusting approximate dedup at 100 TB:
    * recall (what fraction of the TRUE ≥τ pairs does the band blocking
    * surface as candidates?) and precision (what fraction of candidates
    * verify?) of the (Bands × RowsPerBand) banding against the exact
    * ngram-Jaccard ground truth. Truth = the verified dedup_ngram_jaccard
    * pair set; candidates = the same lshCandidatePairs stage
    * dedup_minhash_lsh blocks with. One left-semi hit join + three 1-row
    * scalar aggregates; ratios integer (`*1e6 div`), zero-denominator
    * guarded identically in both engines (DuckDB `// 0` errors where Spark
    * `div` returns NULL).
    */
  /** Doc-count cap above which the recall audit runs on the
    * `doc_id < DocPaneIds` pane (the [[Similarity.TruthSampleIds]]
    * discipline applied to the document side): the audit's truth is the
    * quadratic-by-design exact jaccard, so above the cap BOTH sides
    * compute over the pane — semantically exact per pair (a pair's
    * jaccard and its minhash signatures depend only on its two docs), so
    * the paned audit is the banding's recall/precision measured on a
    * uniform 2^16-doc sample, which is what a deployment monitor runs at
    * 100 TB. Below the cap — including every driver gate SF (sf0.01: 1.4k
    * docs; sf0.1: 5k; sf1: 50k) — nothing changes. sf10 (500k docs)
    * measured: the audit bounds at pane²/2 truth work regardless of
    * corpus size.
    */
  val DocPaneIds = 65536L

  def dedupRecallEval(s: SparkSession, d: String): DataFrame =
    dedupRecallEvalAt(s, d, DocPaneIds)

  /** Pane-parametric body so DedupSpec can force the pane on a tiny
    * corpus and pin paned ≡ slice-recomputed.
    */
  private[graft] def dedupRecallEvalAt(s: SparkSession, d: String,
      pane: Long): DataFrame = {
    val all = Tables.documents(s, d)
    // one bounded pass prices BOTH the dispatch (total docs) and the pane's
    // ACTUAL size — `doc_id < pane` equals a uniform pane-sized sample only
    // while ids are dense and 0-based; on an offset/sparse id space the
    // slice silently shrinks, so an empty pane must abort, not audit nothing
    val counts = all.agg(count(lit(1)).as("n"),
      sum(when(col("doc_id") < pane, 1L).otherwise(0L)).as("np")).head()
    val total = counts.getLong(0)
    val paneN = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val paned = total > pane
    require(!paned || paneN > 0,
      s"recall-audit pane doc_id < $pane matched 0 of $total docs — the " +
        "corpus ids are not dense/0-based; densify (row_number over doc_id) " +
        "or lower the pane before auditing")
    // the generated oracle bakes THIS dispatch — only the registered
    // query's pane feeds it (spec-forced panes must not leak into dumps)
    if (pane == DocPaneIds) recallPaneCache.put(d, Boolean.box(paned))
    val docs = if (paned) all.filter(col("doc_id") < pane) else all
    // exact-truth kernel ∥ LSH candidate chain — independent audits of the
    // same docs frame (r15, guide §2.6)
    val two = Scale.inParallel[DataFrame](Seq(
      () => Scale.materialize(
        plainJaccardOf(docs, 0.5).select(col("doc_a"), col("doc_b"))),
      () => {
        val postings = shinglePostingsOf(docs)
          .select(col("doc_id"), col("n"), hexH(col("sh")).as("hp"))
          .transform(Scale.materialize)
        val m = minhashSignatures(postings, Bands * RowsPerBand)
        Scale.materialize(lshCandidatePairs(m, Bands, RowsPerBand))
      }), slots = 2)
    val (truth, cand) = (two(0), two(1))
    val hit = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
    val nt = truth.agg(count(lit(1)).as("n_true"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    nt.crossJoin(broadcast(nc)).crossJoin(broadcast(nh)) // 1-row scalars
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_true > 0 THEN n_hit * 1000000 div n_true " +
          "ELSE CAST(0 AS BIGINT) END").as("recall_ppm"),
        expr("CASE WHEN n_cand > 0 THEN n_hit * 1000000 div n_cand " +
          "ELSE CAST(0 AS BIGINT) END").as("precision_ppm"))
  }

  /** MinHash ESTIMATOR calibration by true-similarity band — the audit a
    * pipeline reads before using `est` as a dedup threshold (the
    * complement of `dedup_recall_eval`, which audits the BANDING's pair
    * coverage; this audits the estimate's accuracy on the pairs it
    * surfaces): over the SAME candidate pairs `dedup_minhash_lsh` emits,
    * signed bias, mean absolute error, and worst error of the
    * matching-minhash-fraction estimator vs exact shingle Jaccard, per
    * 0.1-wide true-similarity band. The theoretical story (est is an
    * unbiased binomial mean with σ = √(j(1−j)/k)) becomes a measured
    * number on THIS corpus and k. All integer: errors are differences of
    * 1e6-quantized values; `div`/`//` truncate toward zero identically,
    * signed bias included. Scale: one pass over the (already banded,
    * width-capped) candidate pair set — strictly cheaper than the dedup
    * it audits.
    */
  def dedupMinhashCalibration(s: SparkSession, d: String): DataFrame =
    dedupMinhashLsh(s, d)
      .withColumn("band", floor(col("jacc") * 10).cast("long"))
      .withColumn("err_ppm",
        expr("CAST(floor(est*1e6) AS BIGINT) - CAST(floor(jacc*1e6) AS BIGINT)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("err_ppm")).as("sum_err_ppm"),
        expr("sum(err_ppm) div count(1)").as("bias_ppm"),
        expr("sum(abs(err_ppm)) div count(1)").as("mae_ppm"),
        max(abs(col("err_ppm"))).as("max_abs_err_ppm"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_calibration" -> dedupMinhashCalibration,
    "dedup_recall_eval" -> dedupRecallEval,
    "dedup_exact" -> dedupExact,
    "dedup_waste" -> dedupWaste,
    "dedup_source_overlap" -> dedupSourceOverlap,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_jaccard_ppjoin" -> dedupJaccardPpjoin,
    "dedup_jaccard_auto" -> dedupJaccardAuto,
    "dedup_clusters" -> dedupClusters,
    "dedup_canonical" -> dedupCanonical,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_auto" -> dedupMinhashAuto,
    "dedup_semantic" -> dedupSemantic,
    "dedup_edit_distance" -> dedupEditDistance,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> ((s, d) => dedupEmbedding(s, d)),
    "dedup_embedding_blocked" -> ((s, d) => BlockedVectors.dedupEmbeddingBlocked(s, d)),
  )

  // ------------------------------------------------------------- oracles
  private val normSql = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
  private val toksSql = s"string_split($normSql, ' ')"
  private val shsSql =
    s"""list_distinct(CASE WHEN len(toks) >= 3
       | THEN list_transform(range(0, len(toks)-2), i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
       | ELSE [array_to_string(toks, ' ')] END)""".stripMargin
  private val docShinglesSql = docShinglesSqlWhere("")

  /** [[DocPaneIds]] as a GENERATED-oracle decision (the mhTuneCache
    * contract): the registered query records whether this dir dispatched
    * to the pane, and the oracle dump — which Verify runs AFTER the
    * queries — bakes the corresponding literal WHERE. Below the cap the
    * emitted SQL is byte-identical to the unpaned oracle (no lim CTE, no
    * per-row subquery overhead on the driver's gate budget).
    */
  private[graft] val recallPaneCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The paned WHERE for the generated recall oracle — None when the cache
    * is empty or ambiguous (a JVM that ran ≥2 dirs), in which case the
    * oracle entry is OMITTED entirely (the mhTuneCache discipline): a
    * silently-unpaned fallback would dump a quadratic full-corpus truth
    * query for a paned dir — a guaranteed mismatch, worse than the
    * driver's weaker rows-only check.
    */
  private def recallPaneWhereOpt: Option[String] =
    if (recallPaneCache.size != 1) None
    else Some(
      if (recallPaneCache.values.iterator.next().booleanValue)
        s"WHERE doc_id < $DocPaneIds"
      else "")

  /** The shingles CTE with an optional documents filter — the recall
    * audit's paned oracle slices here; every other caller passes "".
    */
  private def docShinglesSqlWhere(where: String): String = {
    val w = if (where.isEmpty) "" else s" $where"
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents$w),
       |s AS (SELECT doc_id, toks, $shsSql AS shs FROM t)""".stripMargin
  }
  private def jaccSql(a: String, b: String) =
    s"(CAST(len(list_intersect($a,$b)) AS DOUBLE) / (len($a)+len($b)-len(list_intersect($a,$b))))"

  private def mhSqlFor(numHashes: Int): String = {
    val mins = (0 until numHashes)
      .map(i => s"list_min(list_transform(hs, h -> ${affineSql(i, "h")}))")
      .mkString("[", ", ", "]")
    s"""h AS (SELECT doc_id, shs, list_transform(shs, sh -> ${hexHSql("sh")} % $P) AS hs FROM s),
       |m AS (SELECT doc_id, shs, $mins AS mh FROM h)""".stripMargin
  }

  /** The banding+verification oracle, parametric in (bands, rows) — the
    * fixed entry uses (Bands, RowsPerBand); dedup_minhash_auto's entry is
    * GENERATED from the tuned config (the knn_lsh_auto pattern: emitted
    * only when exactly one sf dir tuned in this JVM, so the SQL always
    * restates the exact banding the Spark plan used).
    */
  /** The shared blocking CTEs: doc shingles → minhash signatures → capped
    * band buckets → candidate `pairs(doc_a, doc_b)` — the SQL twin of
    * `lshCandidatePairs`, shared by the jaccard-verified and the
    * embedding-verified oracles.
    */
  private def lshPairsCte(bands: Int, rowsPerBand: Int,
      docWhere: String = ""): String = {
    val numHashes = bands * rowsPerBand
    s"""${docShinglesSqlWhere(docWhere)},
       |${mhSqlFor(numHashes)},
       |bands AS (SELECT doc_id, k,
       |    array_to_string(list_slice(mh, k*$rowsPerBand+1, k*$rowsPerBand+$rowsPerBand), ',') AS sig
       |  FROM m, (SELECT unnest([${(0 until bands).mkString(",")}]) AS k)),
       |bw AS (SELECT k, sig FROM bands GROUP BY 1, 2 HAVING count(*) <= $MaxBandWidth),
       |kept AS (SELECT bands.* FROM bands JOIN bw USING (k, sig)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashOracleSql(bands: Int, rowsPerBand: Int): String = {
    val numHashes = bands * rowsPerBand
    s"""WITH ${lshPairsCte(bands, rowsPerBand)},
       |j AS (SELECT doc_a, doc_b, ${jaccSql("ma.shs", "mb.shs")} AS jacc,
       |    CAST(list_sum(list_transform(range(1, ${numHashes + 1}), i ->
       |      CASE WHEN ma.mh[i] = mb.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $numHashes AS est
       |  FROM pairs JOIN m ma ON doc_a = ma.doc_id JOIN m mb ON doc_b = mb.doc_id)
       |SELECT doc_a, doc_b, floor(jacc*1e4)/1e4 AS jacc, floor(est*1e4)/1e4 AS est
       |FROM j WHERE jacc >= 0.5""".stripMargin
  }

  private val simhashSql: String =
    s"""hb AS (SELECT doc_id,
       |  list_transform(list_distinct(toks), tk -> ${hexHSql("tk")}) AS hts FROM t),
       |sh AS (SELECT doc_id,
       |  list_sum(list_transform(range(0, 60), i ->
       |    CASE WHEN list_sum(list_transform(hts, h -> ((h >> i) & 1)*2 - 1)) > 0
       |         THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT AS sim
       |  FROM hb)""".stripMargin

  // paned above DocPaneIds (no-op at every gate SF — the emitted SQL is
  // then byte-identical to the unpaned oracle): the generated WHERE slices
  // the documents BOTH sides read, restating the query's dispatch. Emitted
  // only when the pane cache is unambiguous (see recallPaneWhereOpt).
  private def maybeRecallOracle: Map[String, String] =
    recallPaneWhereOpt.map { w =>
      "dedup_recall_eval" ->
        s"""WITH ${lshPairsCte(Bands, RowsPerBand, w)},
           |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id
           |  WHERE ${jaccSql("a.shs", "b.shs")} >= 0.5),
           |nt AS (SELECT count(*) AS n_true FROM tp),
           |nc AS (SELECT count(*) AS n_cand FROM pairs),
           |nh AS (SELECT count(*) AS n_hit FROM pairs JOIN tp USING (doc_a, doc_b))
           |SELECT n_true, n_cand, n_hit,
           |  CASE WHEN n_true > 0 THEN n_hit * 1000000 // n_true
           |    ELSE CAST(0 AS BIGINT) END AS recall_ppm,
           |  CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand
           |    ELSE CAST(0 AS BIGINT) END AS precision_ppm
           |FROM nt, nc, nh""".stripMargin
    }.toMap

  def oracles: Map[String, String] = maybeAutoOracle ++ maybeRecallOracle ++ Map(
    "dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1""".stripMargin,
    "dedup_waste" ->
      s"""WITH docs AS (SELECT doc_id, source, n_chars, md5($normSql) AS fp
         |  FROM documents),
         |canon AS (SELECT fp, min(doc_id) AS keep_id FROM docs GROUP BY 1),
         |j AS (SELECT d.source, d.doc_id, d.n_chars, c.keep_id
         |  FROM docs d JOIN canon c USING (fp)),
         |ag AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |    CAST(sum(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END) AS BIGINT) AS dup_chars
         |  FROM j GROUP BY 1)
         |SELECT source, n_docs, dup_docs, n_chars, dup_chars,
         |  CASE WHEN n_chars > 0
         |    THEN CAST((CAST(dup_chars AS HUGEINT) * 1000000) // n_chars AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS waste_ppm
         |FROM ag""".stripMargin,
    "dedup_source_overlap" -> sourceOverlapOracleFrom(jaccardOracleSql),
    "dedup_ngram_jaccard" -> jaccardOracleSql,
    // prefix-filtered plan, identical exact result set
    "dedup_jaccard_ppjoin" -> jaccardOracleSql,
    "dedup_clusters" -> clustersOracleFrom(jaccardOracleSql),
    // the clusters CTE chain verbatim, then the keep-one election: longest
    // text wins, doc_id breaks ties; singletons are their own canon. A
    // singleton's doc_id can never collide with a cluster label (labels are
    // min MEMBER ids), so coalescing cluster_id to doc_id is collision-free.
    "dedup_canonical" -> canonicalOracleFrom(jaccardOracleSql),
    "dedup_minhash_lsh" -> minhashOracleSql(Bands, RowsPerBand),
    // the lsh oracle verbatim as a nested CTE, then the banded error agg —
    // Spark `div` and DuckDB `//` both truncate toward zero, so the signed
    // bias divides identically
    "dedup_minhash_calibration" ->
      s"""WITH mh AS (${minhashOracleSql(Bands, RowsPerBand)}),
         |e AS (SELECT CAST(floor(jacc*10) AS BIGINT) AS band,
         |    CAST(floor(est*1e6) AS BIGINT) - CAST(floor(jacc*1e6) AS BIGINT)
         |      AS err_ppm
         |  FROM mh)
         |SELECT band, count(*) AS n_pairs,
         |  CAST(sum(err_ppm) AS BIGINT) AS sum_err_ppm,
         |  CAST(sum(err_ppm) // count(*) AS BIGINT) AS bias_ppm,
         |  CAST(sum(abs(err_ppm)) // count(*) AS BIGINT) AS mae_ppm,
         |  CAST(max(abs(err_ppm)) AS BIGINT) AS max_abs_err_ppm
         |FROM e GROUP BY 1""".stripMargin,
    // both engines' NATIVE levenshtein over the same normalized text;
    // similarity stays integer ppm so the comparison is hash-exact
    "dedup_edit_distance" ->
      s"""WITH ${lshPairsCte(Bands, RowsPerBand)},
         |d AS (SELECT doc_id, $normSql AS nt FROM documents),
         |j AS (SELECT doc_a, doc_b,
         |    CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS lev,
         |    CAST(greatest(length(a.nt), length(b.nt)) AS BIGINT) AS ml
         |  FROM pairs JOIN d a ON doc_a = a.doc_id JOIN d b ON doc_b = b.doc_id),
         |sim AS (SELECT doc_a, doc_b, lev,
         |    CASE WHEN ml > 0 THEN 1000000 - (lev * 1000000 // ml)
         |         ELSE CAST(1000000 AS BIGINT) END AS sim_ppm
         |  FROM j)
         |SELECT doc_a, doc_b, lev, sim_ppm FROM sim
         |WHERE sim_ppm >= $EditSimTauPpm""".stripMargin,
    "dedup_semantic" ->
      s"""WITH ${lshPairsCte(Bands, RowsPerBand)},
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |en AS (SELECT vec_id, v, ${norm2Sql("v")} AS n2 FROM e),
         |c AS (SELECT doc_a, doc_b, ${dotSql("a.v", "b.v")} / sqrt(a.n2 * b.n2) AS cos
         |  FROM pairs JOIN en a ON doc_a = a.vec_id JOIN en b ON doc_b = b.vec_id)
         |SELECT doc_a, doc_b, floor(cos*1e6)/1e6 AS cos FROM c""".stripMargin,
    // structurally independent oracle: brute-force ALL pairs at the radius.
    // The Spark side only ever compares docs sharing a multi-chunk key, so
    // the banding's pigeonhole COMPLETENESS is what this check proves.
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |$simhashSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.sim, b.sim)) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= $SimhashRadius""".stripMargin,
    "dedup_embedding" -> embeddingOracleSql,
    // the blocked kernel computes the identical exact result set
    "dedup_embedding_blocked" -> embeddingOracleSql,
  )

  /** dedup_minhash_auto's generated oracle: only once its tuner has run in
    * this JVM, and only when exactly ONE sf dir tuned (Verify runs queries,
    * then dumps oracle_sql.json — so the SQL always restates the banding
    * the plan used, never another dataset's).
    */
  private def maybeAutoOracle: Map[String, String] = {
    val mh = if (mhTuneCache.size == 1) {
      val cfg = mhTuneCache.values.iterator.next()
      Map("dedup_minhash_auto" -> minhashOracleSql(cfg.bands, cfg.rows))
    } else Map.empty[String, String]
    // dedup_jaccard_auto's oracle restates the TUNED τ as a literal in the
    // plain full-pairwise SQL — same generated-oracle contract as minhash
    val jc = if (jaccTauCache.size == 1)
      Map("dedup_jaccard_auto" ->
        jaccardOracleSqlAt(jaccTauCache.values.iterator.next()))
    else Map.empty[String, String]
    mh ++ jc
  }

  private[operators] lazy val jaccardOracleSql: String = jaccardOracleSqlAt(0.5)

  private def jaccardOracleSqlAt(tau: Double): String =
    s"""WITH $docShinglesSql,
       |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ${jaccSql("a.shs", "b.shs")} AS jacc
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, floor(jacc*1e4)/1e4 AS jacc
       |FROM j WHERE jacc >= $tau""".stripMargin

  private[operators] lazy val embeddingOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, ${norm2Sql("v")} AS n2 FROM e),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${dotSql("a.v", "b.v")} / sqrt(a.n2 * b.n2) AS cos
       |  FROM en a JOIN en b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, floor(cos*1e6)/1e6 AS cos FROM p WHERE cos >= 0.40""".stripMargin

  // -------------------------------------------- pairs-parametric oracles
  /** The cross-source rollup / CC / canonical-election oracle bodies,
    * parametric in the near-dup PAIR source so the brute all-pairs SQL
    * (the driver-gate formulation) and the scale-affordable postings form
    * below plug into identical downstream algebra.
    */
  private def sourceOverlapOracleFrom(pairsSql: String): String =
    s"""WITH jp AS (SELECT doc_a, doc_b FROM (
       |$pairsSql
       |) j),
       |s AS (SELECT doc_id, source FROM documents),
       |x AS (SELECT least(sa.source, sb.source) AS source_a,
       |    greatest(sa.source, sb.source) AS source_b
       |  FROM jp JOIN s sa ON jp.doc_a = sa.doc_id
       |    JOIN s sb ON jp.doc_b = sb.doc_id
       |  WHERE sa.source <> sb.source)
       |SELECT source_a, source_b, count(*) AS n_pairs
       |FROM x GROUP BY 1, 2""".stripMargin

  private def clustersOracleFrom(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($pairsSql) jp),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach AS (
       |  SELECT doc, doc AS lbl FROM nodes
       |  UNION
       |  SELECT e.a AS doc, r.lbl FROM reach r JOIN edges e ON e.b = r.doc)
       |SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc""".stripMargin

  private def canonicalOracleFrom(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($pairsSql) jp),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS doc FROM edges),
       |reach AS (
       |  SELECT doc, doc AS lbl FROM nodes
       |  UNION
       |  SELECT e.a AS doc, r.lbl FROM reach r JOIN edges e ON e.b = r.doc),
       |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
       |alldocs AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
       |canon AS (SELECT cluster_id, doc_id AS canonical_id,
       |  row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM alldocs)
       |SELECT a.doc_id, a.cluster_id, c.canonical_id,
       |  CASE WHEN a.doc_id = c.canonical_id THEN 1 ELSE 0 END AS keep
       |FROM alldocs a JOIN canon c ON a.cluster_id = c.cluster_id AND c.rn = 1""".stripMargin

  // ------------------------------------------------------- scale oracles
  /** Scale-affordable restatement of the pairwise jaccard: the inverted-
    * postings equi-join (cost Σ_shingle df², near-linear on real corpora)
    * instead of the brute n²/2 all-pairs join. EXACTLY the same result
    * set: a pair appears iff it shares ≥ 1 distinct shingle (pairs with
    * i = 0 have jacc = 0 < τ and are absent from both forms), `i` is the
    * same distinct-intersection count `len(list_intersect)` computes, and
    * jacc is the same BIGINT-operand double division. Used for the sf1+
    * attestation (`tools/check_one.py --oracles=scale`), where the brute
    * form times out — the driver-gate oracle stays brute for structural
    * independence.
    */
  private[operators] def postingsJaccardSqlAt(tau: Double): String =
    s"""WITH $docShinglesSql,
       |n AS (SELECT doc_id, len(shs) AS n FROM s),
       |p AS (SELECT doc_id, unnest(shs) AS sh FROM s),
       |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b,
       |    CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jacc
       |  FROM c JOIN n na ON c.doc_a = na.doc_id JOIN n nb ON c.doc_b = nb.doc_id)
       |SELECT doc_a, doc_b, floor(jacc*1e4)/1e4 AS jacc
       |FROM j WHERE jacc >= $tau""".stripMargin

  /** All-pairs τ-cosine with DuckDB's NATIVE list_dot_product (measured
    * bit-identical to the sequential-fold dotSql on this data — same
    * multiply order, same left-to-right accumulation — and ~50× faster:
    * 200M 64-dim dots in 9 s), norms precomputed once per vector.
    */
  private[operators] lazy val embeddingScaleOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS cos
       |  FROM en a JOIN en b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, floor(cos*1e6)/1e6 AS cos FROM p WHERE cos >= 0.40""".stripMargin

  /** sf1+ attestation oracles for the members whose driver-gate oracles
    * are quadratic BY DESIGN (brute all-pairs / recursive-over-brute):
    * identical values, affordable plans. dedup_jaccard_auto follows the
    * generated-oracle contract (present only once its tuner has run).
    */
  def scaleOracles: Map[String, String] = {
    val postings = postingsJaccardSqlAt(0.5)
    val auto =
      if (jaccTauCache.size == 1)
        Map("dedup_jaccard_auto" ->
          postingsJaccardSqlAt(jaccTauCache.values.iterator.next()))
      else Map.empty[String, String]
    // same metrics, truth set restated through the postings join instead
    // of the all-pairs list_intersect (the postingsJaccardSqlAt discipline);
    // same generated-oracle contract as the driver-gate entry (omitted
    // when the pane cache is ambiguous)
    val recall = recallPaneWhereOpt.map { w =>
      "dedup_recall_eval" ->
        s"""WITH ${lshPairsCte(Bands, RowsPerBand, w)},
           |n AS (SELECT doc_id, len(shs) AS n FROM s),
           |p AS (SELECT doc_id, unnest(shs) AS sh FROM s),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |tp AS (SELECT doc_a, doc_b FROM (
           |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jacc
           |  FROM c JOIN n na ON c.doc_a = na.doc_id
           |  JOIN n nb ON c.doc_b = nb.doc_id) WHERE jacc >= 0.5),
           |nt AS (SELECT count(*) AS n_true FROM tp),
           |nc AS (SELECT count(*) AS n_cand FROM pairs),
           |nh AS (SELECT count(*) AS n_hit FROM pairs JOIN tp USING (doc_a, doc_b))
           |SELECT n_true, n_cand, n_hit,
           |  CASE WHEN n_true > 0 THEN n_hit * 1000000 // n_true
           |    ELSE CAST(0 AS BIGINT) END AS recall_ppm,
           |  CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand
           |    ELSE CAST(0 AS BIGINT) END AS precision_ppm
           |FROM nt, nc, nh""".stripMargin
    }.toMap
    auto ++ recall ++ Map(
      "dedup_ngram_jaccard" -> postings,
      "dedup_jaccard_ppjoin" -> postings,
      "dedup_source_overlap" -> sourceOverlapOracleFrom(postings),
      "dedup_clusters" -> clustersOracleFrom(postings),
      "dedup_canonical" -> canonicalOracleFrom(postings),
      "dedup_embedding" -> embeddingScaleOracleSql,
      "dedup_embedding_blocked" -> embeddingScaleOracleSql,
    )
  }
}
