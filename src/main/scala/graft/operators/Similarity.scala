package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}
import graft.functions.FloatVecDot

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * Cosine is computed as a *sequential* fold over double-cast
  * elements (`aggregate(zip_with(...))`) — the identical operation
  * order the DuckDB oracle uses (`list_reduce`) — so the resulting
  * doubles are bit-identical across engines and threshold/rank
  * decisions cannot diverge. Checked outputs expose similarity as
  * `floor(cs · 1e6)` (a long), never a raw double.
  *
  * Scale design: the brute-force path is the correctness baseline
  * (broadcast the query set, never self-shuffle the corpus); the LSH
  * path buckets by random-hyperplane signatures so candidate
  * generation is an equi-join — the 100 TB route. For billions of
  * vectors, swap the bucket key for IVF centroid ids learned offline;
  * the plan shape is unchanged.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  /** The `embedding` column as e6 fixed-point BIGINT components,
    * floor(v·1e6): the integer coordinates s26's Lloyd state and s29's
    * centroid moments (and its streaming twin) sum exactly. */
  val EmbeddingE6 =
    "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"

  /** Raw embeddings table (native expressions registered), WITHOUT
    * the fan-out or the norm projection — for consumers that keep
    * only a broadcast-joined handful of rows (round 16): computing
    * norms corpus-wide and then dropping all but the joined rows paid
    * a full per-vector pass for nothing at any scale. */
  private[operators] def vecs(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)

  /** Sequential double dot-product of two array<float> columns —
    * the native [[FloatVecDot]] expression (bit-identical to the
    * `aggregate(zip_with(...))` HOF form it replaced, ~100x faster). */
  private def dotExpr(a: String, b: String): String =
    s"float_dot($a, $b)"

  /** Public corpus-with-norm frame + dot kernel for cross-module
    * composition (i11 scores a BM25 shortlist in embedding space). */
  def vecsWithNorm(s: SparkSession, dir: String): DataFrame =
    withNorm(emb(s, dir))
  def dotSql(a: String, b: String): String = dotExpr(a, b)

  /** (vec_id, nrm) for every corpus vector — the quality signal
    * [[graft.operators.DupCluster.keepBestEmbedding]] ranks cluster
    * members by. */
  def vecNorms(s: SparkSession, dir: String): DataFrame =
    withNorm(emb(s, dir)).select(col("vec_id"), col("nrm"))

  /** Corpus with a precomputed L2 norm column — one norm per vector
    * instead of one per pair (bitwise-identical result: same sqrt on
    * the same fold). */
  private def withNorm(df: DataFrame): DataFrame =
    graft.operators.TextHash.fanOut(df)
      .withColumn("nrm", expr(s"sqrt(${dotExpr("embedding", "embedding")})"))

  /** Hard corpus-size bound for [[embeddingNearDups]]'s all-pairs
    * baseline. 20k vectors ≈ 2·10⁸ candidate pairs — minutes on one
    * node, and the largest size at which an exact baseline is still a
    * useful oracle. Above it the O(n²) plan is refused outright: the
    * scale paths ([[embeddingNearDupsBucketed]], [[annLshTopK]],
    * [[annIvfTopK]]) exist precisely so nobody points a quadratic
    * join at a real corpus by accident. */
  val MaxBruteForceVectors = 20000L

  /** Embedding-cosine near-duplicate pairs (cs ≥ 0.4) — brute-force
    * exact baseline. The n² pair space only exists pre-aggregation
    * inside a single stage; at scale use [[embeddingNearDupsBucketed]]
    * (same output contract, equi-join candidates). Guarded: corpora
    * above [[MaxBruteForceVectors]] are refused with a clear error
    * (the one cheap count against the parquet footer is the price of
    * making the quadratic plan impossible to launch by accident). */
  def embeddingNearDups(s: SparkSession, dir: String,
      maxVectors: Long = MaxBruteForceVectors): DataFrame = {
    val corpus = emb(s, dir)
    val n = corpus.count() // parquet metadata count — no column read
    require(n <= maxVectors,
      s"embeddingNearDups is the O(n²) exact baseline and is capped at " +
        s"$maxVectors vectors (corpus has $n); use " +
        "embeddingNearDupsBucketed / annLshTopK / annIvfTopK at scale")
    // persisted: both pair sides share one norm-computation pass
    val e = withNorm(corpus).transform(Caches.persist)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
        (expr(dotExpr("a.embedding", "b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cs"))
      .filter(col("cs") >= 0.4)
      .select(col("ida"), col("idb"),
        floor(col("cs") * 1000000).cast("long").as("cs_e6"))
      .orderBy("ida", "idb")
  }

  /** Bits per LSH band for a corpus of `n` vectors: the smallest
    * width ≥ 4 that keeps expected bucket size ≤ [[LshTargetBucket]]
    * (band buckets are balanced — random hyperplanes — so expected ≈
    * actual). Candidate generation costs Θ(n²/2^nbits) per band;
    * growing nbits with log₂(n) is what makes the bucket join's
    * output near-LINEAR in corpus size instead of quadratic — the sf1
    * telemetry caught the fixed-4-bit version growing candidates ×98
    * on a ×10 corpus (BASELINE.md sf1 section). At the driver gate
    * scales (n ≤ 2 000) the rule resolves to 4, i.e. exactly the
    * original 16-bit signature. The 1e-9 nudge keeps the Scala and
    * DuckDB `ceil(log2(…))` evaluations from straddling an integer
    * boundary when n/64 is an exact power of two. The recall cost of
    * wider bands is the documented LSH trade: P(pair survives) =
    * 1−(1−p^nbits)⁴ with p = 1−θ/π — at this corpus's planted-dup
    * similarity (cs 0.4–0.6) recall decays as the corpus grows, which
    * is the information-theoretic price of sub-quadratic candidate
    * generation at low thresholds (Indyk–Motwani ρ exponent); true
    * near-dup regimes (cs ≥ 0.9, p ≥ 0.86) hold recall far longer. */
  private def lshBandBits(n: Long): Int = {
    val m = (n + LshTargetBucket - 1) / LshTargetBucket
    math.max(4,
      math.ceil(math.log(m.toDouble) / math.log(2.0) - 1e-9).toInt)
  }

  /** Target expected bucket width for [[lshBandBits]]. */
  val LshTargetBucket = 64L

  /** Shared top-k of the two approximate paths (s02 LSH, s03 IVF)
    * and the recall-eval family (s14/s18/s20/s21) that scores them.
    * The DuckDB oracles interpolate BOTH the rank cutoff and the exact
    * recall multiplier (1e6 div k) from this constant, so changing it
    * cannot desynchronize engine and oracle (the ADVICE r8 finding:
    * the oracles hardcoded 200000 while the Spark side computed
    * 1000000/k from a parameter). recall_e6 = hits · (1e6 div k) is
    * exact only while k divides 1e6. */
  val RecallK = 5
  require(1000000 % RecallK == 0,
    s"recall_e6 exactness needs k | 1e6, got $RecallK")

  /** The recall family's ground truth: s01's exact top-[[RecallK]]
    * pairs, persisted for each consumer's overlap joins and roster. */
  private def recallTruth(s: SparkSession, dir: String): DataFrame =
    annTopK(s, dir, RecallK).select("query_id", "neighbor_id")
      .transform(Caches.persist)

  /** The other fixed operating points, each interpolated into its
    * oracle: the coarse cells an IVF query probes (s03, s07 and s14's
    * IVF column), the neighbors per vector of the s09 kNN graph (so
    * the degree bound of its consumers), and the top-k of the PQ-ADC
    * searches (s06, s07), of s08's fused ranking and of s19. */
  val IvfNprobe = 4
  val KnnK = 3
  val PqTopK = 5
  val HybridK = 20
  val FilteredAnnK = 5

  /** Dense-band-bucket cap for d08 — same production rule (and same
    * oracle QUALIFY mirror) as d04's SimHash cap: a bucket holding
    * more vectors than this is a degenerate mass-duplication cell
    * whose pairs are recoverable via their other bands; pairing
    * inside it is quadratic. Never binds at the correctness-gate
    * scales (max bucket ≈ 117 at sf0.1). */
  private val LshBucketCap = 500

  /** d08: LSH-bucketed embedding near-dup pairs — the 100 TB route
    * that replaces [[embeddingNearDups]]'s all-pairs baseline.
    * Candidates are vector pairs sharing ≥ 1 of four `nbits`-bit bands
    * of the random-hyperplane signature (`lsh_bands`, an equi-join on
    * (band_idx, band_key) — never a corpus cross join), with
    * [[lshBandBits]] scaling the band width so candidate volume stays
    * near-linear in corpus size and [[LshBucketCap]] skipping
    * degenerate mass-dup buckets; exact sequential-fold cosine then
    * reranks candidates only and keeps cs ≥ 0.4. Everything is
    * deterministic LCG math driven off the corpus row count, so the
    * DuckDB oracle applies the identical width rule, banding and cap
    * (same pattern as d04's SimHash bands) and the gate checks the
    * full candidates+rerank semantics exactly. Recall vs the exact
    * baseline is the documented LSH trade (OperatorsSpec's
    * "bucketed embedding near-dups are a non-empty subset of brute
    * force" pins containment: no invented pairs). */
  def embeddingNearDupsBucketed(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupsBucketedMemo.refresh(s, dir)

  /** The d08 pair frame: the gated d08 entry always rebuilds and
    * refreshes it; [[DupCluster]]'s d09 fixpoint consumes it. */
  private[graft] val embeddingNearDupsBucketedMemo =
    Memo("neardup_bucketed") { (s, dir) =>
      bucketedScoredPairs(s, dir)
        .filter(col("cs") >= 0.4)
        .select(col("ida"), col("idb"),
          floor(col("cs") * 1000000).cast("long").as("cs_e6"))
        .orderBy("ida", "idb")
    }

  /** Shared core of d08 and s09: exact cosine over the LSH-band
    * candidate pairs (ida < idb, un-thresholded). ONE definition of
    * the band-width rule + dense-bucket cap + rerank, so the two
    * consumers cannot drift. */
  private def bucketedScoredPairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = emb(s, dir)
    val nbits = lshBandBits(corpus.count()) // parquet metadata count
    // persisted: band explosion + both rerank sides share one
    // norm+signature pass
    val e = withNorm(corpus).transform(Caches.persist)
    val bands = e.select(col("vec_id"),
        posexplode(expr(s"lsh_bands(embedding, $nbits)")))
      .toDF("vec_id", "band_idx", "band_key")
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band_idx"), col("band_key"))))
      .filter(col("bucket_n") <= LshBucketCap)
      .drop("bucket_n")
      // persisted: the self-join would otherwise pay the bucket-count
      // window shuffle twice (same idiom as d04's bands)
      .transform(Caches.persist)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"))
      .distinct()
    cand
      .join(e.as("sa"), col("ida") === col("sa.vec_id"))
      .join(e.as("sb"), col("idb") === col("sb.vec_id"))
      .select(col("ida"), col("idb"),
        (expr(dotExpr("sa.embedding", "sb.embedding")) /
          (col("sa.nrm") * col("sb.nrm"))).as("cs"))
  }

  /** s09: k-NN graph construction — every corpus vector's top-k
    * nearest neighbors, the all-vectors sibling of the fixed-query-set
    * ANN searches (s01–s03) and the substrate embedding clustering,
    * label propagation, and UMAP-style layout consume. Candidates come
    * from the same LSH band equi-join + exact-cosine rerank as d08
    * ([[bucketedScoredPairs]] — one definition of the band rule);
    * each undirected candidate pair feeds BOTH endpoints' neighbor
    * lists, and a per-vector window rank keeps k. Approximation is
    * the documented LSH recall trade: a vector's true k-th neighbor
    * outside every shared band is missed — the price of candidate
    * generation staying near-linear (BASELINE sf1 telemetry).
    *
    * Scale shape: the rank window partitions by vec_id over candidate
    * edges only (≈ linear in corpus size by the band-width rule), so
    * no stage ever holds the corpus: the same per-vector top-k would
    * run as a per-shard partial top-k merge at 100 TB. Deterministic
    * tie-break (cs desc, neighbor asc) keeps the oracle exact.
    *
    * Build-once convention (the DupCluster.clusters posture): THIS
    * entry always rebuilds — the gated s09 query is the graph build,
    * so its bench cost stays honest — and refreshes [[knnGraphMemo]],
    * through which the six derived consumers (s10/s11-via-mutual/s13/
    * s15/s22/s23) reuse a same-(session, dir) frame, exactly as a
    * production pipeline writes the graph stage once and reads it from
    * storage. Round-8 telemetry: the seven graph-family queries each
    * rebuilt the same ~90 MB of band/score intermediates — 26.4 s of
    * the 184.7 s sf0.1 bench — for an identical n·k result. The result
    * is localCheckpoint-materialized (n·k rows — tiny), so the
    * build's scope frees its signature/band/scored caches as it
    * returns. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphMemo.refresh(s, dir)

  private[graft] val knnGraphMemo =
    Memo[DataFrame]("knn_graph") { (s, dir) =>
      // persisted for the build: the symmetrizing union reads the
      // scored pairs twice
      val scored = bucketedScoredPairs(s, dir).transform(Caches.persist)
      val edges = scored.select(
          col("ida").as("vec_id"), col("idb").as("neighbor_id"), col("cs"))
        .union(scored.select(
          col("idb").as("vec_id"), col("ida").as("neighbor_id"), col("cs")))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cs").desc, col("neighbor_id"))
      edges.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= KnnK)
        .select(col("vec_id"), col("neighbor_id"), col("rank"),
          floor(col("cs") * 1000000).cast("long").as("cs_e6"))
        .orderBy("vec_id", "rank")
    }

  /** s10: mutual-k-NN filter — the symmetrization step every
    * kNN-graph consumer (agglomerative/community clustering, UMAP
    * graph layout, diversity filters) runs before using the [[knnGraph]]
    * output: keep edge (a,b) only when b is in a's top-k AND a is in
    * b's top-k. Reciprocated edges are the high-precision core of the
    * graph — a hub vector that appears in thousands of neighbor lists
    * without reciprocating contributes no mutual edge, which is
    * exactly the hubness suppression the filter exists for.
    *
    * Scale shape: one memoized [[knnGraph]] (checkpoint-materialized,
    * shared by both sides of the plan), then an equi-self-
    * join on the reversed (vec_id, neighbor_id) key — at most n·k
    * rows per side, never corpus-quadratic. Output is one row per
    * undirected mutual edge (ida < idb) carrying both directions'
    * ranks, so downstream consumers keep the asymmetry information. */
  def mutualKnn(s: SparkSession, dir: String): DataFrame = {
    // both sides of the reciprocity join read the memoized graph —
    // already checkpoint-materialized, so no extra persist is needed
    val g = knnGraphMemo(s, dir)
    g.as("f").join(g.as("r"),
        col("f.vec_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.vec_id"))
      .filter(col("f.vec_id") < col("f.neighbor_id"))
      .select(col("f.vec_id").as("ida"), col("f.neighbor_id").as("idb"),
        col("f.rank").as("rank_ab"), col("r.rank").as("rank_ba"),
        col("f.cs_e6"))
      .orderBy("ida", "idb")
  }

  /** s13: kNN degree / hubness report — per vector with a neighbor
    * list: its out-degree (list size ≤ k), in-degree (how many other
    * lists it appears in), and mutual degree (reciprocated edges).
    * In-degree is the hubness measure: high-dimensional kNN graphs
    * concentrate in-links on a few "hub" vectors (Radovanović et al.,
    * JMLR 2010), and hubs with `in_deg` far above k contribute noise
    * edges to every consumer — exactly what the s10 mutual filter
    * removes (its effect is visible here as `mutual_deg ≪ in_deg` on
    * hubs). The `is_hub` flag marks `in_deg > 2k`.
    *
    * Scale shape: every aggregate groups the n·k edge frame by an id
    * key (one shuffle each over n·k rows); the reciprocity join is
    * the same n·k equi-self-join as s10. Nothing corpus-quadratic. */
  def knnDegrees(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraphMemo(s, dir) // checkpoint-materialized

    val outd = g.groupBy("vec_id").agg(count(lit(1)).as("out_deg"))
    val ind = g.groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_deg"))
    val mdeg = g.as("f").join(g.as("r"),
        col("f.vec_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.vec_id"))
      .select(col("f.vec_id").as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("mutual_deg"))
    outd.join(ind, Seq("vec_id"), "left")
      .join(mdeg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("mutual_deg"), lit(0L)).as("mutual_deg"),
        (coalesce(col("in_deg"), lit(0L)) > 2 * KnnK).cast("int").as("is_hub"))
      .orderBy("vec_id")
  }

  /** s24: triangle count + local clustering coefficient over the s10
    * mutual-kNN graph — the local-density signal that separates a
    * vector sitting inside a tight semantic clique (neighbors that
    * are also each other's neighbors → candidate redundancy for
    * SemDeDup-style pruning, s12's unit) from one on a sparse chain
    * (bridge/outlier — the s23 complement). Per edge-bearing vector:
    * its mutual degree, the number of mutual triangles through it,
    * and the exact-integer coefficient floor(2e6·t / (d·(d−1)))
    * (0 when d < 2).
    *
    * Scale shape: the textbook ordered-wedge join — edges are kept
    * (ida < idb), wedges form at each pair's LOWEST vertex via one
    * equi-self-join on ida (b < c orders the wedge), and each wedge
    * is closed by one equi-join against the edge list on (b, c), so
    * every triangle is found exactly once as a < b < c. Because
    * mutual edges are a subset of the per-vector top-k, degree ≤ k
    * by construction — wedge fanout is ≤ C(k,2) per vertex and the
    * whole computation is LINEAR in corpus size, not the m^1.5 of
    * general graphs. Consumes the memoized s09 graph via
    * [[mutualKnn]]; nothing here touches the corpus itself. */
  def knnTriangles(s: SparkSession, dir: String): DataFrame = {
    val m = mutualKnn(s, dir).select(col("ida"), col("idb"))
    val tri = m.as("e1")
      .join(m.as("e2"),
        col("e1.ida") === col("e2.ida") && col("e1.idb") < col("e2.idb"))
      .select(col("e1.ida").as("a"), col("e1.idb").as("b"),
        col("e2.idb").as("c"))
      .join(m.as("e3"),
        col("b") === col("e3.ida") && col("c") === col("e3.idb"))
      .select(col("a"), col("b"), col("c"))
    val tcnt = tri.select(col("a").as("vec_id"))
      .union(tri.select(col("b").as("vec_id")))
      .union(tri.select(col("c").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("triangles"))
    val deg = m.select(col("ida").as("vec_id"))
      .union(m.select(col("idb").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    deg.join(tcnt, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lc_e6",
        when(col("deg") >= 2,
          expr("(2000000L * triangles) div (deg * (deg - 1))"))
          .otherwise(0L))
      .orderBy("vec_id")
  }

  /** Fixed synchronous label-propagation rounds for s25 — shared with
    * the unrolled DuckDB oracle so engine and oracle cannot drift. A
    * fixed count (not convergence) keeps the result deterministic and
    * the oracle expressible; 3 rounds spread labels over a diameter-3
    * neighborhood, enough to agree with s11's components on tight
    * cliques while still splitting chains the CC relation glues. */
  val LpaIters = 3

  /** s25: community detection by synchronous label propagation
    * (Raghavan et al. 2007) over the s10 mutual-kNN graph — the
    * modularity-style grouping that complements s11's connected
    * components: CC glues everything reachable (one stray mutual edge
    * merges two topics), while LPA's majority vote keeps densely
    * intra-linked regions separate. Deterministic variant: labels
    * start as vec_id; each round every edge-bearing vertex adopts the
    * most frequent label among its mutual neighbors, ties broken by
    * the smallest label; exactly [[LpaIters]] synchronous rounds.
    *
    * Scale shape: s22's per-iteration discipline — each round is one
    * equi-join of the n·k symmetric edge list against the n-row label
    * frame followed by a partial-agg'd count and a per-vertex
    * row_number window (all keyed on vertex id, never corpus-
    * quadratic, no driver-side state). The edge list is built once
    * from the memoized s09 graph and persisted across rounds. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val m = mutualKnn(s, dir).select(col("ida"), col("idb"))
    val edges = m.select(col("ida").as("src"), col("idb").as("dst"))
      .union(m.select(col("idb").as("src"), col("ida").as("dst")))
      .transform(Caches.persist) // one materialization feeds all LpaIters rounds
    // symmetric list ⇒ distinct src IS the edge-bearing vertex set
    var labels = edges.select(col("src").as("vec_id")).distinct()
      .withColumn("lab", col("vec_id"))
    for (_ <- 1 to LpaIters) {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("n").desc, col("lab"))
      labels = edges.join(labels, edges("src") === labels("vec_id"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("n"))
        .select(col("dst").as("vec_id"), col("lab"), col("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("lab"))
    }
    labels
      .withColumn("comm_n",
        count(lit(1)).over(Window.partitionBy(col("lab"))))
      .select(col("vec_id"), col("lab").as("comm"), col("comm_n"))
      .orderBy("vec_id")
  }

  /** Brute-force cosine top-k: queries (vec_id < 10) against the whole
    * corpus. The query side is tiny → broadcast; the corpus streams
    * through one narrow stage; ranking shuffles only (q, k) rows. */
  def annTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // persisted: query side and corpus side share one norm pass
    val e = withNorm(emb(s, dir)).transform(Caches.persist)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val scored = e.as("c").join(broadcast(q), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (expr(dotExpr("qv", "c.embedding")) /
          (col("qnrm") * col("c.nrm"))).as("cs"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        floor(col("cs") * 1000000).cast("long").as("cs_e6"))
      .orderBy("query_id", "rank")
  }

  /** IVF-bucketed ANN — the billion-vector scale path. The corpus is
    * partitioned once by nearest coarse centroid (`ivf_assign(e, 1)`),
    * a query probes its [[IvfNprobe]] nearest centroid buckets, and exact
    * cosine re-ranks only those buckets' vectors: candidate generation
    * is an equi-join on the centroid id, cost ≈ nprobe/K of brute
    * force. Centroids here are deterministic pseudo-random (oracle-
    * checkable); production swaps in offline-trained k-means centroids
    * with the identical plan shape. */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir))
      .withColumn("bucket", expr("ivf_assign(embedding, 1)[0]"))
      .transform(Caches.persist) // corpus + query branches share one assignment pass
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"),
        explode(expr(s"ivf_assign(embedding, $IvfNprobe)")).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    e.join(q, Seq("bucket")) // equi-join on the coarse-quantizer cell
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(dotExpr("qv", "embedding")) /
          (col("qnrm") * col("nrm"))).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RecallK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        floor(col("cs") * 1000000).cast("long").as("cs_e6"))
      .orderBy("query_id", "rank")
  }

  /** s04: distributed centroid computation — the M-step of k-means
    * over the IVF coarse quantizer's assignment: per (bucket, dim),
    * the member count and coordinate mean. At a billion vectors this
    * is THE canonical "train the index" job: one narrow assignment
    * pass, one shuffle of (bucket, dim, scaled-int) triples, partial
    * aggregation map-side. Coordinates sum as floor(x·1e6) longs —
    * integer addition is associative, so the distributed sum is exact
    * and engine-portable (a double sum's value would depend on
    * partitioning). */
  def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextHash.fanOut(emb(s, dir))
      .withColumn("bucket", expr("ivf_assign(embedding, 1)[0]"))
      .select(col("bucket"), posexplode(col("embedding")))
      .toDF("bucket", "dim", "v")
      .groupBy("bucket", "dim")
      .agg(count(lit(1)).as("n_vectors"),
        sum(floor(col("v").cast("double") * 1000000).cast("long")).as("sum_e6"))
      .select(col("bucket").cast("int").as("bucket"),
        col("dim").cast("int").as("dim"),
        col("n_vectors"), col("sum_e6"),
        floor(col("sum_e6") / col("n_vectors")).cast("long").as("mean_e6"))
      .orderBy("bucket", "dim")

  /** s26 geometry, shared with the unrolled oracle. [[KmeansK]] is
    * the FLOOR of the data-derived cluster count: K = clamp(
    * ceil(n_vectors / [[SemDedupChunkTarget]]), KmeansK, KmeansKMax)
    * — the SemDeDup paper grows K with the corpus (50k clusters over
    * 5B embeddings ≈ 100k-wide clusters); aligning the width with the
    * d21 chunk target means clusters sit AT the chunk size on
    * average, so the chunk layer rarely splits one (semantic recall
    * stays near 1 — BASELINE.md §sf1 scale-stress) and remains purely the
    * skew backstop. At the graded gate and bench dirs the clamp floor
    * applies (n ≤ 2048 → K = 8); at the ×10/×30 scale dirs K is
    * genuinely data-derived (79 / 235). */
  val KmeansK = 8
  val KmeansRounds = 2

  /** K ceiling: 16384 centroids × 64 dims × 8 B ≈ 8 MB — the largest
    * state the per-round assignment broadcast should carry. Past it
    * (corpora beyond ~4M vectors at the current width) a deployment
    * re-widens clusters rather than outgrowing the broadcast class —
    * the d21 chunk layer keeps the pair budget linear either way. */
  val KmeansKMax = 16384L

  /** Build-once Lloyd state — the 2-round EM loop that s26, s27 AND
    * d21 each rebuilt (~2 s each at sf0.1, ~5 s at sf1): exactly as a
    * production pipeline trains the clustering once and every
    * downstream stage reads the assignment from storage. Holds the
    * final per-(bucket, dim) stats and the final-round assignment
    * (vec_id, bucket, d2) — the checkpointed assignment drops the
    * 64-long component array, so the blocks are 3 longs per vector.
    * The gated s26 entry pays the honest rebuild through `refresh`;
    * the derived consumers (s27's quality report, d21's semantic
    * dedup) read the memo. */
  private[graft] val lloydStateMemo = Memo("lloyd_state") { (s, dir) =>
    val x = graft.operators.TextHash.fanOut(emb(s, dir))
      .select(col("vec_id"), expr(EmbeddingE6).as("x"))
      .transform(Caches.persist) // both assignment rounds scan the e6 components
    // data-derived K (see the KmeansK scaladoc): a 1-row scalar —
    // x30's idiom — so K never touches the driver; first-K init
    // (vec_id < K, ids dense 0-based by fixture convention) keeps the
    // deterministic SQL-expressible rule
    val kRow = x.agg(count(lit(1)).as("nv"))
      .select(greatest(lit(KmeansK.toLong), least(lit(KmeansKMax),
        expr(s"(nv + ${SemDedupChunkTarget - 1}L) div " +
          s"${SemDedupChunkTarget}L"))).as("kk"))
    // loop state: (bucket, dim, n_vectors, mean_e6) — first-K init
    // with n_vectors = 0 (nothing assigned yet)
    var stats = x.crossJoin(broadcast(kRow))
      .filter(col("vec_id") < col("kk"))
      .select(col("vec_id").cast("int").as("bucket"),
        posexplode(col("x")).as(Seq("dim", "mean_e6")))
      .withColumn("n_vectors", lit(0L))
    var lastAssigned: DataFrame = null
    for (_ <- 1 to KmeansRounds) {
      // the K centroids as ONE bucket-sorted row: array of (bucket, c)
      val centArr = stats.groupBy("bucket").agg(expr(
          "transform(array_sort(collect_list(struct(dim, mean_e6))), p -> p.mean_e6)")
          .as("c"))
        .agg(expr("array_sort(collect_list(struct(bucket, c)))").as("cents"))
      // map-side argmin over the bucket-ascending centroid array with
      // a strict `<` — ties keep the FIRST (= smallest bucket), the
      // same (d2, bucket) rule the oracle's row_number applies; the
      // codegen'd expression keeps the whole pass allocation-free
      val assigned = x.crossJoin(broadcast(centArr))
        .withColumn("best", expr("lloyd_argmin(x, cents)"))
        .select(col("vec_id"), col("x"),
          col("best.bucket").as("bucket"), col("best.d2").as("d2"))
      lastAssigned = assigned
      val means = assigned
        .select(col("bucket"), posexplode(col("x")).as(Seq("dim", "xv")))
        .groupBy("bucket", "dim")
        .agg(count(lit(1)).as("n"), sum("xv").as("sm"))
      stats = stats.select(col("bucket"), col("dim"),
          col("mean_e6").as("prev"))
        .join(means, Seq("bucket", "dim"), "left")
        .select(col("bucket"), col("dim"),
          coalesce(col("n"), lit(0L)).as("n_vectors"),
          coalesce(floor(col("sm") / col("n")).cast("long"), col("prev"))
            .as("mean_e6"))
    }
    (stats, lastAssigned.select(col("vec_id"), col("bucket"), col("d2")))
  }

  /** s26: full Lloyd k-means — [[KmeansRounds]] complete EM rounds
    * (assignment + M-step), where s04/[[ivfCentroids]] is the M-step
    * alone. First-K init (centroids = the e6-floored embeddings of
    * vec_id 0..K−1 — deterministic and SQL-expressible, unlike a
    * seeded k-means++); per round every vector joins the broadcast
    * K-row centroid table, takes the argmin squared distance (ties →
    * smallest bucket), and the M-step reduces (bucket, dim, x_e6)
    * triples with partial aggregation. An empty cluster keeps its
    * previous centroid (n_vectors = 0 in the output).
    *
    * Exact-integer discipline: components are floored at e6 ONCE
    * (x_e6 = floor(v·1e6)), distances are Σ(x−c)² in BIGINT (≤ 64 ·
    * (2e6)² ≈ 2.6e14), means are floor(sum/n) — identical arithmetic
    * in DuckDB, so a 2-round fixed point crosses the hash gate.
    *
    * Scale shape: the canonical distributed EM loop — per round ONE
    * narrow MAP-SIDE assignment pass over the corpus and ONE
    * partial-agg'd shuffle of (bucket, dim) keys. The K centroids ride
    * a SINGLE broadcast row as a bucket-sorted array-of-arrays (the
    * x30/StreamLeak scalar idiom — ≤ [[KmeansKMax]]·dims longs ≈ 8 MB)
    * and each vector takes its argmin over that array in place via
    * the codegen'd [[graft.functions.LloydArgmin]] expression —
    * exactly ONE (bucket, d2) per vector, no n·K row explosion, no
    * window, no exchange, and no per-pair boxing (the interpreted
    * `aggregate(transform(…zip_with…))` fold this replaced allocated
    * a boxed 64-long array per (vector, centroid) pair — 1.6× slower
    * at the ×10 dir). (Round 12 shipped a crossJoin + `row_number`
    * argmin that shuffled n·K rows per round — n²/256 under the
    * data-derived K — the one 100-TB killer the round-12 verdict
    * named; this is the fix, and the MLlib KMeans broadcast-centroids
    * shape minus its driver-side collect per round.) Centroid state
    * lives in the plan (K·dims rows), never on the driver. */
  def kmeansLloyd(s: SparkSession, dir: String): DataFrame = {
    val (stats, _) = lloydStateMemo.refresh(s, dir)
    stats.select(col("bucket"), col("dim").cast("int").as("dim"),
        col("n_vectors"), col("mean_e6"))
      .orderBy("bucket", "dim")
  }

  /** s27: k-means assignment-quality report — the evaluation half of
    * s26 (the s15/s14 pattern applied to the trained clustering): per
    * bucket of the FINAL Lloyd assignment, the member count, the
    * inertia (within-cluster sum of squared distances — the quantity
    * an elbow plot tracks across K), and the tightest/loosest member.
    * Inertia sums `d2 div 1000` PER MEMBER before the aggregate: each
    * d2 ≤ 64·(2e6)² ≈ 2.6e14, so the scaled per-bucket sum stays
    * inside BIGINT to ~3×10¹⁵ members — and the element-wise floor is
    * the same integer op in both engines, keeping the gate exact
    * (summing raw d2 would overflow BIGINT near 35k members).
    *
    * Scale shape: one aggregate over the assignment frame s26 already
    * computes (K-row broadcast, no extra shuffle class); output is K
    * rows. Empty clusters report n_vectors = 0. */
  def kmeansQuality(s: SparkSession, dir: String): DataFrame = {
    val (stats, assigned) = lloydStateMemo(s, dir)
    val perBucket = assigned.groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"),
        sum(expr("d2 div 1000")).as("inertia_k"),
        min("d2").as("min_d2"), max("d2").as("max_d2"))
    // roster = the K init buckets the state carries (K is data-derived
    // now, so range(K) is no longer statically known)
    val roster = stats.select(col("bucket")).distinct()
    roster.join(perBucket, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
        coalesce(col("inertia_k"), lit(0L)).as("inertia_k"),
        coalesce(col("min_d2"), lit(0L)).as("min_d2"),
        coalesce(col("max_d2"), lit(0L)).as("max_d2"))
      .orderBy("bucket")
  }

  /** d21 semantic-dup cosine bar — d05's near-dup threshold, so the
    * SemDeDup containment pin (d21 ⊆ d05 within co-clustered pairs)
    * compares like with like. Interpolated into the oracle. */
  val SemDedupTau = 0.4

  /** d21 target chunk width: each k-means cluster is split into
    * ceil(n_members / this) hash-assigned sub-chunks before the pair
    * self-join, so the pair budget is ~n·[[SemDedupChunkTarget]]/2 —
    * LINEAR in the corpus — instead of Σ(n_k²)/2, which at fixed K is
    * (n/K)²·K/2 (×100 pair growth on ×10 data before this bound
    * existed — BASELINE.md §sf1 scale-stress). This is the paper's own cluster-
    * chunking mitigation (Abbas et al. 2023 §3 run the within-cluster
    * search on bounded blocks); the recall trade is the standard one
    * — a dup pair split across chunks is missed — and is uniform
    * (hash assignment), not adversarial. Interpolated into the
    * oracle, so both engines chunk identically. */
  val SemDedupChunkTarget = 256L

  /** d21 hard chunk cap for the in-plan guard: 8× the target. Hash
    * assignment (LCG on vec_id, [[SemDedupChunkTarget]]-sized
    * expected chunks) concentrates this far above target only under
    * pathological id patterns; if it ever happens the query FAILS
    * (assert_true in the plan — no driver action) rather than
    * returning results from a quadratic chunk, the d05
    * MaxBruteForceVectors discipline. (Under AQE the pair-join
    * shuffle stages can materialize concurrently with the guard job,
    * so the guarantee is that no over-cap RESULT is ever served —
    * some quadratic work may already be in flight when the assert
    * fires.) */
  val SemDedupMaxChunk = 8L * SemDedupChunkTarget

  /** d21's chunk-cap refusal as a 1-row guard frame over any
    * (bucket, chunk) membership frame — factored so the guard-sweep
    * spec can fire it on a synthetic over-cap input (and so the
    * message text lives in exactly one place). coalesce: max(cn)
    * over an EMPTY corpus is NULL and assert_true throws on a NULL
    * condition — an empty corpus must return 0 rows, not error. */
  private[graft] def chunkCapGuard(ec: DataFrame): DataFrame =
    ec.groupBy(col("bucket"), col("chunk"))
      .agg(count(lit(1)).as("cn")).agg(max(col("cn")).as("mx"))
      .select(assert_true(coalesce(col("mx"), lit(0L)) <= SemDedupMaxChunk,
        concat(lit(s"semanticDedup chunk over the $SemDedupMaxChunk hard " +
          "cap (LCG skew): "), col("mx"))).as("chunk_ok"))

  /** The final Lloyd assignment (vec_id, bucket) d21 buckets on —
    * exposed so specs can pin d21's clusters and pair budget. */
  private[graft] def semanticDedupAssignment(
      s: SparkSession, dir: String): DataFrame =
    lloydStateMemo(s, dir)._2.select(col("vec_id"), col("bucket"))

  /** The d21 chunk rule on any (vec_id, bucket, …) frame: append a
    * `chunk` id so each bucket splits into ceil(bn /
    * [[SemDedupChunkTarget]]) hash-assigned sub-chunks. Factored out
    * so the gated query and the Round11Spec pair-budget pin apply
    * LITERALLY the same rule. The sizes side is
    * |buckets| rows (K for d21) — AQE broadcasts it. */
  private[graft] def withSemDedupChunk(a: DataFrame): DataFrame = {
    val sizes = a.groupBy("bucket").agg(count(lit(1)).as("bn"))
    a.join(sizes, "bucket")
      .withColumn("n_chunks", expr(
        s"(bn + ${SemDedupChunkTarget - 1}L) div ${SemDedupChunkTarget}L"))
      .withColumn("chunk", expr(
        s"((vec_id % ${TextHash.P}L) * 2654435761L) % ${TextHash.P}L % n_chunks"))
      .drop("bn", "n_chunks")
  }

  /** d21's chunked pair space: per (bucket, chunk) the member count —
    * exposed so Round11Spec can pin the pair budget
    * Σ cn·(cn−1)/2 ≤ n·[[SemDedupChunkTarget]] (the linear bound the
    * chunk layer guarantees) without re-deriving the chunk rule. */
  private[graft] def semanticDedupChunks(
      s: SparkSession, dir: String): DataFrame =
    withSemDedupChunk(semanticDedupAssignment(s, dir))
      .groupBy("bucket", "chunk")
      .agg(count(lit(1)).as("cn"))

  /** d21: SemDeDup — Abbas et al. (2023) "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication": partition
    * the corpus with k-means (the s26 Lloyd assignment, reused
    * verbatim), then find near-identical pairs ONLY within each
    * cluster and mark every non-lowest member for removal. The third
    * embedding-dedup mechanism alongside d05 (exhaustive baseline,
    * guarded) and d08 (LSH bands): LSH buckets by random hyperplanes
    * and must union 4 band views; SemDeDup buckets by LEARNED
    * structure, which is why it became the standard curation pass for
    * web-scale image/text corpora — clusters align with content, so a
    * tiny within-cluster search catches what matters at a fraction of
    * the candidate volume.
    *
    * Output: one row per REMOVED vector (the keep-list complement):
    * its cluster, the lowest-id co-cluster twin that evicts it
    * (min ida — deterministic), how many co-cluster twins confirmed
    * it, and the tightest cosine.
    *
    * Scale shape: the pair search is an equi-join on (bucket, chunk)
    * — never a corpus cross join, and never quadratic in a cluster:
    * each cluster is split into ceil(n_k / [[SemDedupChunkTarget]])
    * hash-assigned chunks first (the paper's own chunking mitigation;
    * since round 12, K also GROWS with the corpus like the paper's —
    * see the [[KmeansK]] scaladoc — so clusters average the chunk
    * width and the chunk layer is purely the skew backstop; it is
    * still what makes the pair budget ~n·ChunkTarget/2 — LINEAR — at
    * ANY K, where the unchunked stage measured ×100 pair growth on
    * ×10 data at fixed K). An in-plan assert_true fails the query
    * rather than returning results from a chunk past
    * [[SemDedupMaxChunk]] (no driver action — the guard is a 1-row
    * crossJoin; under AQE the pair stages may start concurrently with
    * the guard job, so it bounds what is SERVED, not what is
    * scheduled). The Lloyd pass itself is s26's: per round
    * one K-row-broadcast assignment scan + one partial-agg'd (bucket,
    * dim) shuffle — centroid state never touches the driver. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = lloydStateMemo(s, dir)
    val e = withNorm(emb(s, dir))
      .join(assigned.select(col("vec_id"), col("bucket")), "vec_id")
      // both pair sides + sizes share one norm+assignment pass
      .transform(Caches.persist)
    // bounded pair space: ceil(bn / ChunkTarget) hash-assigned chunks
    // per cluster — the sizes side is K rows (AQE broadcasts it), the
    // chunk key is an LCG on vec_id (engine-portable: same integer
    // arithmetic in the oracle), and the self-join below equi-joins on
    // (bucket, chunk) so per-chunk cost is ~ChunkTarget² regardless of
    // how hot a cluster is
    val ec = withSemDedupChunk(e)
      .select(col("vec_id"), col("bucket"), col("chunk"),
        col("embedding"), col("nrm"))
    // in-plan guard (the d05 MaxBruteForceVectors discipline without a
    // driver action): if hash skew ever concentrated a chunk past the
    // hard cap, fail the query rather than serve results from a
    // quadratic chunk.
    val guard = chunkCapGuard(ec)
    val pairs = ec.as("a").join(ec.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.bucket").as("bucket"),
        col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
        (expr(dotExpr("a.embedding", "b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cs"))
      .filter(col("cs") >= SemDedupTau)
    pairs
      .select(col("idb").as("vec_id"), col("bucket"), col("ida"),
        floor(col("cs") * 1000000).cast("long").as("cs_e6"))
      .groupBy("vec_id", "bucket")
      .agg(min("ida").as("dup_of"), count(lit(1)).as("n_dups"),
        max("cs_e6").as("max_cs_e6"))
      .crossJoin(broadcast(guard)) // 1-row guard rides the plan
      .filter(col("chunk_ok").isNull) // always true; forces evaluation
      .select(col("vec_id"), col("bucket"), col("dup_of"),
        col("n_dups"), col("max_cs_e6"))
      .orderBy("vec_id")
  }

  /** Random-hyperplane signature: bit j of a 16-bit signature is the
    * sign of emb · r_j, with r_j[d] derived from an LCG on (j·64+d) —
    * deterministic, engine-independent pseudo-randomness. */
  private def sigExpr(embCol: String): String =
    s"lsh_sig16($embCol)"

  /** LSH-bucketed ANN (the scale path): candidates = corpus vectors
    * sharing ≥ 1 of four 4-bit signature bands with the query, exact
    * cosine re-rank within candidates only. */
  def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    val sigs = withNorm(emb(s, dir))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        expr(sigExpr("embedding")).as("sig"))
    val bands = sigs.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> shiftright(sig, b * 4) & 15)")))
      .toDF("vec_id", "embedding", "nrm", "band_idx", "band_key")
      .transform(Caches.persist) // query + corpus branches share one signature pass
    val q = bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("band_idx"), col("band_key"))
    val cand = bands.join(q,
        Seq("band_idx", "band_key")) // equi-join on the bucket key
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    cand.select(col("query_id"), col("neighbor_id"),
        (expr(dotExpr("qv", "embedding")) /
          (col("qnrm") * col("nrm"))).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RecallK)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** s14: ANN recall evaluation — recall@k of the two approximate
    * retrieval paths (s02 LSH bands, s03 IVF probes) against the s01
    * exact top-k, per query. The eval harness every ANN deployment
    * runs before trusting an index: the approximate operators' WHOLE
    * pipelines are re-executed and their top-k compared to ground
    * truth, so a recall regression in any stage (signatures, banding,
    * probe routing, rerank) surfaces here as a number, not an anecdote.
    *
    * Scale shape: composes the three builders unchanged (each is
    * already bucket-join shaped with a broadcast ≤10-row query side);
    * the overlap joins and per-query counts touch only 3·|Q|·k rows.
    * Ground truth is the brute-force pass — at production scale it
    * runs on a sampled query set, which is exactly what the vec_id<10
    * query side is. recall_e6 is exact (hits · 1e6/k with k | 1e6). */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = recallTruth(s, dir)
    def hitsOf(approx: DataFrame, out: String): DataFrame =
      exact.join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(out))
    val q = exact.select("query_id").distinct()
    q.join(hitsOf(annLshTopK(s, dir), "lsh_hits"), Seq("query_id"), "left")
      .join(hitsOf(annIvfTopK(s, dir), "ivf_hits"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
        coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"))
      .withColumn("lsh_recall_e6", col("lsh_hits") * lit(1000000L / RecallK))
      .withColumn("ivf_recall_e6", col("ivf_hits") * lit(1000000L / RecallK))
      .orderBy("query_id")
  }

  /** s05: product-quantization encoding — every vector compresses to
    * M=8 (code, quantization-error) pairs against the deterministic
    * codebook ([[graft.functions.Pq]]). Narrow per-row projection; at
    * a billion vectors this is the one-pass "compress the corpus" job
    * whose output (8 bytes/vector) is what actually gets indexed. */
  def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextHash.fanOut(emb(s, dir))
      .select(col("vec_id"), posexplode(expr("pq_encode(embedding)")))
      .toDF("vec_id", "sub", "c")
      .select(col("vec_id"), col("sub"),
        col("c.code").as("code"), col("c.err_e6").as("err_e6"))
      .orderBy("vec_id", "sub")

  /** s16: PQ quantization-quality report — per subspace, the count
    * and the summed/mean reconstruction error of the s05 encoding.
    * The index-health diagnostic paired with s14's recall eval: a
    * subspace whose mean error dwarfs the others is where the
    * codebook needs more centroids (or the data a rotation), and
    * watching this number per ingest batch is how a production IVF-PQ
    * deployment notices drift. Pure composition over [[pqCodes]]: one
    * 8-row partial aggregation, exact integer sums. */
  def pqErrorReport(s: SparkSession, dir: String): DataFrame =
    pqCodes(s, dir)
      .groupBy("sub")
      .agg(count(lit(1)).as("n_vectors"), sum(col("err_e6")).as("sum_err_e6"))
      .select(col("sub"), col("n_vectors"), col("sum_err_e6"),
        expr("sum_err_e6 div n_vectors").as("mean_err_e6"))
      .orderBy("sub")

  /** s30: residual-PQ error report — the FAISS-default IVF-PQ
    * refinement (Jégou et al. 2011 §III-C): quantize each vector's
    * RESIDUAL to its coarse IVF cell's centroid instead of the raw
    * vector, so PQ spends its 8 bytes on the within-cell variance
    * only. This report PRICES the switch rather than assuming it
    * pays: per vector, the raw-PQ reconstruction error (s16's
    * quantity, per-vector grain) next to the residual-PQ error under
    * the SAME codebook, with an improvement flag. The measured answer
    * at the driver SFs is that it does NOT pay here (~35 % of vectors
    * improve, total error +1.6 %): the deterministic stand-in
    * codebook is uniform over the RAW value range, and residuals live
    * on a different distribution — which is precisely why FAISS
    * trains its PQ codebook ON residuals instead of reusing the
    * raw-vector one. This audit is what catches a deployment reusing
    * a codebook across tiers and shipping a silently worse index.
    *
    * The cell centroid is s04's exact-integer mean (floor(sum_e6/n)),
    * and the residual is float(double(v) − mean_e6/1e6) — one IEEE
    * round-to-float, identical in DuckDB's ::REAL cast, so the gate
    * stays exact.
    *
    * Scale shape: one narrow assignment pass (K-row LCG planes inside
    * the codegen'd expression — no join at all), one partial-agg'd
    * (bucket, dim) shuffle for the means (s04's job), then a map-only
    * encode pass with the K-row centroid table broadcast. At a
    * billion vectors this is exactly the "train the residual tier"
    * job: nothing pairwise, nothing driver-side. */
  def residualPqReport(s: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.TextHash.fanOut(emb(s, dir))
      .select(col("vec_id"), col("embedding"),
        expr("ivf_assign(embedding, 1)[0]").as("bucket"))
      // assignment feeds the centroid build AND the encode
      .transform(Caches.persist)
    val cent = e.select(col("bucket"), posexplode(col("embedding")))
      .toDF("bucket", "dim", "v")
      .groupBy("bucket", "dim")
      .agg(sum(floor(col("v").cast("double") * 1000000).cast("long"))
        .as("sum_e6"), count(lit(1)).as("n"))
      .select(col("bucket"),  col("dim"),
        floor(col("sum_e6") / col("n")).cast("long").as("mean_e6"))
      .groupBy("bucket")
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, mean_e6))), p -> p.mean_e6)")
        .as("c"))
    e.join(broadcast(cent), "bucket") // K-row centroid side
      .select(col("vec_id"), col("bucket").cast("int").as("bucket"),
        expr("aggregate(pq_encode(embedding), 0L, (acc, x) -> acc + x.err_e6)")
          .as("err_raw_e6"),
        expr("""aggregate(pq_encode(zip_with(embedding, c,
             (a, b) -> CAST(CAST(a AS DOUBLE) - b / 1000000.0D AS FLOAT))),
             0L, (acc, x) -> acc + x.err_e6)""").as("err_res_e6"))
      .withColumn("improved",
        (col("err_res_e6") < col("err_raw_e6")).cast("int"))
      .orderBy("vec_id")
  }

  /** s06: PQ-ADC search — queries score the *compressed* corpus with
    * the asymmetric distance (query subvector ↔ candidate's centroid),
    * never decompressing a candidate. The corpus side carries only
    * vec_id + 8 codes through the scan; the tiny query side
    * broadcasts; ranking shuffles (q, k) rows. This is the in-cell
    * scoring kernel of an IVF-PQ index (IVF routing = s03). */
  def annPqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val corpus = graft.operators.TextHash.fanOut(e)
      .select(col("vec_id"), expr("pq_encode(embedding)").as("pq"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_e6"), col("neighbor_id"))
    corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("pq_adc_e6(qv, pq)").as("adc_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adc_e6"))
      .orderBy("query_id", "rank")
  }

  /** s07: IVF-PQ search — the composed production index. IVF routing
    * prunes the corpus to the query's [[IvfNprobe]] coarse cells (equi-join
    * on bucket id, as s03) and PQ-ADC scores only those candidates
    * against their 8-byte codes (as s06), so cost is
    * (nprobe/K) · corpus · O(code) with no vector decompressed and no
    * full-corpus scan. This is the billion-vector serving shape; s01
    * remains its exactness baseline. */
  def annIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val corpus = graft.operators.TextHash.fanOut(e)
      .select(col("vec_id"),
        expr("ivf_assign(embedding, 1)[0]").as("bucket"),
        expr("pq_encode(embedding)").as("pq"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(expr(s"ivf_assign(embedding, $IvfNprobe)")).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_e6"), col("neighbor_id"))
    corpus.join(broadcast(q), Seq("bucket")) // route: coarse-cell equi-join
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("pq_adc_e6(qv, pq)").as("adc_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adc_e6"))
      .orderBy("query_id", "rank")
  }

  /** The nprobe operating points s18 sweeps — the curve a deployment
    * reads to choose its serving nprobe before trusting an IVF-PQ
    * index. Interpolated into the DuckDB oracle so the sweep can't
    * desynchronize. */
  val RecallSweepNprobes: Seq[Int] = Seq(1, 2, 4)

  /** s18: recall@k operating curve for the composed IVF-PQ index
    * (s07) across nprobe ∈ [[RecallSweepNprobes]], against the s01
    * exact top-k ground truth. s14 scores the single-stage indexes at
    * one fixed operating point; THIS is the eval a deployment runs to
    * pick nprobe: per (nprobe, query) the ground-truth overlap of the
    * full routed+ADC-scored pipeline, so the recall-vs-cost tradeoff
    * is a measured curve rather than a guess.
    *
    * Scale shape: the corpus is assigned + PQ-encoded ONCE (persisted
    * 8-bytes-per-vector frame) and each operating point re-probes it
    * with the same broadcast ≤10·nprobe-row query side as s07 — the
    * sweep adds no corpus-scale work beyond the shared encode pass.
    * Ground truth is one brute-force pass over the sampled query set
    * (s14's posture). recall_e6 exact via k | 1e6.
    *
    * Measured at sf0.01 (5k vectors): mean recall@5 = 0 / 0 / 4 % at
    * nprobe 1 / 2 / 4, vs 32 % for the same routing with exact-vector
    * rerank (s14's ivf column) — i.e. with the deterministic UNTRAINED
    * codebook, ADC quantization error (s16's report) dominates the
    * ranking, which is precisely the decision this eval exists to
    * surface: train the codebook (s04's M-step) or raise nprobe. */
  def ivfPqRecallSweep(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val corpus = graft.operators.TextHash.fanOut(e)
      .select(col("vec_id"),
        expr("ivf_assign(embedding, 1)[0]").as("bucket"),
        expr("pq_encode(embedding)").as("pq"))
      // encoded once; every operating point probes this frame
      .transform(Caches.persist)
    val qProbes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        posexplode(expr(s"ivf_assign(embedding, ${RecallSweepNprobes.max})")))
      .toDF("query_id", "qv", "probe_rank", "bucket") // probe_rank 0-based
    val exact = recallTruth(s, dir)
    val qs = exact.select("query_id").distinct()
    RecallSweepNprobes.map { np =>
      val q = qProbes.filter(col("probe_rank") < np)
        .select("query_id", "qv", "bucket")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_e6"), col("neighbor_id"))
      val topk = corpus.join(broadcast(q), Seq("bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr("pq_adc_e6(qv, pq)").as("adc_e6"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= RecallK)
        .select("query_id", "neighbor_id")
      val hits = exact.join(topk, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      qs.join(hits, Seq("query_id"), "left")
        .select(lit(np).as("nprobe"), col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }.reduce(_.unionByName(_))
      .withColumn("recall_e6", col("hits") * lit(1000000L / RecallK))
      .orderBy("nprobe", "query_id")
  }

  /** Dimensionality of the `embeddings.embedding` column (TESTDATA.md).
    * Oracles that unroll the vector (s17) interpolate THIS constant so
    * the SQL cannot desynchronize from the Scala side. */
  val EmbeddingDims = 64

  /** Keyword side of the s08 hybrid query (terms present in the
    * synthetic vocabulary, standing in for a tokenized user query),
    * and the same terms as an SQL `IN` list. */
  val HybridQueryTerms: Seq[String] = Seq("hash", "join", "table", "scan")
  val HybridTermsIn: String =
    HybridQueryTerms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** Shortlist length per retrieval side for s08. */
  val HybridShortlist = 100

  /** s08: hybrid retrieval — the RAG-serving workhorse: a keyword
    * ranking and a vector ranking of the same corpus (documents and
    * embeddings share ids), fused with Reciprocal Rank Fusion
    * (Cormack et al.: score = Σ 1/(60+rank), here in exact integer
    * math `1e6 div (60+rank)` so the oracle compare cannot drift).
    *
    * Scale design — two-phase, the part that matters at 100 TB: each
    * side first reduces the corpus to a top-[[HybridShortlist]]
    * shortlist via `orderBy().limit()`, which Spark plans as
    * TakeOrderedAndProject (per-partition top-N, driver merges P·N
    * rows — NO global sort, pinned in PlanSpec); rank assignment and
    * fusion then run on the two 100-row shortlists, which is
    * driver-sized by construction. Docs outside a side's shortlist
    * contribute rank 0 = no score from that side (standard RRF
    * shortlist semantics). The keyword score is exact integer
    * (distinct query terms matched, then query-term occurrences as
    * tiebreak); the vector side is the s01 broadcast-query cosine. */
  def hybridTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextHash.{fanOut, tokens}
    val txt = fanOut(Tables.t(s, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        expr(s"size(array_distinct(filter(tk, x -> x IN $HybridTermsIn)))")
          .as("n_matched"),
        expr(s"size(filter(tk, x -> x IN $HybridTermsIn))").as("tf_q"))
    val topText = txt
      .orderBy(col("n_matched").desc, col("tf_q").desc, col("doc_id"))
      .limit(HybridShortlist) // TakeOrderedAndProject: distributed top-N
      .withColumn("rank_text", row_number().over(
        Window.orderBy(col("n_matched").desc, col("tf_q").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_text"))
    val e = withNorm(emb(s, dir))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    val topVec = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        (expr(dotExpr("qv", "embedding")) / (col("qnrm") * col("nrm")))
          .as("cs"))
      .orderBy(col("cs").desc, col("vec_id"))
      .limit(HybridShortlist) // TakeOrderedAndProject again
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(col("cs").desc, col("vec_id"))))
      .select(col("vec_id"), col("rank_vec"))
    topText.join(topVec, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        coalesce(col("rank_text"), lit(0)).as("rank_text"),
        coalesce(col("rank_vec"), lit(0)).as("rank_vec"))
      .withColumn("rrf_e6",
        expr("CASE WHEN rank_text > 0 THEN 1000000 div (60 + rank_text) ELSE 0 END") +
          expr("CASE WHEN rank_vec > 0 THEN 1000000 div (60 + rank_vec) ELSE 0 END"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
      .limit(HybridK)
      .orderBy(col("rrf_e6").desc, col("doc_id"))
  }

  /** s17: label-centroid separation report — the embedding-space
    * health card an ML team reads before trusting the space for
    * ANN/clustering: per class-label pair, the cosine between class
    * centroids (plus both class sizes). Centroids near cosine 1 mean
    * the classes are not separable in this space (expect bad s15
    * cohesion and noisy s09 graphs); well-spread centroids justify
    * the label as an IVF/routing signal. Uses s04's exact-integer
    * trick: coordinates sum as floor(x·1e6) longs (associative, so
    * the distributed sum is exact and engine-portable), and the only
    * float math is d15's fixed sqrt/multiply/divide tree.
    *
    * Scale shape: one narrow (label, dim, int) shuffle with map-side
    * partial aggregation — corpus-scale work ends there; everything
    * after runs on |labels|·dims rows. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val cent = graft.operators.TextHash.fanOut(emb(s, dir))
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "v")
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * 1000000).cast("long"))
          .as("s_e6"))
      .select(col("label"), col("dim"), col("n"),
        floor(col("s_e6") / col("n")).cast("long").as("m_e6"))
      .transform(Caches.persist) // feeds norms + both dot sides
    val norms = cent.groupBy("label")
      .agg(max(col("n")).as("n_vecs"),
        sum(col("m_e6") * col("m_e6")).as("n2"))
    cent.as("a")
      .join(cent.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum(col("a.m_e6") * col("b.m_e6")).as("dot"))
      .join(norms.as("na"), col("la") === col("na.label"))
      .join(norms.as("nb"), col("lb") === col("nb.label"))
      .select(col("la"), col("lb"),
        col("na.n_vecs").as("n_a"), col("nb.n_vecs").as("n_b"),
        floor(col("dot").cast("double") * 1000000.0 /
          (sqrt(col("na.n2").cast("double")) *
            sqrt(col("nb.n2").cast("double")))).cast("long").as("cos_e6"))
      .orderBy("la", "lb")
  }

  /** s19: metadata-filtered ANN — exact top-k cosine among vectors
    * sharing the query's `label` (the "similar items within my
    * category" search every production vector store supports as a
    * filter clause). Because the filter is an equality predicate, the
    * filtered search IS an equi-join on the filter key: each query
    * only ever meets its own label partition's vectors, so the plan
    * shuffles by label instead of scanning the corpus per query —
    * pre-filtering at the partitioning layer, the pattern that scales
    * (post-filtering a global top-k can return < k survivors; this
    * never does). Queries are broadcast (10 rows); label skew at
    * 100 TB is AQE's skew-join case, or salt via [[Skew.saltedJoin]].
    * Reference capability: README.md:648–659 (join family) composed
    * with top-k windows (SURVEY §2.5). */
  def filteredAnnTopK(s: SparkSession, dir: String): DataFrame = {
    // one norm pass, two roles
    val e = withNorm(emb(s, dir)).transform(Caches.persist)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label"),
        col("embedding").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    e.as("c").join(broadcast(q), Seq("label"))
      .filter(col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("label"),
        col("c.vec_id").as("neighbor_id"),
        (expr(dotExpr("qv", "c.embedding")) /
          (col("qnrm") * col("c.nrm"))).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= FilteredAnnK)
      .select(col("query_id"), col("label"), col("neighbor_id"),
        col("rank"), floor(col("cs") * 1000000).cast("long").as("cs_e6"))
      .orderBy("query_id", "rank")
  }

  /** Reconstructed-vector expression for the SQ8 (8-bit scalar)
    * quantizer: per-dim corpus [mn, mx] split into 256 equal cells,
    * code = cell index of x, reconstruction = cell midpoint. One
    * definition feeds both the encode and decode halves of [[
    * sq8Recall]] so the two cannot drift; the identical arithmetic
    * (same parenthesization — float determinism is load-bearing for
    * the oracle gate) is interpolated into the DuckDB oracle. */
  private def sq8DecExpr(v: String, mns: String, mxs: String): String =
    s"""transform(sequence(1, $EmbeddingDims), i ->
       CASE WHEN element_at($mxs, i) > element_at($mns, i) THEN
         element_at($mns, i) +
           (least(cast(255.0 as double), floor(
              ((cast(element_at($v, i) as double) - element_at($mns, i))
               / (element_at($mxs, i) - element_at($mns, i))) * 256.0))
            + 0.5)
           * (element_at($mxs, i) - element_at($mns, i)) / 256.0
       ELSE element_at($mns, i) END)"""

  /** Left-fold double dot product over two array<double> columns —
    * the [[sq8Recall]] scoring kernel. Same fold order as [[dotExpr]]
    * / the oracle's list_reduce, so the float sequence is identical
    * across engines. */
  private def ddotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (p, q) -> cast(p as double) * cast(q as double)), " +
      s"cast(0.0 as double), (acc, v) -> acc + v)"

  /** s20: SQ8 (int8 scalar quantization) retrieval recall — the THIRD
    * compression point on the index family's quality curve, between
    * exact floats (s01, 256 B/vector) and PQ (s05–s07, 8 B/vector):
    * 64 B/vector, one code per dimension against a per-dim [min, max]
    * grid learned from the corpus in one aggregation pass. Queries
    * stay float and score the RECONSTRUCTED corpus (asymmetric
    * distance, faiss-SQ8's serving shape); recall@k vs the s01 exact
    * top-k, per query — the number a deployment compares against
    * s14/s18 to pick its memory/quality operating point.
    *
    * Scale shape: the quantizer state is ONE 2×64-double row
    * (broadcast — a true scalar side, unlike a codebook it never
    * grows with the corpus); encode+decode is a narrow per-row
    * projection; scoring shuffles |Q|·n scored pairs only through the
    * per-query top-k window (TakeOrdered shape, queries broadcast).
    * At 100 TB the decoded corpus is never materialized — the decode
    * expression fuses into the scoring projection. */
  def sq8Recall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // per-dim corpus min/max, gathered into two 64-slot arrays
    val mm = e.select(posexplode(col("embedding")))
      .toDF("pos", "x")
      .groupBy("pos")
      .agg(min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, mn))), p -> p.mn)")
          .as("mns"),
        expr("transform(array_sort(collect_list(struct(pos, mx))), p -> p.mx)")
          .as("mxs"))
    val corpus = graft.operators.TextHash.fanOut(e)
      .crossJoin(broadcast(mm)) // 1-row quantizer state (allowlisted NLJ)
      .select(col("vec_id"),
        expr(sq8DecExpr("embedding", "mns", "mxs")).as("dec"))
      .withColumn("dnrm", expr(s"sqrt(${ddotExpr("dec", "dec")})"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qnrm", expr(s"sqrt(${dotExpr("qv", "qv")})"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    val topk = corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(ddotExpr("qv", "dec")) / (col("qnrm") * col("dnrm"))).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RecallK)
      .select("query_id", "neighbor_id")
    val exact = recallTruth(s, dir)
    val hits = exact.join(topk, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("sq8_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("sq8_hits"), lit(0L)).as("sq8_hits"))
      .withColumn("sq8_recall_e6", col("sq8_hits") * lit(1000000L / RecallK))
      .orderBy("query_id")
  }

  /** The [[sq8DecExpr]] arithmetic as a DuckDB list comprehension —
    * interpolated into the s20 oracle so encode/decode cannot drift
    * between engines. `v` is a list<float> relation column; mns/mxs
    * come from the oracle's own per-dim aggregate. */
  def sq8DecSql(v: String, mns: String, mxs: String): String =
    s"""[CASE WHEN $mxs[i] > $mns[i] THEN
         $mns[i] + (least(255.0, floor((($v[i]::DOUBLE - $mns[i])
               / ($mxs[i] - $mns[i])) * 256.0)) + 0.5)
           * ($mxs[i] - $mns[i]) / 256.0
       ELSE $mns[i] END for i in generate_series(1, $EmbeddingDims)]"""

  /** The prefix widths s21 sweeps — the Matryoshka operating points
    * between "store 1/8 of the vector" and "store half of it".
    * Interpolated into the DuckDB oracle. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32)

  /** s21: Matryoshka (prefix-dimension truncation) recall sweep — the
    * remaining point on the index family's memory/quality curve:
    * instead of quantizing every dimension coarsely (SQ8 s20, PQ
    * s05–s07), KEEP only the first m dims at full precision and rank
    * by prefix cosine, the serving mode of matryoshka-trained
    * embedding models (store the 8/16/32-dim prefix, re-rank the
    * survivors with the full vector offline). recall@k per (m, query)
    * against the s01 exact top-k — the measurement that tells a
    * deployment whether ITS embeddings degrade gracefully under
    * truncation (matryoshka-trained ones do, PCA-rotated ones
    * partially, raw ones often don't).
    *
    * Scale shape: s18's sweep posture — per operating point the
    * corpus passes through ONE narrow slice+norm projection (m floats
    * per row move, not 64), the ≤10-row query side broadcasts, and
    * ranking shuffles only the per-query top-k window rows. The three
    * operating points share the s01 ground-truth pass (persisted).
    * At 100 TB the m-dim prefix frame is the thing a deployment would
    * materialize as its serving index — 4m bytes/vector. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val exact = recallTruth(s, dir)
    val qs = exact.select("query_id").distinct()
    MatryoshkaDims.map { m =>
      val sliced = graft.operators.TextHash.fanOut(e)
        .select(col("vec_id"), expr(s"slice(embedding, 1, $m)").as("pv"))
        .withColumn("pnrm", expr(s"sqrt(${dotExpr("pv", "pv")})"))
      val q = sliced.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("pv").as("qpv"),
          col("pnrm").as("qpnrm"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cs").desc, col("neighbor_id"))
      val topk = sliced.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (expr(dotExpr("qpv", "pv")) / (col("qpnrm") * col("pnrm")))
            .as("cs"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= RecallK)
        .select("query_id", "neighbor_id")
      val hits = exact.join(topk, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      qs.join(hits, Seq("query_id"), "left")
        .select(lit(m).as("dims"), col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }.reduce(_.unionByName(_))
      .withColumn("recall_e6", col("hits") * lit(1000000L / RecallK))
      .orderBy("dims", "query_id")
  }

  /** s23 relatedness bar: a vector whose k-th neighbor sits below
    * cs 0.4 — d09's "related" threshold, reused so the two operators
    * agree on what counts as a semantic tie — is an outlier. */
  val OutlierCsE6 = 400000L

  /** s23: kNN-distance outlier report — the embedding-space anomaly
    * signal of curation pipelines (ESA/SemDeDup-style "prune points
    * with no close neighbors"): per corpus vector, its neighbor-list
    * size, best and k-th neighbor cosine (e6), and the outlier flag —
    * isolated vectors (no LSH candidate at all) or vectors whose
    * k-th neighbor falls below [[OutlierCsE6]]. Bottom-of-graph
    * points are mislabeled/garbled/off-distribution documents; the
    * flag is the row a quality reviewer samples.
    *
    * Scale shape: one aggregation over the s09 graph (n·k rows) plus
    * a left join from the n-row vector roster — nothing beyond the
    * kNN build itself, whose banded candidate generation is the
    * measured-linear path. kth cosine = min(cs) of the ranked list
    * (ranks are cs-descending), so no second window is needed. */
  def knnOutliers(s: SparkSession, dir: String): DataFrame = {
    val agg = knnGraphMemo(s, dir)
      .groupBy("vec_id")
      .agg(count(lit(1)).cast("long").as("n_neighbors"),
        max(col("cs_e6")).as("best_cs_e6"),
        min(col("cs_e6")).as("kth_cs_e6"))
    emb(s, dir).select("vec_id")
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        coalesce(col("best_cs_e6"), lit(-1L)).as("best_cs_e6"),
        coalesce(col("kth_cs_e6"), lit(-1L)).as("kth_cs_e6"))
      .withColumn("is_outlier",
        (col("n_neighbors") < 3 || col("kth_cs_e6") < OutlierCsE6)
          .cast("int"))
      .orderBy("vec_id")
  }

  /** s22 fixed iteration count. Full PageRank iterates to an epsilon;
    * the unrolled-3 form is the gated, oracle-exact demonstration —
    * each extra iteration is one more copy of the same two-shuffle
    * stage, and a production run loops the identical stage under a
    * convergence check (the d09/s11 fixpoint posture). */
  val PageRankIters = 3

  /** s22 damping factor ×100 (d = 0.85). */
  val PageRankDampE2 = 85L

  /** s22: PageRank centrality over the directed s09 kNN graph — the
    * importance signal of graph-based curation: a document whose
    * embedding is linked FROM many well-linked neighbors is central
    * to its region of the corpus, the substrate of
    * representativeness sampling (keep central docs), outlier mining
    * (bottom ranks), and graph-weighted mixture tuning. Exact-integer
    * e9 fixed point: pr₀ = 1e9 div n; each of [[PageRankIters]]
    * unrolled iterations computes pr' = (0.15e9 div n) + (85·Σ
    * floor(pr(u) div outdeg(u))) div 100 with every division floored
    * identically in both engines, so the 3-step vector hash-compares
    * exactly. Dangling mass (vectors with no kNN list) is dropped,
    * not redistributed — the documented simplification; node set is
    * ALL corpus vectors, so isolated vectors carry teleport-only
    * mass.
    *
    * Scale shape: per iteration ONE n·k-row equi-join (contributions:
    * graph ⋈ current ranks on the source key) feeding ONE partial-agg
    * groupBy on the destination key, then a left join back to the
    * n-row node frame — no corpus-quadratic stage, no driver-side
    * loop state beyond the fixed unroll. The graph builds once
    * (memoized, checkpoint-materialized [[knnGraph]]) and is read by
    * every iteration. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    // the memoized graph is checkpoint-materialized, so the per-
    // iteration reads replay no lineage and nothing extra is
    // persisted; outDeg is a tiny groupBy over the checkpointed n·k
    // rows, cheap to recompute per iteration
    val g = knnGraphMemo(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val outDeg = g.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val nodes = emb(s, dir).select("vec_id")
    val nRow = nodes.agg(count(lit(1)).as("n"))
    var pr = nodes.crossJoin(broadcast(nRow)) // 1-row corpus size
      .select(col("vec_id"), expr("1000000000L div n").as("pr_e9"))
    for (_ <- 1 to PageRankIters) {
      val inflow = g.join(outDeg, "src")
        .join(pr.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"), expr("pr_e9 div out_deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      pr = nodes
        .join(inflow.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .crossJoin(broadcast(nRow))
        .select(col("vec_id"),
          expr(s"(150000000L div n) + " +
            s"($PageRankDampE2 * coalesce(inflow, 0L)) div 100L")
            .as("pr_e9"))
    }
    pr.join(outDeg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        col("pr_e9"))
      .orderBy("vec_id")
    // no global pr_rank column on purpose: a full-corpus row_number
    // is a single-task window at 100 TB; consumers wanting "top-N
    // central" run orderBy(pr_e9).limit(N) — TakeOrdered, scale-safe
  }

  /** s28 shortlist width (per query, from the exact s01 scorer) and
    * the number of greedy MMR picks reported. */
  val MmrShortlist = 20
  val MmrK = 5

  /** Sentinel `maxsim` for the first MMR pick (max over an empty
    * selected set): below any possible cosine, so round 1 reduces to
    * pure relevance in both engines. */
  val MmrEmptySim = -2.0d

  /** s28: maximal-marginal-relevance re-rank (Carbonell & Goldstein
    * 1998) of the exact ANN shortlist — embedding-space result
    * DIVERSIFICATION, the complement of i09's source-quota rule:
    * instead of capping a metadata facet, each greedy round picks the
    * candidate maximizing λ·rel − (1−λ)·max-sim-to-already-picked
    * (λ = 0.5, so the argmax is rel − maxsim; doubles compare
    * bit-identically cross-engine because both sides are the same
    * sequential [[FloatVecDot]] fold, ties broken by neighbor_id).
    *
    * Scale shape: the corpus-scale work is exactly s01's broadcast
    * scorer (≤10-row query side — the enrolled-bounded hint class);
    * everything after the shortlist cut operates on
    * |queries|·[[MmrShortlist]] rows, and each of the [[MmrK]] greedy
    * rounds is one equi-join + partial agg + per-query window on that
    * bounded frame — the Lloyd/LPA fixed-unroll discipline, no
    * driver-side selection state. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    // query + corpus share norms
    val e = withNorm(emb(s, dir)).transform(Caches.persist)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val wSh = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    var cand = e.as("c").join(broadcast(q), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.embedding").as("nv"), col("c.nrm").as("nnrm"),
        (expr(dotExpr("qv", "c.embedding")) /
          (col("qnrm") * col("c.nrm"))).as("rel"))
      .withColumn("rk", row_number().over(wSh))
      .filter(col("rk") <= MmrShortlist)
      .select("query_id", "neighbor_id", "nv", "nnrm", "rel")
      .withColumn("maxsim", lit(MmrEmptySim))
      .transform(Caches.persist) // the MmrK greedy rounds re-scan this bounded frame
    var selected: DataFrame = null
    for (pick <- 1 to MmrK) {
      val wPick = Window.partitionBy(col("query_id"))
        .orderBy((col("rel") - col("maxsim")).desc, col("neighbor_id"))
      val picked = cand.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("nv"),
          col("nnrm"), col("rel"), col("maxsim"),
          lit(pick).as("pick"))
        .localCheckpoint() // eager: ≤|queries| rows per round; truncates
        // the selected-set lineage so round p's plan does not re-derive
        // rounds 1..p-1 (the un-truncated chain re-optimized and re-ran
        // the whole greedy history each round — measured 36 s vs ~3 s
        // at sf0.1 for identical results)
      selected =
        if (selected == null) picked else selected.unionByName(picked)
      // max-sim-to-selected as a RUNNING max (round 16): max over the
      // whole selected set re-joined and re-aggregated |cand|·|selected|
      // sim rows every round; max{sims to s1..sp} ≡ greatest(max{s1..
      // sp−1}, sim to sp) — doubles compare totally (NaN greatest in
      // both forms), so the running column is the identical number.
      // Each round is now one anti-join + one broadcast probe of the
      // 1-row-per-query newest pick — the per-round groupBy exchange
      // and the (query, neighbor)-keyed re-join are gone from the plan.
      val newPick = picked.select(col("query_id"),
        col("nv").as("sv"), col("nnrm").as("snrm"))
      cand = cand.join(picked.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
        .join(broadcast(newPick), Seq("query_id"))
        .withColumn("maxsim", greatest(col("maxsim"),
          expr(dotExpr("nv", "sv")) / (col("nnrm") * col("snrm"))))
        .drop("sv", "snrm")
    }
    selected
      .select(col("query_id"), col("pick"), col("neighbor_id"),
        floor(col("rel") * 1000000).cast("long").as("rel_e6"),
        floor(col("maxsim") * 1000000).cast("long").as("maxsim_e6"))
      .orderBy("query_id", "pick")
  }

  /** s29: per-source embedding drift card — the embedding-space
    * sibling of t33's token-distribution drift, grouped by the
    * `documents.source` attribute (embeddings ⋈ documents on
    * vec_id = doc_id). Per source: member count, cosine of the source
    * centroid to the CORPUS centroid (a source drifting away from the
    * corpus mean is the first sign its ingest changed), the nearest
    * OTHER source by centroid cosine (semantic-confusion signal — two
    * sources collapsing onto each other in embedding space), and the
    * mean within-source dispersion.
    *
    * Integer discipline: coordinates sum as floor(x·1e6) longs (s04's
    * trick via s17's centroid shape); the only float math is the
    * fixed sqrt/multiply/divide cosine tree both engines evaluate on
    * BIGINT-exact inputs (< 2^53, so the DOUBLE casts are exact).
    * Dispersion avoids a member→centroid join-back entirely via the
    * algebraic identity Σ(v−m)² = Σv² − 2mΣv + n·m², so it falls out
    * of the SAME (source, dim) aggregate that builds the centroids;
    * the Σv² moments ride DECIMAL(38,0) (q48's rule — BIGINT tops out
    * near 2.3M members/source at e6 scale, HUGEINT mirrors in DuckDB)
    * and the final mean is an exact integral `div` on decimals.
    *
    * Scale shape: ONE narrow (source, dim, int) shuffle with map-side
    * partial aggregation is the only corpus-scale stage — centroids,
    * corpus centroid, dispersion, and both cosine reports all derive
    * from its |sources|·dims output (vs t33, whose drift needs the
    * corpus re-scanned against the top-V cut). The pairwise stage
    * runs on |sources|²·dims centroid rows, never members. */
  def sourceEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.t(s, dir, "documents").select(col("doc_id"), col("source"))
    driftFromMoments(centroidMoments(graft.operators.TextHash.fanOut(emb(s, dir))
      .join(src, col("vec_id") === col("doc_id"))))
  }

  /** s29's moment aggregation over (source, embedding) rows: the
    * running (source, dim, n, s_e6, ss) table — count, Σv and Σv² of
    * the [[EmbeddingE6]] components, Σv² on DECIMAL(38,0). Shared
    * with the streaming twin
    * ([[graft.streaming.StreamCentroid.centroidMomentsStream]]), whose
    * state IS this table. */
  def centroidMoments(vecs: DataFrame): DataFrame =
    vecs
      .select(col("source"), posexplode(expr(EmbeddingE6)).as(Seq("dim", "v_e6")))
      .groupBy("source", "dim")
      .agg(count(lit(1)).as("n"), sum("v_e6").as("s_e6"),
        sum(expr("cast(v_e6 as decimal(38,0)) * v_e6")).as("ss"))

  /** The s29 card from a [[centroidMoments]] table — public so the
    * streaming twin's batch probe
    * ([[graft.streaming.StreamCentroid.driftCard]]) runs the EXACT
    * report logic of the gated query. */
  def driftFromMoments(moments: DataFrame): DataFrame = {
    val cent = moments
      .select(col("source"), col("dim"), col("n"), col("ss"), col("s_e6"),
        floor(col("s_e6") / col("n")).cast("long").as("m_e6"))
      // |sources|·dims rows; feeds norms, cos, pairs, disp
      .transform(Caches.persist)
    val corpus = cent.groupBy("dim")
      .agg(floor(sum("s_e6") / sum("n")).cast("long").as("g_e6"))
    val srcNorm = cent.groupBy("source")
      .agg(max("n").as("n_vecs"),
        sum(col("m_e6") * col("m_e6")).as("n2"))
    val gNorm = corpus.agg(sum(col("g_e6") * col("g_e6")).as("g2"))
    val cosG = cent.join(corpus, "dim") // dims-row side: broadcast-free, tiny
      .groupBy("source").agg(sum(col("m_e6") * col("g_e6")).as("dotg"))
    val pairCos = cent.as("a")
      .join(cent.as("b"),
        col("a.dim") === col("b.dim") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source"), col("b.source").as("other"))
      .agg(sum(col("a.m_e6") * col("b.m_e6")).as("dot"))
      .join(srcNorm.select(col("source"), col("n2").as("na2")), "source")
      .join(srcNorm.select(col("source").as("other"), col("n2").as("nb2")),
        "other")
      .select(col("source"), col("other"),
        floor(col("dot").cast("double") * 1000000.0 /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .cast("long").as("cos_e6"))
    // argmax without a window: min over (−cos, other) = cos desc, name asc
    val nearest = pairCos
      .groupBy("source")
      .agg(min(struct((-col("cos_e6")).as("nc"), col("other").as("o"))).as("m"))
      .select(col("source"), col("m.o").as("nearest_source"),
        (-col("m.nc")).as("nearest_cos_e6"))
    // Σ(v−m)² = Σv² − 2mΣv + n·m² per (source, dim), summed over dims,
    // then mean-per-member and kilo-scaled — all exact decimal math
    val disp = cent
      .select(col("source"), col("n"), expr(
        """ss - cast(2 as decimal(38,0)) * m_e6 * s_e6
             + cast(n as decimal(38,0)) * m_e6 * m_e6""").as("sse"))
      .groupBy("source")
      .agg(max("n").as("nv"), sum("sse").as("sse"))
      .select(col("source"), expr(
        "cast(sse div (cast(nv as decimal(38,0)) * 1000) as long)")
        .as("dispersion_k"))
    srcNorm.join(cosG, "source").crossJoin(broadcast(gNorm)) // 1-row norm
      .select(col("source"), col("n_vecs"),
        floor(col("dotg").cast("double") * 1000000.0 /
          (sqrt(col("n2").cast("double")) * sqrt(col("g2").cast("double"))))
          .cast("long").as("cos_corpus_e6"))
      .join(nearest, "source")
      .join(disp, "source")
      .orderBy("source")
  }
}
