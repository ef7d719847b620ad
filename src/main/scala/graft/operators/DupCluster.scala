package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster assignment: connected components over the
  * MinHash-LSH near-dup pair graph ([[Dedup.minhashLshPairs]]), so a
  * pipeline can keep exactly one document per duplicate *cluster*
  * (pairs alone over-delete: a~b and b~c must not delete both b and c
  * independently of a).
  *
  * Algorithm: alternating large-star / small-star edge contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  * converging in O(log n) rounds regardless of component shape. The
  * round bound matters: sf1 telemetry caught the previous Hash-Min
  * label-propagation loop needing 30 rounds — at a weak similarity
  * threshold (cs ≥ 0.4) the pair graph PERCOLATES as the corpus grows
  * (sf1's embedding graph has a 9,370-node giant component), so
  * diameter-bound rounds are a real 100 TB liability, not a
  * theoretical one. Label-map pointer doubling only reached 18 rounds
  * on the same graph (the bottleneck is min-id spread through the
  * graph, not pointer-chain depth — measured, see BASELINE.md sf1
  * section); star contraction reaches 7, and its edge set *shrinks*
  * every round as stars collapse. Each round is two phases of
  * (groupBy-min + re-key join), ~4 key shuffles total, on an edge
  * frame that only gets smaller. `localCheckpoint` truncates the plan
  * lineage each round, which is what keeps the iteration viable on a
  * real cluster. The driver-side convergence check (edge count, then
  * an anti-join only when counts tie) is the loop condition every
  * iterative graph algorithm needs — it moves one long per round, not
  * data.
  */
object DupCluster {

  /** One large-star pass: every node u hooks its LARGER neighbors to
    * m(u) = min(N(u) ∪ {u}). Edges to smaller neighbors are carried
    * by the smaller endpoint's own pass (the edge frame is kept
    * symmetric), so nothing is lost. */
  private def largeStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    // m ≤ src < dst, so (dst, m) is never a self-loop
    val half = e.join(m, "src").filter(col("dst") > col("src"))
      .select(col("dst").as("a"), col("m").as("b"))
    half.select(col("a").as("src"), col("b").as("dst"))
      .union(half.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
  }

  /** One small-star pass: every node u hooks its SMALLER-or-self
    * neighborhood (itself plus each v < u) to the minimum of that
    * set. */
  private def smallStar(e: DataFrame): DataFrame = {
    val le = e.filter(col("dst") < col("src"))
    val m = le.groupBy(col("src")).agg(min(col("dst")).as("m"))
    val withM = le.join(m, "src")
    val half = withM.filter(col("dst") =!= col("m"))
      .select(col("dst").as("a"), col("m").as("b"))
      .union(withM.select(col("src").as("a"), col("m").as("b")).distinct())
    half.select(col("a").as("src"), col("b").as("dst"))
      .union(half.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
  }

  /** Connected components of an arbitrary (ida, idb) pair graph by
    * star contraction (large-star then small-star passes until the
    * edge set stops changing): (id, cluster_id) with cluster_id = the
    * min id reachable through pairs. Shared by the text (d06, MinHash
    * pairs), embedding (d09, LSH-bucketed cosine pairs), m07 and s11
    * cluster operators. */
  private[graft] def fixpointLabels(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.select(col("ida"), col("idb"))
      .filter(col("ida") =!= col("idb"))
    // LAZY checkpoint + count (round 16): the eager form ran one job
    // to materialize the checkpoint and a second to count it; marking
    // the checkpoint lazy lets the convergence count's own job store
    // the blocks as it scans — identical frames, one job per round
    // instead of two, across every fixpoint consumer (d06/d09/m07/s11).
    var edges = pairs
      .union(pairs.select(col("idb"), col("ida")))
      .toDF("src", "dst").distinct().localCheckpoint(false)
    var edgeCount = edges.count() // materializes the checkpoint
    var changed = true
    while (changed) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextCount = next.count() // materializes the checkpoint
      // set equality: both frames are distinct, so equal counts plus
      // an empty one-way anti-join ⇒ identical edge sets. The count
      // is free (frames are checkpoint-materialized); the anti-join
      // runs only when the counts tie.
      changed = nextCount != edgeCount || next.except(edges).count() > 0
      edges = next
      edgeCount = nextCount
    }
    // converged: disjoint stars with the component-minimum id at the
    // center. A member's only neighbor is its center; a center's
    // neighbors are all larger, so least(src, min(dst)) labels both.
    edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("cluster_id"))
  }

  /** Cluster labels are a materialized pipeline stage with several
    * consumers: each producer (d06/d09/m07/s11) always recomputes its
    * fixpoint, so its cost stays honestly benchmarked, and refreshes
    * its memo; the derived consumers (d07/x24, d10, m08, s12/s15)
    * reuse the frame — a production job would write labels to a
    * table and read it many times. */
  private def labelsMemo(name: String)(
      pairs: (SparkSession, String) => DataFrame): Memo[DataFrame] =
    Memo(name)((s, dir) =>
      fixpointLabels(pairs(s, dir).select("ida", "idb")))

  /** MinHash-pair labels (d06). */
  private[operators] val minhashLabels =
    labelsMemo("minhash_labels")(Dedup.minhashLshPairsMemo(_, _))

  private def clustersOf(labels: DataFrame, idName: String): DataFrame = {
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_sz"))
    labels.join(sizes, "cluster_id")
      .select(col("id").as(idName), col("cluster_id"), col("cluster_sz"))
      .orderBy(idName)
  }

  /** d06: (doc_id, cluster_id, cluster_sz) for every document that has
    * at least one near-duplicate; cluster_id = min doc_id reachable
    * through near-dup pairs. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(minhashLabels.refresh(s, dir), "doc_id")

  /** Embedding-pair labels (d09). */
  private[operators] val embLabels =
    labelsMemo("emb_labels")(Similarity.embeddingNearDupsBucketedMemo(_, _))

  /** d09: duplicate clusters over the EMBEDDING near-dup graph — the
    * same Hash-Min fixpoint as d06 run on [[Similarity
    * .embeddingNearDupsBucketed]]'s pairs, so the embedding-dedup
    * pipeline has the same pairs → clusters stage the text pipeline
    * has (semantic dup groups spanning more than one pair collapse to
    * one canonical id). */
  def embeddingClusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(embLabels.refresh(s, dir), "vec_id")

  /** aHash-pair labels (m07). */
  private[operators] val ahashLabels =
    labelsMemo("ahash_labels")(Multimodal.ahashPairs)

  /** m07: duplicate clusters over the PERCEPTUAL (aHash) near-dup
    * graph — the multimodal modality gains the same pairs → clusters
    * stage the text (d03→d06) and embedding (d08→d09) pipelines have:
    * m04's hamming-≤6 pairs alone over-delete (a~b and b~c must not
    * delete both b and c independently of a), so re-encoded/resized
    * variants of one asset collapse to one canonical id first. Same
    * star-contraction fixpoint, same diameter-bounded round argument.
    *
    * Scale shape: the pair graph is m04's (banded equi-join, dense-
    * bucket capped); the fixpoint shuffles (id, label) longs only —
    * no payload byte ever enters the clustering. */
  def ahashClusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(ahashLabels.refresh(s, dir), "doc_id")


  /** arg-max per cluster — the member maximizing (score desc, id asc)
    * — as ONE partial-aggregable hash aggregate (round 15). The old
    * form was a per-cluster row_number window filtered to rn = 1;
    * its partition IS a duplicate cluster, and a boilerplate
    * template's near-dup cluster is Θ(corpus) at 100 TB — the
    * t29/i14 single-reducer class in its data-dependent flavor (no
    * construction bound caps a cluster). min(struct(-score, id)) is
    * the identical deterministic selection, combined map-side, so no
    * task ever holds a cluster. Scores here are nonnegative (token
    * counts, e6-floored norms, byte lengths) so the negation cannot
    * overflow; the struct fields keep the score column's own type,
    * preserving each report's gated schema.
    *
    * NULL parity (round-15 ADVICE): the replaced window's `desc`
    * default is NULLS LAST — a null-scored member loses to every
    * non-null one — but a bare min(struct(-score, id)) sorts a NULL
    * struct field FIRST ascending, silently flipping the
    * representative on nullable parquet score columns. The struct
    * leads with an explicit null flag (0 non-null < 1 null) and
    * coalesces the negated key, reproducing desc-NULLS-LAST exactly;
    * the trailing `sc` field carries the untouched original score
    * (never compared — `id` is unique) so an all-null cluster still
    * reports its representative's own NULL score, as the window
    * did. */
  private[graft] def bestPerCluster(members: DataFrame, idCol: String,
      scoreCol: String): DataFrame =
    members.groupBy("cluster_id")
      .agg(max("cluster_sz").as("cluster_sz"),
        min(struct(
          when(col(scoreCol).isNull, lit(1)).otherwise(lit(0)).as("nf"),
          (-coalesce(col(scoreCol), lit(0))).as("ns"),
          col(idCol).as("id"),
          col(scoreCol).as("sc")))
          .as("__best"))
      .select(col("cluster_id"), col("__best.id").as(idCol),
        col("cluster_sz"), col("__best.sc").as(scoreCol))



  /** m08: keep-best per perceptual cluster — the LAION-class curation
    * rule: among perceptual duplicates keep the LARGEST payload (the
    * highest-resolution/least-recompressed variant; byte_len is the
    * stand-in metadata [[Multimodal.mediaTable]] carries), ties →
    * smallest doc_id. d07 keeps the longest TEXT per text cluster;
    * this is its media twin, completing the pairs → clusters →
    * keep-best triple for all three modalities.
    *
    * Scale shape: one per-cluster window rank over the cluster-member
    * frame joined to metadata longs — payload bytes never shuffle. */
  def keepBestMedia(s: SparkSession, dir: String): DataFrame = {
    val cl = clustersOf(ahashLabels(s, dir), "doc_id")
    val bl = graft.operators.Multimodal.mediaTable(s, dir).toDF()
      .select(col("doc_id"), col("byte_len"))
    bestPerCluster(cl.join(bl, "doc_id"), "doc_id", "byte_len")
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("cluster_sz"), col("byte_len").as("rep_byte_len"))
      .orderBy("cluster_id")
  }

  /** s11: semantic clusters — connected components over the
    * mutual-k-NN graph ([[Similarity.mutualKnn]]) instead of the
    * thresholded near-dup graph d09 uses. This is the grouping stage
    * of SemDeDup-style semantic curation: reciprocated top-k edges
    * link vectors that are each other's nearest neighbors even when
    * no pair clears an absolute cosine bar, so the components are
    * "topics" rather than "duplicates" — the unit a pipeline
    * downsamples (keep n per topic) rather than deletes.
    *
    * Scale shape: the edge set is at most n·k/2 rows by construction
    * (mutual top-k), so the star-contraction fixpoint starts from a
    * graph that is already linear in the corpus; every round shrinks
    * it. Same O(log n) round bound as d06/d09 (see object scaladoc).
    * Singleton vectors (no reciprocated edge) are deliberately absent,
    * matching d06/d09's members-only convention. */
  def knnComponents(s: SparkSession, dir: String): DataFrame =
    clustersOf(knnLabels.refresh(s, dir), "vec_id")

  /** Mutual-kNN labels (s11). */
  private[operators] val knnLabels =
    labelsMemo("knn_labels")(Similarity.mutualKnn(_, _))

  /** s12: semantic-representative selection — one vector per s11
    * topic component, largest L2 norm (ties to the smallest vec_id).
    * This is the pruning half of SemDeDup-style curation: [[
    * knnComponents]] groups, this picks what survives; together they
    * turn the mutual-kNN graph into a downsampled corpus. Same
    * quality-window shape as d10 (any per-vector score slots into
    * the window); reuses a same-session/dir labels frame when s11
    * already ran, so the iterative fixpoint is paid once. */
  def semanticReps(s: SparkSession, dir: String): DataFrame = {
    val cl = clustersOf(knnLabels(s, dir), "vec_id")
    val nr = Similarity.vecNorms(s, dir)
      .select(col("vec_id"),
        floor(col("nrm") * 1000000).cast("long").as("norm_e6"))
    bestPerCluster(cl.join(nr, "vec_id"), "vec_id", "norm_e6")
      .select(col("cluster_id"), col("vec_id").as("rep_vec_id"),
        col("cluster_sz"), col("norm_e6").as("rep_norm_e6"))
      .orderBy("cluster_id")
  }

  /** d10: canonical-vector selection per embedding cluster — keep the
    * member with the largest L2 norm (ties to the smallest vec_id),
    * the embedding analog of d07's most-tokens rule (a larger norm is
    * the stronger signal under cosine geometry; any per-vector quality
    * score slots into the same window). Norm is exposed e6-floored so
    * the DuckDB oracle matches bit-for-bit (the same sequential-fold
    * sqrt both sides). */
  def keepBestEmbedding(s: SparkSession, dir: String): DataFrame = {
    val cl = clustersOf(embLabels(s, dir), "vec_id")
    val nr = Similarity.vecNorms(s, dir)
      .select(col("vec_id"),
        floor(col("nrm") * 1000000).cast("long").as("norm_e6"))
    bestPerCluster(cl.join(nr, "vec_id"), "vec_id", "norm_e6")
      .select(col("cluster_id"), col("vec_id").as("rep_vec_id"),
        col("cluster_sz"), col("norm_e6").as("rep_norm_e6"))
      .orderBy("cluster_id")
  }

  /** d07: canonical-document selection — keep exactly one document per
    * near-dup cluster, the one with the most tokens (ties to the
    * smallest doc_id). This is the step that turns cluster labels into
    * a deletion list; quality-ranked (not min-id) selection is what
    * production pipelines do so the best copy survives.
    *
    * Cost over d06: one narrow token-count projection + a window rank
    * inside each cluster (clusters are tiny — the rank never sees more
    * rows than the cluster size). Reuses a same-session/dir labels
    * frame when d06 already computed one (see [[minhashLabels]]), so the
    * iterative fixpoint is not paid twice for the same inputs. */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    val cl = clustersOf(minhashLabels(s, dir), "doc_id")
    val ntoks = graft.operators.TextHash
      .fanOut(graft.engine.Tables.t(s, dir, "documents"))
      .select(col("doc_id"),
        size(graft.operators.TextHash.tokens(col("text"))).as("n_toks"))
    bestPerCluster(cl.join(ntoks, "doc_id"), "doc_id", "n_toks")
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("cluster_sz"), col("n_toks").cast("int").as("rep_n_toks"))
      .orderBy("cluster_id")
  }

  /** Salt for the x24 keep decision's content hash. The polynomial
    * hash of `salt ++ text` is an affine bijection (·31^len + c mod
    * P2) of the hash of `text`, so the mod-1e6 keep decision is
    * decorrelated from the OTHER P2-mod decisions on the same
    * document (t13's `% 1000` sampling) without burning a fourth
    * prime modulus. */
  val SoftDedupSalt = "softdedup:"

  /** x24: soft (weighted) deduplication sampling — instead of
    * deleting all-but-one document per near-dup cluster (d07's hard
    * rule), each member is kept with probability 1/cluster_sz, so
    * every cluster contributes ONE document in expectation while the
    * survivor set stays diverse across pipeline re-runs over growing
    * corpora. This is the "duplication-aware sampling weight" used
    * when a training mixture should not silently up-weight content
    * that happens to be duplicated (boilerplate, mirrors): a
    * cluster of 40 mirrors carries the weight of one document.
    * Membership is the deterministic salted content hash (`h % 1e6 ·
    * sz < 1e6`), never rand(), so the sample is reproducible and
    * join-stable. Output is the per-cluster-size audit card: how many
    * docs/clusters each size bucket holds, how many docs survived,
    * and the exact-integer realized keep rate per bucket.
    *
    * Scale shape: reuses d06's memoized star-contraction labels (the
    * one iterative stage, already diameter-bounded); singletons never
    * enter the label join — they short-circuit through the left join
    * with cluster_sz = 1. One narrow hash projection over the corpus,
    * one equi-join on doc_id against the (small) labelled-duplicate
    * set, one partial-aggregated groupBy on cluster_sz (a handful of
    * distinct keys). */
  def softDedupSample(s: SparkSession, dir: String): DataFrame = {
    val cl = clustersOf(minhashLabels(s, dir), "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_sz"))
    val salted = s"concat('${SoftDedupSalt}', lower(text))"
    val d = graft.operators.TextHash
      .fanOut(graft.engine.Tables.t(s, dir, "documents"))
      .select(col("doc_id"),
        expr(graft.operators.TextHash.rollingHashExpr(
          salted, graft.operators.TextHash.P2)).as("h"))
    d.join(cl, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("h"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"),
        coalesce(col("cluster_sz"), lit(1L)).as("cluster_sz"))
      .withColumn("keep",
        when(col("h") % 1000000L * col("cluster_sz") < 1000000L, 1L)
          .otherwise(0L))
      .groupBy("cluster_sz")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cid")).as("n_clusters"),
        sum(col("keep")).as("n_kept"))
      .withColumn("keep_rate_e6",
        expr("n_kept * 1000000 div n_docs"))
      .orderBy("cluster_sz")
  }

  /** s15: cluster-quality audit — per s11 topic component: size,
    * internal vs escaping DIRECTED kNN edges (s09), and the
    * conductance-style escape ratio. The s11 components are built
    * from the MUTUAL edges, so measuring them against the mutual
    * graph would be vacuous (every edge internal by construction);
    * against the full directed kNN graph the ratio is the real
    * cohesion signal — a topic whose members' nearest neighbors
    * mostly point OUT of the topic is a chaining artifact, exactly
    * what a curation team inspects before trusting s12's one-rep-per-
    * topic pruning. escape_e6 is exact-integer:
    * floor(1e6·cut/(internal+cut)).
    *
    * Scale shape: two broadcast-scale equi-joins of the n·k edge list
    * against the label table, one partial-agg groupBy per cluster —
    * nothing touches the corpus beyond the already-built graph, and
    * the memoized s11 fixpoint labels are reused, not recomputed. */
  def clusterQuality(s: SparkSession, dir: String): DataFrame = {
    val cl = clustersOf(knnLabels(s, dir), "vec_id")
    val lab = cl.select(col("vec_id"), col("cluster_id"))
    val g = Similarity.knnGraphMemo(s, dir)
      .select(col("vec_id"), col("neighbor_id"))
    val e = g.join(lab, "vec_id") // source must be labeled
      .join(lab.select(col("vec_id").as("neighbor_id"),
          col("cluster_id").as("cb")),
        Seq("neighbor_id"), "left") // unlabeled neighbor = escape
    val per = e.groupBy("cluster_id")
      .agg(sum(when(col("cb") === col("cluster_id"), 1L).otherwise(0L))
          .as("internal_edges"),
        sum(when(col("cb").isNull || col("cb") =!= col("cluster_id"), 1L)
          .otherwise(0L)).as("escape_edges"))
    cl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_sz"))
      .join(per, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("cluster_sz"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("escape_edges"), lit(0L)).as("escape_edges"))
      .withColumn("escape_e6",
        when(col("internal_edges") + col("escape_edges") === 0, 0L)
          .otherwise(expr(
            "(1000000L * escape_edges) div (internal_edges + escape_edges)")))
      .orderBy("cluster_id")
  }
}
