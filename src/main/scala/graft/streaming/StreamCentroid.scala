package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** Streaming per-source embedding-centroid moments: the live form of
  * the gated s29 embedding-drift card
  * ([[graft.operators.Similarity.sourceEmbeddingDrift]]).
  *
  * A production ingest watches WHILE vectors stream in whether a
  * source's embedding centroid is wandering from the corpus mean or
  * collapsing onto another source — the failure modes an upstream
  * encoder swap or a mis-routed feed produces. The state design that
  * makes this viable unbounded: the per-(source, dim) count / Σv /
  * Σv² moments are mergeable by construction, so each arriving
  * vector folds into the running aggregate with a plain streaming
  * groupBy and the state table holds exactly |sources|·dims rows
  * however many vectors stream through. A streaming form that kept
  * members (for a join-back dispersion) would grow state with the
  * corpus — the same reason the batch query computes its dispersion
  * from the algebraic identity instead of a member join.
  *
  * A batch probe of the moment table ([[driftCard]]) reproduces the
  * gated s29 card EXACTLY once the stream has carried the same corpus
  * — StreamingSpec pins the equivalence at sf0.001 across a
  * two-trigger replay, so trigger boundaries provably do not leak
  * into the report.
  */
object StreamCentroid {

  /** Input: streaming frame with (source, embedding array&lt;float&gt;);
    * output: running (source, dim, n, s_e6, ss) — the live mergeable
    * centroid moments, by s29's own
    * [[Similarity.centroidMoments]]. */
  def centroidMomentsStream(vecs: DataFrame): DataFrame =
    Similarity.centroidMoments(vecs)

  /** Batch probe of a (source, dim, n, s_e6, ss) moment table: the
    * full s29 drift card via the SAME
    * [[Similarity.driftFromMoments]] the gated query runs. The input
    * is |sources|·dims rows, so this is metadata-scale.
    *
    * localCheckpoint (eager, tiny) snapshots the live state FIRST:
    * the card self-joins its input (centroid pairs, corpus-centroid
    * probe), and a memory-sink table view is not a
    * MultiInstanceRelation — Catalyst cannot deduplicate the
    * conflicting attribute ids a raw state view would put on both
    * sides. A snapshot is also the right read of a moving state
    * table: every branch of the report sees the same instant. */
  def driftCard(moments: DataFrame): DataFrame =
    Similarity.driftFromMoments(moments.localCheckpoint())
}
