package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis, TextHash}

/** Streaming per-source MinHash sketch: the live form of the gated t32
  * source-overlap estimate
  * ([[graft.operators.TextAnalysis.sourceSimilaritySketch]]).
  *
  * The sketch is mergeable by construction — min over a union of
  * shingle sets = min of the per-part mins — so each arriving
  * document's k-component signature folds into the running
  * per-(source, i) minimum with a plain streaming aggregate. The state
  * table holds at most |sources|·k rows however much text streams
  * through (the StreamSketch/StreamDrift bounded-state discipline); a
  * streaming form of t31's EXACT overlap would instead grow state with
  * the distinct-shingle universe, which is the reason the sketch path
  * exists at all.
  *
  * A batch pairing of the final state ([[pairEstimates]]) reproduces
  * t32's est_jac_e6 EXACTLY once the stream has carried the same
  * corpus — StreamingSpec pins the equivalence at sf0.001 across a
  * two-trigger replay, so trigger boundaries provably do not leak into
  * the estimate.
  */
object StreamMinhash {

  /** Input: streaming frame with (source, text); output: running
    * (source, i, v) — the live per-source MinHash component minima,
    * by t32's own [[TextAnalysis.sourceSketch]]. Docs with no
    * shingles (< 5 tokens) carry no signature, matching the batch
    * twin. */
  def sourceMinhashStream(docs: DataFrame): DataFrame = {
    // batch operators reach the native hash expressions through
    // Tables.t; streaming takes a bare frame, so register here
    graft.functions.TextHashExprs.register(docs.sparkSession)
    TextAnalysis.sourceSketch(
      TextHash.shingleHashesBy(docs, "source").filter(col("n_sh") > 0))
  }

  /** Batch probe of a (source, i, v) sketch table: t32's
    * [[TextAnalysis.sketchPairs]] over a snapshot of the state (the
    * estimator self-joins; see [[StreamCentroid.driftCard]]). */
  def pairEstimates(sk: DataFrame): DataFrame =
    TextAnalysis.sketchPairs(sk.localCheckpoint())
}
