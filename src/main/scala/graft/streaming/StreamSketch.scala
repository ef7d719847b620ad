package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Sketches

/** Streaming count-min sketch fill: an incremental frequency sketch of
  * an unbounded token stream.
  *
  * Each arriving document explodes into (depth × tokens) cell
  * increments; the running aggregate IS the sketch. The state table
  * holds at most depth·width rows however much data streams through —
  * the defining property that makes frequency tracking viable on an
  * unbounded feed (a streaming exact `groupBy(term)` would grow state
  * with the vocabulary). The fill is the batch
  * [[graft.operators.Sketches.countMinTopTerms]]'s own
  * ([[Sketches.termHashes]] then [[Sketches.cmFill]]), so a batch
  * probe of the streamed cell table yields the same one-sided
  * estimates.
  */
object StreamSketch {

  /** Input: streaming frame with a `text` column; output: running
    * (cell, cnt) — the live count-min table. */
  def countMinStream(docs: DataFrame): DataFrame = {
    // batch operators reach the native hash functions through
    // Tables.t; a streaming twin takes a bare DataFrame, so it must
    // register them itself or fail analysis on a fresh session
    graft.functions.TextHashExprs.register(docs.sparkSession)
    Sketches.cmFill(Sketches.termHashes(docs))
  }
}
