package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact dedup for an ingest pipeline: incoming documents
  * are reduced to a 16-byte digest and deduplicated within the
  * watermark horizon — the streaming twin of [[graft.operators.Dedup.exact]].
  *
  * `dropDuplicatesWithinWatermark` keeps state only for the watermark
  * window, so state size is bounded by (ingest rate × horizon), not by
  * corpus size — the property that makes this viable on an unbounded
  * 100 TB/day feed. Cross-horizon dupes are then removed by the batch
  * dedup during compaction (the standard lambda split).
  */
object StreamDedup {

  /** The watermark horizon dedup state covers. */
  val Horizon = "1 hour"

  /** Input: streaming (doc_id, ts, text); output: first-seen rows per
    * digest within the watermark [[Horizon]]. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("ts"), md5(lower(col("text"))).as("text_md5"))
      .withWatermark("ts", Horizon)
      .dropDuplicatesWithinWatermark("text_md5")
}
