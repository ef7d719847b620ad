package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Streaming shard assignment: the live form of the gated x30
  * ([[graft.operators.Curation.shardManifest]]) — the shape a
  * continuous ingest-to-training pipeline runs, where documents
  * arrive and must land in their output shard immediately.
  *
  * Like StreamLeak this is STATELESS (append mode, zero keyed state):
  * the shard of a document depends only on its own id and the FIXED
  * shard count the batch planner chose — which is exactly why
  * production sharding keys on metadata hashes instead of running
  * totals: a totals-derived assignment (x30's batch form derives S
  * from total tokens) can only be computed after the corpus closes,
  * so the live form consumes S as a 1-row static planning frame
  * (stream-static crossJoin — no driver read) and the batch manifest
  * is the planning step that picks it. The per-shard running balance is
  * then a plain streaming aggregate over S keys — bounded state S,
  * the StreamDrift discipline.
  *
  * StreamingSpec replays sf0.001 across two triggers with S taken
  * from the batch x30 run and pins that (a) every document's shard
  * equals the batch assignment and (b) the final per-shard
  * (n_docs, n_tokens) state equals the batch manifest.
  */
object StreamShard {

  /** Input: streaming (doc_id, text) plus the 1-row planned-shards
    * static frame; output: appended per-doc shard assignments
    * (doc_id, n_toks, key, shard) under the planned shard count, by
    * x30's own [[Curation.shardInputs]] and [[Curation.shardOf]].
    * The shard count rides as a stream-static crossJoin of the 1-row
    * planning frame (the idiom every gated scalar uses), so nothing is
    * read at the driver at plan-build time. */
  def shardStream(docs: DataFrame, planned: DataFrame): DataFrame = {
    graft.functions.TextHashExprs.register(docs.sparkSession)
    Curation.shardInputs(docs)
      .crossJoin(planned) // 1-row static side per micro-batch
      .withColumn("shard", Curation.shardOf)
      .drop("n_shards")
  }

  /** Running per-shard balance over the assignment stream — bounded
    * state: exactly the planned shard count of rows however much text
    * streams through. */
  def shardBalanceStream(assigned: DataFrame): DataFrame =
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))

  /** The batch planning step the live form consumes: x30's
    * data-derived shard count for a closed corpus directory, as a
    * 1-row static frame for the stream-static join. */
  def plannedShards(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Curation.shardManifest(s, dir)
      .agg(max(col("n_shards")).as("n_shards"))
}
