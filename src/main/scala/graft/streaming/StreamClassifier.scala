package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming quality-classifier SERVING: the live form of the trained
  * filter x33 applies in batch ([[graft.operators.TextAnalysis]]'s
  * trained margins) — the shape a real ingest pipeline runs, where
  * documents arrive continuously and the MODEL is a fixed artifact
  * trained offline (t36) and accepted offline (t37).
  *
  * Like StreamLeak this is STATELESS: each arriving document's margin
  * depends only on itself and the static weight table, so the query
  * runs in append mode with zero keyed state however much text
  * streams through. The 4097-row trained artifact rides along as a
  * ONE-ROW static map crossJoined into the stream (the StreamLeak
  * 1-row-static discipline — ~64 KB, the definition of a
  * bounded-by-construction model side), and the margin is a single
  * `aggregate` fold over the document's own hashed feature array —
  * no explode, no shuffle, no aggregation state.
  *
  * StreamingSpec replays sf0.001 documents across two triggers and
  * pins that the appended (doc_id, m, keep_cls) rows reproduce the
  * batch trained margins EXACTLY — train offline, serve online, same
  * verdicts.
  */
object StreamClassifier {

  /** The static side: t36's trained weight table collapsed to one
    * map row — in production, the model artifact read from storage. */
  def weightMap(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierTrain(s, dir)
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("w"))).as("wm"))

  /** Input: streaming (doc_id, source, text) + the 1-row static
    * weight map; output: appended per-document margins and keep
    * verdicts — the serving rule x33 uses (m > 0; sign(0) negative). */
  def scoreStream(docs: DataFrame, weights: DataFrame): DataFrame = {
    graft.functions.TextHashExprs.register(docs.sparkSession)
    TextAnalysis.clsFeatureTerms(docs)
      // per-occurrence hashed buckets (tf carried by multiplicity) +
      // the always-on bias bucket — t36/t37's featurization
      .select(col("doc_id"), col("source"),
        concat(transform(TextAnalysis.clsHashes, TextAnalysis.clsBucket(_)),
          array(lit(TextAnalysis.ClsBiasBucket))).as("bk"))
      .crossJoin(weights) // 1-row static model artifact
      .select(col("doc_id"), col("source"),
        expr("aggregate(bk, 0L, (acc, b) -> acc + coalesce(wm[b], 0L))")
          .as("m"))
      .withColumn("keep_cls", (col("m") > 0L).cast("int"))
  }
}
