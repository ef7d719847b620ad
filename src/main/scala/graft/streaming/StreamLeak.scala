package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextHash}

/** Streaming benchmark decontamination: the live form of the gated x29
  * ([[graft.operators.Dedup.decontaminate]]) — the shape a real ingest
  * pipeline runs, where documents arrive continuously and the
  * benchmark they must not contain is a FIXED eval set.
  *
  * Unlike the aggregate twins (StreamDrift/StreamMinhash/
  * StreamCentroid, bounded |sources|·k state), this one is STATELESS:
  * each arriving document's verdict depends only on itself and the
  * static benchmark, so the query runs in append mode with zero keyed
  * state however much text streams through. The benchmark gram
  * universe rides along as a 1-row static array crossJoined into the
  * stream (the StreamDrift top-V-cut discipline) and the per-doc hit
  * count is `array_intersect` — no explode, no shuffle, no
  * aggregation. A real benchmark (MMLU-class) is a few MB of 8-byte
  * hashes; the driver-SF stand-in (the t07 test split) is
  * corpus-proportional, which is exactly why the GATED x29 joins it
  * instead of broadcasting — the streaming form documents the
  * benchmark-is-small contract its crossJoin assumes.
  *
  * StreamingSpec replays the sf0.001 train split across two triggers
  * and pins that the appended verdicts reproduce the gated x29 rows
  * EXACTLY.
  */
object StreamLeak {

  /** The static side: distinct benchmark gram hashes as ONE row
    * holding the array — built once from a batch frame of benchmark
    * documents (text column), by x29's own
    * [[Dedup.decontamGrams]]. */
  def benchmarkGrams(benchDocs: DataFrame): DataFrame = {
    graft.functions.TextHashExprs.register(benchDocs.sparkSession)
    benchDocs
      .select(TextHash.tokens(col("text")).as("tk"))
      .select(explode(Dedup.decontamGrams("tk")).as("g"))
      .distinct()
      .agg(collect_list(col("g")).as("bg"))
  }

  /** Input: streaming (doc_id, source, text) + the 1-row static
    * benchmark array; output: appended contamination verdicts —
    * x29's row shape, one per contaminated arriving document. */
  def decontaminateStream(docs: DataFrame, benchGrams: DataFrame)
      : DataFrame = {
    graft.functions.TextHashExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col("source"),
        TextHash.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"), Dedup.decontamGrams("tk").as("gs"))
      .filter(size(col("gs")) > 0)
      .crossJoin(benchGrams) // 1-row static benchmark array
      .select(col("doc_id"), col("source"),
        size(col("gs")).cast("long").as("n_grams"),
        size(array_intersect(col("gs"), col("bg"))).cast("long")
          .as("n_hit"))
      .filter(col("n_hit") >= 1)
      .withColumn("hit_ratio_e6",
        expr("(1000000L * n_hit) div n_grams"))
  }
}
