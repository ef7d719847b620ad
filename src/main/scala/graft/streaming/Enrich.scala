package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Stream-static enrichment join: attach dimension metadata to a
  * stream at ingest. The static side is broadcast, so the stream never
  * shuffles and no join state accumulates — unlike stream-stream
  * joins, this is safe at any input rate and is the standard first
  * stage of an event pipeline (attach experiment/source/catalog
  * metadata before windowed aggregation).
  *
  * At 100 TB/day: the dimension is re-broadcast per micro-batch, so
  * catalog updates propagate without restarting the query.
  */
object Enrich {

  /** The column events and dimension join on. */
  val JoinKey = "event_type"

  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq(JoinKey))
}
