package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Sessionize._

/** Structured Streaming specs: MemoryStream drives the streaming
  * operators; results must agree with the batch twins. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedCountsStream aggregates 1-hour windows with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = windowedCountsStream(df).writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0),
      (ts("2024-01-01 10:10:00"), "view", 8.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select(date_format(col("w_start"), "HH:mm").as("w"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    q.stop()
    assert(rows == Set(("10:00", "click", 2L, 3.0), ("11:00", "click", 1L, 4.0),
      ("10:00", "view", 1L, 8.0)))
  }

  test("streaming count-min cell table equals the batch fill") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.TextHashExprs.register(spark)
    val texts = Seq("the cat sat", "the dog ran", "the cat ran fast")
    val mem = MemoryStream[String]
    val q = StreamSketch.countMinStream(mem.toDF().toDF("text")).writeStream
      .format("memory").queryName("cm_out").outputMode("complete").start()
    mem.addData(texts: _*)
    q.processAllAvailable()
    val streamed = spark.table("cm_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = StreamSketch.countMinStream(texts.toDF("text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    // total increments = tokens × depth
    assert(streamed.values.sum ==
      texts.map(_.split(" ").length).sum * graft.operators.Sketches.CmDepth)
  }

  test("batch sessionization splits on a gap of exactly the threshold") {
    import spark.implicits._
    // the boundary rule the sf0.1 oracle run pinned down: gap >= 5min
    // starts a new session (session_window would MERGE the exact-300s
    // gap — that is why the batch path uses the lag+cumsum form)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:05:00")), // gap exactly 300s -> split
      (2L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 10:04:59"))) // gap 299s -> merge
      .toDF("user_id", "ts")
    val got = sessionizeEvents(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(got.count(_._1 == 1L) == 2, "exact-threshold gap must split")
    assert(got.filter(_._1 == 2L).toSeq ==
      Seq((2L, "2024-01-01 10:00:00", 2L)), "sub-threshold gap must merge")
  }

  test("sessionizeStream groups events with session_window semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val q = sessionizeStream(df).writeStream
      .format("memory").queryName("sess_out").outputMode("complete").start()
    mem.addData(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:03:00")), // same session (gap 3m)
      (1L, ts("2024-01-01 10:20:00")), // new session (gap 17m)
      (2L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sess_out")
      .select(col("user_id"), date_format(col("session_start"), "HH:mm"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set((1L, "10:00", 2L), (1L, "10:20", 1L), (2L, "10:00", 1L)))
  }

  test("stream-static enrichment joins without state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", "engagement"), ("view", "impression"))
      .toDF("event_type", "category")
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "event_type")
    val q = Enrich.enrichStream(df, dim).writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), "click"),
      (ts("2024-01-01 10:01:00"), "view"),
      (ts("2024-01-01 10:02:00"), "unknown")) // inner join drops it
    q.processAllAvailable()
    val rows = spark.table("enrich_out")
      .select("event_type", "category")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set(("click", "engagement"), ("view", "impression")))
  }

  test("streaming dedup keeps one row per digest within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamDedup.dedupStream(df).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    mem.addData(
      (1L, ts("2024-01-01 10:00:00"), "Hello World"),
      (2L, ts("2024-01-01 10:01:00"), "hello world"), // dup (case-folded)
      (3L, ts("2024-01-01 10:02:00"), "something else"))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    assert(ids.size == 2, s"expected 2 unique digests, got $ids")
    assert(ids.contains(3L))
    assert(ids.contains(1L) ^ ids.contains(2L),
      "exactly one of the duplicate pair survives")
  }

  test("stream-stream attribution join bounds matches to the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = StreamJoin.clickAttribution(df, df).writeStream
      .format("memory").queryName("attr_out").outputMode("append").start()
    mem.addData(
      (1L, 7L, "click", ts("2024-01-01 10:00:00")),
      (2L, 7L, "purchase", ts("2024-01-01 10:10:00")), // within 30m of click 1
      (3L, 7L, "purchase", ts("2024-01-01 11:00:00")), // beyond horizon
      (4L, 8L, "purchase", ts("2024-01-01 10:05:00")), // other user, no click
      (5L, 9L, "click", ts("2024-01-01 10:20:00"))) // click without purchase
    q.processAllAvailable()
    val rows = spark.table("attr_out")
      .select("purchase_id", "click_id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set((2L, 1L, 7L)),
      s"only the in-horizon same-user pair may match, got $rows")
  }

  test("stateful sessionizer closes sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionizeStateful(mem.toDS()).writeStream
      .format("memory").queryName("state_out").outputMode("append").start()
    // two bursts for user 1 separated by > gap; second burst closes first
    mem.addData(Event(1L, ts("2024-01-01 10:00:00")),
      Event(1L, ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    mem.addData(Event(1L, ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    val rows = spark.table("state_out").as[SessionOut].collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.user_id == 1L && rows.head.n == 2L)
    assert(rows.head.endMs - rows.head.startMs == 2 * 60 * 1000L)
  }

  test("stateful sessionizer drops events beyond the merge horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionizeStateful(mem.toDS()).writeStream
      .format("memory").queryName("state_drop_out").outputMode("append").start()
    mem.addData(Event(1L, ts("2024-01-01 10:00:00")),
      Event(1L, ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    // hours older than session start - gap: batch semantics would make
    // a separate earlier session; the state machine drops it like a
    // one-gap watermark would, instead of absorbing it (which would
    // silently stretch session_start back to 05:00)
    mem.addData(Event(1L, ts("2024-01-01 05:00:00")))
    q.processAllAvailable()
    // boundary: EXACTLY one gap before the session start must also
    // drop — the batch rule splits on gap >= threshold, so 09:55:00
    // against start 10:00:00 (gap 5 min) is a separate session
    mem.addData(Event(1L, ts("2024-01-01 09:55:00")))
    q.processAllAvailable()
    mem.addData(Event(1L, ts("2024-01-01 11:00:00"))) // closes the session
    q.processAllAvailable()
    val rows = spark.table("state_drop_out").as[SessionOut].collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.n == 2L, s"too-late event must not join the session: ${rows.head}")
    assert(rows.head.startMs == ts("2024-01-01 10:00:00").getTime,
      "session start must not be stretched backwards by a dropped event")
  }

  test("timeout sessionizer flushes an idle session by watermark alone") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionizeStatefulTimeout(mem.toDS()).writeStream
      .format("memory").queryName("state_timeout_out")
      .outputMode("append").start()
    mem.addData(Event(1L, ts("2024-01-01 10:00:00")),
      Event(1L, ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    // no further user-1 events: another user's much-later event
    // advances the watermark past 10:02 + gap, firing user 1's timer
    mem.addData(Event(2L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    mem.addData(Event(2L, ts("2024-01-01 13:00:00"))) // extra batch to fire timers
    q.processAllAvailable()
    val rows = spark.table("state_timeout_out").as[SessionOut].collect()
      .filter(_.user_id == 1L)
    q.stop()
    assert(rows.length == 1,
      s"idle session must flush on watermark timeout, got ${rows.toSeq}")
    assert(rows.head.n == 2L &&
      rows.head.endMs - rows.head.startMs == 2 * 60 * 1000L)
  }

  test("streamed upsert state on real events equals the gated x08 values") {
    // the streaming twin of the driver-gated x08 (Merge.snapshotUpsert):
    // feed the actual sf0.001 event log through the update-mode state
    // machine in three micro-batches; the final per-user state must
    // equal the batch operator's merged v_e6 on the same data
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val events = graft.engine.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), floor(col("value") * 1000000).cast("long").as("v_e6"))
      .as[(Long, Long, Long, Long)].collect()
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val q = StreamUpsert.latestValueStream(
        mem.toDF().toDF("user_id", "us", "event_id", "v_e6")).writeStream
      .format("memory").queryName("upsert_equiv_out")
      .outputMode("complete").start()
    events.grouped(math.max(events.length / 3, 1))
      .foreach { chunk => mem.addData(chunk.toSeq: _*); q.processAllAvailable() }
    val streamed = spark.table("upsert_equiv_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = graft.operators.Merge.snapshotUpsert(spark, dir)
      .select("user_id", "v_e6").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"streamed state diverges from x08 on ${streamed.size}/${batch.size} users")
  }

  test("streamed count-min cells on real documents equal the batch fill") {
    // micro-batched fill over the actual sf0.001 corpus must build the
    // identical sketch table the gated t15 probes
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val texts = graft.engine.Tables.t(spark, dir, "documents")
      .select("text").as[String].collect()
    val mem = MemoryStream[String]
    val q = StreamSketch.countMinStream(mem.toDF().toDF("text")).writeStream
      .format("memory").queryName("cm_equiv_out").outputMode("complete").start()
    texts.grouped(math.max(texts.length / 3, 1))
      .foreach { chunk => mem.addData(chunk.toSeq: _*); q.processAllAvailable() }
    val streamed = spark.table("cm_equiv_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = StreamSketch.countMinStream(texts.toSeq.toDF("text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streamed attribution join on real events equals the batch join") {
    // batch-equivalence for StreamJoin: the same clickAttribution code
    // runs the sf0.001 event log both as a 3-micro-batch stream and as
    // a batch frame (EventTimeWatermark is a no-op in batch). Chunks
    // are ts-ordered so the inter-batch watermark cannot drop rows —
    // the one semantic difference watermarking is ALLOWED to introduce.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .orderBy("ts")
      .as[(Long, Long, String, Timestamp)].collect()
    val mem = MemoryStream[(Long, Long, String, Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = StreamJoin.clickAttribution(df, df).writeStream
      .format("memory").queryName("attr_equiv_out").outputMode("append").start()
    ev.grouped(math.max(ev.length / 3, 1))
      .foreach { chunk => mem.addData(chunk.toSeq: _*); q.processAllAvailable() }
    val streamed = spark.table("attr_equiv_out")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val evDf = ev.toSeq.toDF("event_id", "user_id", "event_type", "ts")
    val batch = StreamJoin.clickAttribution(evDf, evDf)
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} pairs, batch ${batch.size}")
  }

  test("streamed dedup on real documents finds the gated d01 classes") {
    // batch-equivalence for StreamDedup vs d01 (Dedup.exact): the
    // surviving digest set and class count must match. Survivor
    // IDENTITY within a class legitimately differs (stream keeps
    // first-arrival, batch keeps min doc_id) — the class partition is
    // the semantics; which member represents it is arrival order.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), lit(ts("2024-01-01 10:00:00")).as("ts"),
        col("text"))
      .as[(Long, Timestamp, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = StreamDedup.dedupStream(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream
      .format("memory").queryName("dedup_equiv_out").outputMode("append").start()
    docs.grouped(math.max(docs.length / 3, 1))
      .foreach { chunk => mem.addData(chunk.toSeq: _*); q.processAllAvailable() }
    val streamedDigests = spark.table("dedup_equiv_out").select("text_md5")
      .collect().map(_.getString(0)).toSeq
    q.stop()
    val batchDigests = graft.engine.Tables.t(spark, dir, "documents")
      .select(md5(lower(col("text"))).as("d")).distinct()
      .collect().map(_.getString(0)).toSet
    val d01Rows = graft.operators.Dedup.exact(spark, dir).count()
    assert(streamedDigests.size == streamedDigests.toSet.size,
      "a digest class must survive exactly once")
    assert(streamedDigests.toSet == batchDigests)
    assert(streamedDigests.size.toLong == d01Rows)
  }

  test("stream-static enrichment on real events equals the batch broadcast join") {
    // batch-equivalence for Enrich vs the q09 MAPJOIN shape: the same
    // enrichStream code over the sf0.001 event log, streamed in 3
    // micro-batches vs run as one batch broadcast join — stateless, so
    // the multisets must be identical, no caveats
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val dim = Seq(("click", "engagement"), ("view", "impression"),
      ("purchase", "conversion")).toDF("event_type", "category")
    val ev = graft.engine.Tables.t(spark, dir, "events")
      .select(col("event_id"), col("event_type"))
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = Enrich.enrichStream(mem.toDF().toDF("event_id", "event_type"), dim)
      .writeStream
      .format("memory").queryName("enrich_equiv_out").outputMode("append").start()
    ev.grouped(math.max(ev.length / 3, 1))
      .foreach { chunk => mem.addData(chunk.toSeq: _*); q.processAllAvailable() }
    val streamed = spark.table("enrich_equiv_out")
      .select("event_id", "category")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    q.stop()
    val batch = Enrich.enrichStream(ev.toSeq.toDF("event_id", "event_type"), dim)
      .select("event_id", "category")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("probing the streamed sketch reproduces the gated t15 estimates") {
    // closes the loop t15-wards: fill the sketch from the stream, then
    // answer t15's top-term probes from the STREAMED cell table — the
    // estimates must equal the gated batch operator's cm_est column
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val texts = graft.engine.Tables.t(spark, dir, "documents")
      .select("text").as[String].collect()
    val mem = MemoryStream[String]
    val q = StreamSketch.countMinStream(mem.toDF().toDF("text")).writeStream
      .format("memory").queryName("cm_probe_out").outputMode("complete").start()
    texts.grouped(math.max(texts.length / 3, 1))
      .foreach { chunk => mem.addData(chunk.toSeq: _*); q.processAllAvailable() }
    val streamedCells = spark.table("cm_probe_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    val t15 = graft.operators.Sketches.countMinTopTerms(spark, dir)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("cm_est"))
    assert(t15.nonEmpty)
    val termCells = t15.map(_._1).toSeq.toDF("term")
      .select(col("term"), expr(graft.operators.Sketches.cmCellsExpr(
        s"rolling_hash_str(term, ${graft.operators.TextHash.P}L)")).as("cells"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    t15.foreach { case (term, est) =>
      val streamedEst = termCells(term).map(streamedCells.getOrElse(_, 0L)).min
      assert(streamedEst == est,
        s"'$term': streamed-cell probe $streamedEst != gated t15 $est")
    }
  }

  test("streaming latest-value upsert emits per-batch change feeds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val df = mem.toDF().toDF("user_id", "us", "event_id", "v_e6")
    // update mode IS the contract (the change feed a foreachBatch
    // MERGE consumes): each micro-batch may only emit touched keys
    val q = StreamUpsert.latestValueStream(df).writeStream
      .format("memory").queryName("upsert_out").outputMode("update").start()
    // batch 1 = the "snapshot"; batch 2 = the change feed (update for
    // user 1, insert for user 3, nothing for user 2 — a keep)
    mem.addData((1L, 100L, 1L, 10L), (1L, 200L, 2L, 20L), (2L, 50L, 3L, 5L))
    q.processAllAvailable()
    val batch1 = spark.table("upsert_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(batch1.toMap == Map(1L -> 20L, 2L -> 5L))
    mem.addData((1L, 300L, 4L, 30L), (3L, 10L, 5L, 7L))
    q.processAllAvailable()
    val all = spark.table("upsert_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    q.stop()
    // batch 2 appended rows for the touched keys only (1 and 3, not 2)
    val batch2 = all.drop(batch1.length)
    assert(batch2.toMap == Map(1L -> 30L, 3L -> 7L))
    // converged state = latest row per key = the batch-merge outcome
    assert(all.toMap == Map(1L -> 30L, 2L -> 5L, 3L -> 7L))
  }

  test("foreachBatch MERGE consumes the upsert change feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val df = mem.toDF().toDF("user_id", "us", "event_id", "v_e6")
    // the serving table a lakehouse MERGE would maintain; upserting
    // each micro-batch's change feed must reproduce the full state
    val serving = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val q = StreamUpsert.latestValueStream(df).writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => serving(r.getLong(0)) = r.getLong(1))
      }
      .start()
    mem.addData((1L, 100L, 1L, 10L), (2L, 50L, 2L, 5L))
    q.processAllAvailable()
    mem.addData((1L, 200L, 3L, 20L), (3L, 10L, 4L, 7L))
    q.processAllAvailable()
    q.stop()
    assert(serving.toMap == Map(1L -> 20L, 2L -> 5L, 3L -> 7L))
  }

  test("streamed drift cells reproduce the gated t33 distances") {
    // the live form of t33: stream the sf0.001 corpus through the
    // bounded-state cell fill, then derive the TV distances from the
    // final cell table with t33's integer math — they must equal the
    // gated batch operator exactly
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // the reference: t33's top-V rule, recomputed batch-side
    val topTerms = rows.toSeq.toDF("source", "text")
      .select(explode(graft.operators.TextHash.tokens(col("text")))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(graft.operators.TextAnalysis.DriftTopV)
      .persist()
    val refCnt = topTerms.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[(String, String)]
    val q = StreamDrift
      .driftCellsStream(mem.toDF().toDF("source", "text"), topTerms)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("complete").start()
    rows.grouped(math.max(rows.length / 3, 1))
      .foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
    val cells = spark.table("drift_out").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    q.stop()
    // state stayed bounded: at most |sources|·(V+1) rows
    val nSources = cells.keys.map(_._1).toSet.size
    assert(cells.size <=
      nSources * (graft.operators.TextAnalysis.DriftTopV + 1))
    // batch equivalence of the cell fill itself
    val batchCells = StreamDrift
      .driftCellsStream(rows.toSeq.toDF("source", "text"), topTerms)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells == batchCells)
    // derive tv_e6 from the cells (t33's integer divisions verbatim)
    val tot = cells.values.sum
    val corpusTop = refCnt.values.sum
    val totS = cells.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val got = totS.map { case (src, ts) =>
      val sumTop = refCnt.map { case (t, cnt) =>
        val scnt = cells.getOrElse((src, t), 0L)
        math.abs(scnt * 1000000000L / ts - cnt * 1000000000L / tot)
      }.sum
      // keysIterator, NOT keys.map: keys is a Set, so mapping to the
      // counts would deduplicate equal values before the sum
      val scntTop = refCnt.keysIterator
        .map(t => cells.getOrElse((src, t), 0L)).sum
      val rest = math.abs((ts - scntTop) * 1000000000L / ts -
        (tot - corpusTop) * 1000000000L / tot)
      src -> (sumTop + rest) / 2000L
    }
    val exp = graft.operators.TextAnalysis.sourceDrift(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("tv_e6")).toMap
    assert(got == exp,
      s"streamed cells diverge from the gated t33: $got vs $exp")
  }

  test("streaming per-source MinHash sketch reproduces the gated t32") {
    // t32's mergeability made live: the per-(source, i) running min is
    // the whole state (≤ |sources|·k rows), and pairing the final
    // state yields est_jac_e6 EXACTLY — replayed across two triggers
    // so a trigger boundary provably cannot leak into the estimate
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.engine.Tables.t(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val mem = MemoryStream[(String, String)]
    val q = StreamMinhash
      .sourceMinhashStream(mem.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName("mh_out")
      .outputMode("complete").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    val state = spark.table("mh_out").persist()
    val streamed = StreamMinhash.pairEstimates(state).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val nSources = state.select("source").distinct().count()
    val stateRows = state.count()
    q.stop()
    assert(stateRows <= nSources * graft.operators.Dedup.MinhashK,
      s"sketch state $stateRows outgrew |sources|·k")
    val batch = graft.operators.TextAnalysis
      .sourceSimilaritySketch(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch,
      s"streamed sketch pairs diverge from the gated t32")
  }

  test("streaming decontamination reproduces the gated x29 verdicts") {
    // x29's live form is STATELESS (append mode, zero keyed state):
    // each arriving train doc is intersected against the 1-row static
    // benchmark gram array — replayed across two triggers; the
    // appended verdicts must equal the gated batch rows exactly
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    graft.functions.TextHashExprs.register(spark)
    val docs = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        graft.operators.TextHash.splitOf(
          expr(graft.operators.TextHash.rollingHashExpr(
            "lower(text)", graft.operators.TextHash.P)) % 100).as("split"))
      .collect()
    val bench = StreamLeak.benchmarkGrams(
      docs.filter(_.getString(3) == "test").map(r => Tuple1(r.getString(2)))
        .toSeq.toDF("text")).persist()
    val train = docs.filter(_.getString(3) == "train")
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamLeak
      .decontaminateStream(mem.toDF().toDF("doc_id", "source", "text"), bench)
      .writeStream.format("memory").queryName("leak_out")
      .outputMode("append").start()
    val (b1, b2) = train.splitAt(train.length / 2)
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    val streamed = spark.table("leak_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("hit_ratio_e6"))).toSet
    q.stop()
    val batch = graft.operators.Dedup.decontaminate(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("hit_ratio_e6"))).toSet
    assert(streamed.nonEmpty, "no contamination streamed — the pin checks nothing")
    assert(streamed == batch,
      s"streamed verdicts diverge from the gated x29: " +
        s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("streaming classifier serving reproduces the batch trained margins") {
    // the t36→serve loop's live form: train offline (t36), accept
    // offline (t37), then score the ingest stream statelessly under
    // the fixed 1-row weight-map artifact — appended verdicts must
    // equal the batch trained margins EXACTLY, doc for doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val wm = StreamClassifier.weightMap(spark, dir).persist()
    val rows = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamClassifier.scoreStream(
        mem.toDF().toDF("doc_id", "source", "text"), wm)
      .writeStream.format("memory").queryName("cls_out")
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    val streamed = spark.table("cls_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("m"), r.getAs[Int]("keep_cls"))).toMap
    q.stop()
    val batch = graft.operators.TextAnalysis.trainedMargins(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("m")).toMap
    assert(streamed.size == rows.length, "a document went unscored")
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (d, (m, k)) =>
      assert(m == batch(d), s"doc $d: streamed margin $m vs batch ${batch(d)}")
      assert(k == (if (m > 0) 1 else 0))
    }
    // non-vacuous: the served filter must both keep and reject here
    assert(streamed.values.exists(_._2 == 1) &&
      streamed.values.exists(_._2 == 0),
      "one-class serving — the equivalence pin would check nothing")
    wm.unpersist()
  }

  test("streaming shard assignment reproduces the gated x30 manifest") {
    // x30's live form: S comes from the batch planning step, the
    // per-doc assignment is stateless, and the running balance is a
    // bounded-state (S rows) aggregate — replayed across two triggers
    // the final state must equal the batch manifest exactly
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val planned = StreamShard.plannedShards(spark, dir)
    val nShards = planned.head().getLong(0) // test-side read only
    val rows = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = StreamShard.shardBalanceStream(StreamShard.shardStream(
        mem.toDF().toDF("doc_id", "text"), planned))
      .writeStream.format("memory").queryName("shard_out")
      .outputMode("complete").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    val streamed = spark.table("shard_out").collect()
      .map(r => (r.getAs[Long]("shard"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    q.stop()
    val batch = graft.operators.Curation.shardManifest(spark, dir).collect()
      .map(r => (r.getAs[Long]("shard"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    assert(streamed.size.toLong <= nShards, "shard state outgrew S")
    assert(streamed == batch,
      s"streamed shard balance diverges from the gated x30: " +
        s"$streamed vs $batch")
  }

  test("streaming centroid moments reproduce the gated s29 card") {
    // s29's mergeability made live: the per-(source, dim) count/Σv/Σv²
    // moments are the whole state (≤ |sources|·dims rows), and probing
    // the final state through the SAME driftFromMoments yields the
    // gated card EXACTLY — replayed across two triggers so a trigger
    // boundary provably cannot leak into the report
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val srcMap = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "source")
    val rows = graft.engine.Tables.t(spark, dir, "embeddings")
      .join(srcMap, col("vec_id") === col("doc_id"))
      .select("source", "embedding").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(String, Array[Float])]
    val q = graft.streaming.StreamCentroid
      .centroidMomentsStream(mem.toDF().toDF("source", "embedding"))
      .writeStream.format("memory").queryName("cent_out")
      .outputMode("complete").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    val state = spark.table("cent_out").persist()
    val stateRows = state.count()
    val nSources = state.select("source").distinct().count()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("source"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("cos_corpus_e6"), r.getAs[String]("nearest_source"),
        r.getAs[Long]("nearest_cos_e6"), r.getAs[Long]("dispersion_k"))
    val streamedCard =
      graft.streaming.StreamCentroid.driftCard(state).collect().map(key).toSet
    q.stop()
    assert(stateRows <=
      nSources * graft.operators.Similarity.EmbeddingDims,
      s"moment state $stateRows outgrew |sources|·dims")
    val batchCard = graft.operators.Similarity
      .sourceEmbeddingDrift(spark, dir).collect().map(key).toSet
    assert(streamedCard == batchCard,
      "streamed centroid card diverges from the gated s29")
  }

  /** Feeds `batches` one micro-batch each through `op` into a
    * foreachBatch sink with a file checkpoint. Before each batch index
    * in `restartAt` the query stops and a new one starts on the same
    * checkpoint and source. Returns every row the sink received, in
    * batch order. */
  private def runRestarting[A](mem: MemoryStream[A], batches: Seq[Seq[A]],
      restartAt: Set[Int], mode: String)(op: DataFrame => DataFrame): Seq[Row] = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart").toFile
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def start() = op(mem.toDF()).writeStream
      .option("checkpointLocation", ckpt.getPath)
      .outputMode(mode)
      .foreachBatch((df: DataFrame, _: Long) => df.collect().foreach(seen.add))
      .start()
    try {
      var q = start()
      batches.zipWithIndex.foreach { case (b, i) =>
        if (restartAt(i)) { q.stop(); q = start() }
        mem.addData(b: _*)
        q.processAllAvailable()
      }
      q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
    seen.asScala.toSeq
  }

  test("streaming dedup restarted from its checkpoint keeps its digest state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq((1L, ts("2024-01-01 10:00:00"), "Hello World"),
        (2L, ts("2024-01-01 10:01:00"), "something else")),
      Seq((3L, ts("2024-01-01 10:02:00"), "hello world")), // dup of 1
      Seq((4L, ts("2024-01-01 10:03:00"), "new text"),
        (5L, ts("2024-01-01 10:04:00"), "SOMETHING ELSE"))) // dup of 2
    def ids(restartAt: Set[Int]): Set[Long] =
      runRestarting(MemoryStream[(Long, Timestamp, String)], batches,
          restartAt, "append")(df =>
        StreamDedup.dedupStream(df.toDF("doc_id", "ts", "text")))
        .map(_.getLong(0)).toSet
    val uninterrupted = ids(Set.empty)
    assert(uninterrupted == Set(1L, 2L, 4L))
    assert(ids(Set(1, 2)) == uninterrupted,
      "a restarted dedup forgot the digests seen before the restart")
  }

  test("streaming upsert restarted from its checkpoint keeps its per-key state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (user_id, us, event_id, v_e6); each later batch carries a value
    // OLDER than the key's state, which only the kept state can reject
    val batches = Seq(
      Seq((1L, 100L, 1L, 10L), (2L, 100L, 2L, 20L)),
      Seq((1L, 50L, 3L, 11L), (2L, 200L, 4L, 21L)),
      Seq((2L, 150L, 5L, 22L), (3L, 10L, 6L, 30L)))
    def feed(restartAt: Set[Int]): Seq[(Long, Long)] =
      runRestarting(MemoryStream[(Long, Long, Long, Long)], batches,
          restartAt, "update")(df =>
        StreamUpsert.latestValueStream(df.toDF("user_id", "us", "event_id", "v_e6")))
        .map(r => r.getLong(0) -> r.getLong(1))
    val uninterrupted = feed(Set.empty)
    // the change-feed consumer: each batch's touched keys overwrite
    assert(uninterrupted.toMap == Map(1L -> 10L, 2L -> 21L, 3L -> 30L))
    assertSameFeed(feed(Set(1, 2)), uninterrupted, "upsert")
  }

  /** A restarted stateful query ends where an uninterrupted run ends
    * (the last row per key, in emission order) and emits the same
    * rows: a restart that replayed the stream from its start would
    * rebuild the same final state but emit the early batches' keys
    * again. */
  private def assertSameFeed[K: Ordering, V: Ordering](restarted: Seq[(K, V)],
      uninterrupted: Seq[(K, V)], what: String): Unit = {
    assert(restarted.toMap == uninterrupted.toMap,
      s"a restarted $what lost the state kept before the restart")
    assert(restarted.sorted == uninterrupted.sorted,
      s"a restarted $what re-emitted rows an uninterrupted run emits once")
  }

  test("streaming count-min restarted from its checkpoint keeps its cell counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(Seq("the cat sat", "the dog ran"), Seq("the cat ran fast"),
      Seq("a dog sat", "the end"))
    def cells(restartAt: Set[Int]): Seq[(Long, Long)] =
      runRestarting(MemoryStream[String], batches, restartAt, "update")(df =>
        StreamSketch.countMinStream(df.toDF("text")))
        .map(r => r.getLong(0) -> r.getLong(1))
    val uninterrupted = cells(Set.empty)
    // update mode: each batch emits the cells it touched, with their
    // running counts, so the last row per cell is its final count
    assert(uninterrupted.toMap == StreamSketch.countMinStream(batches.flatten.toDF("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assertSameFeed(cells(Set(1, 2)), uninterrupted, "count-min")
  }

  test("streaming drift cells restarted from their checkpoint keep their counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val topTerms = Seq("the", "cat").toDF("term")
    val batches = Seq(Seq(("a", "the cat sat"), ("b", "the dog")),
      Seq(("a", "a cat ran")), Seq(("b", "the cat the end"), ("a", "dog")))
    def cells(restartAt: Set[Int]): Seq[((String, String), Long)] =
      runRestarting(MemoryStream[(String, String)], batches, restartAt, "update")(df =>
        StreamDrift.driftCellsStream(df.toDF("source", "text"), topTerms))
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    val uninterrupted = cells(Set.empty)
    assert(uninterrupted.toMap == StreamDrift
      .driftCellsStream(batches.flatten.toDF("source", "text"), topTerms)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
    assertSameFeed(cells(Set(1, 2)), uninterrupted, "drift-cell count")
  }

  test("streaming MinHash sketch restarted from its checkpoint keeps its minima") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // texts of at least 5 tokens, so each carries a signature
    val batches = Seq(
      Seq(("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "a slow green turtle walks under the busy bridge")),
      Seq(("a", "the quick brown fox sleeps beside the warm fire")),
      Seq(("b", "a slow green turtle swims across the cold river"),
        ("a", "one two three four five six")))
    def sketch(restartAt: Set[Int]): Seq[((String, Int), Long)] =
      runRestarting(MemoryStream[(String, String)], batches, restartAt, "update")(df =>
        StreamMinhash.sourceMinhashStream(df.toDF("source", "text")))
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
    val uninterrupted = sketch(Set.empty)
    assert(uninterrupted.toMap == StreamMinhash
      .sourceMinhashStream(batches.flatten.toDF("source", "text"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap)
    assertSameFeed(sketch(Set(1, 2)), uninterrupted, "MinHash sketch")
  }

  test("streaming centroid moments restarted from their checkpoint keep their sums") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq(("a", Array(0.5f, -0.25f, 1.0f)), ("b", Array(0.1f, 0.2f, 0.3f))),
      Seq(("a", Array(0.25f, 0.75f, -1.0f))),
      Seq(("b", Array(-0.4f, 0.0f, 0.9f)), ("a", Array(1.0f, 1.0f, 1.0f))))
    def moments(restartAt: Set[Int]): Seq[((String, Int), (Long, Long, BigDecimal))] =
      runRestarting(MemoryStream[(String, Array[Float])], batches, restartAt,
          "update")(df =>
        StreamCentroid.centroidMomentsStream(df.toDF("source", "embedding")))
        .map(r => (r.getString(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), BigDecimal(r.getDecimal(4))))
    val uninterrupted = moments(Set.empty)
    assert(uninterrupted.toMap.values.map(_._1).sum == 5L * 3,
      "every vector component must fold into the moments once")
    assertSameFeed(moments(Set(1, 2)), uninterrupted, "centroid moment")
  }

  test("stateful sessionizer restarted from its checkpoint keeps its open sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a session is open across each restart, and user 1's first one
    // closes before the second restart, so a replay would emit it twice
    val batches = Seq(
      Seq(Event(1L, ts("2024-01-01 10:00:00")), Event(1L, ts("2024-01-01 10:02:00")),
        Event(2L, ts("2024-01-01 10:00:00"))),
      Seq(Event(1L, ts("2024-01-01 10:30:00")), Event(2L, ts("2024-01-01 10:03:00"))),
      Seq(Event(1L, ts("2024-01-01 10:31:00")), Event(1L, ts("2024-01-01 11:30:00")),
        Event(2L, ts("2024-01-01 11:00:00"))))
    def sessions(restartAt: Set[Int]): Seq[(Long, (Long, Long, Long))] =
      runRestarting(MemoryStream[Event], batches, restartAt, "append")(df =>
        sessionizeStateful(df.as[Event]).toDF())
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    val uninterrupted = sessions(Set.empty)
    def ms(s: String) = ts(s).getTime
    assert(uninterrupted.toSet == Set(
      1L -> (ms("2024-01-01 10:00:00"), ms("2024-01-01 10:02:00"), 2L),
      1L -> (ms("2024-01-01 10:30:00"), ms("2024-01-01 10:31:00"), 2L),
      2L -> (ms("2024-01-01 10:00:00"), ms("2024-01-01 10:03:00"), 2L)))
    assertSameFeed(sessions(Set(1, 2)), uninterrupted, "sessionizer")
  }
}
