package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Caches

/** Storage-accounting specs over the query cache scope
  * ([[graft.engine.Caches]]), on the block-manager storage that
  * Bench's per-query `storage_mb` reads:
  *
  *  1. a MATERIALIZED build (the knn_graph memo's checkpoint) frees its
  *     intermediates as its scope closes — only the checkpointed n·k
  *     result may stay resident;
  *  2. every documented-heavy query's peak cache stays inside a
  *     stated per-query budget, and closing the query's scope (what
  *     Bench and Verify run each query in) returns storage to its
  *     pre-query floor — a persist that bypasses the scope (raw RDD
  *     cache, a bare `persist()`) would escape it and fail here;
  *  3. a scope frees only what it cached: a frame cached before a
  *     scoped query, as another tenant of a shared session would,
  *     survives it, and so does a query's own entry when a memo build
  *     inside it persists the same plan.
  */
class CacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  /** Bytes of block-manager storage currently resident (catalog
    * caches AND checkpoint/RDD-level blocks — the same measure
    * Bench's storage_mb uses). */
  @annotation.nowarn("cat=deprecation")
  private def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Storage after pending ContextCleaner work has drained: blocks of
    * frames earlier suites dropped are reclaimed ASYNCHRONOUSLY on
    * GC, so a baseline taken while that queue is non-empty can SHRINK
    * mid-measurement and fail the delta laws spuriously (observed
    * once in a full-suite run on a stalled host: −5 MB "shrink"
    * during the knnGraph build — CacheSpec alone was green). GC, then
    * poll until two consecutive samples agree; live (referenced)
    * blocks are never reclaimed, so the settled value is the real
    * floor. */
  private def settledStorageBytes(): Long = {
    System.gc()
    var prev = storageBytes()
    var tries = 0
    while (tries < 25) {
      Thread.sleep(200)
      val cur = storageBytes()
      if (cur == prev) return cur
      prev = cur
      tries += 1
    }
    prev
  }

  /** Per-query peak-cache budget at the sf0.01 gate scale. The
    * round-8 sf1 telemetry puts the heaviest lifetime (d14) at
    * 160.6 MB on a 100×-the-gate corpus — ≈ 1.6 MB at sf0.01 —  and
    * cache lifetimes measured ~linear in corpus size across the
    * sf0.1→sf1 runs. 24 MB at sf0.01 is ~15× that headroom (window
    * for partition overheads at toy scale) while still extrapolating
    * to ≈ 2.4 GB at sf1-per-executor-group — inside a standard 4 GB
    * executor storage region — and small enough to catch the real
    * failure class: a new operator persisting a corpus-scale frame
    * (token stream, postings before aggregation) instead of an
    * aggregate. An operator that must exceed this documents why here
    * and in its scaladoc. */
  val PerQueryBudgetMb = 24L

  val gateDir = "/root/testdata/sf0.01"

  test("knnGraph build drops its intermediates — only the n·k checkpoint stays") {
    // start from an empty cache manager: when the build's scope
    // unpersists a plan, Spark re-plans any partly loaded cache that
    // reads it, and an earlier suite's dropped blocks would read as a
    // shrink of this build's storage
    spark.catalog.clearCache()
    val before = settledStorageBytes()
    Similarity.knnGraph(spark, gateDir) // eager: checkpoints the graph
    val delta = storageBytes() - before
    // the checkpointed sf0.01 graph is 1500 rows — single-digit MB
    // with partition overhead; the band/signature/scored intermediates
    // it must NOT leave behind are an order of magnitude bigger
    assert(delta >= 0, "storage shrank during a build — measurement broken")
    assert(delta <= 8L * 1024 * 1024,
      s"knnGraph left ${delta / 1024 / 1024} MB resident after its " +
        "checkpoint — an intermediate cache escaped the build's scope")
  }

  test("documented heavies stay inside the per-query peak cache budget") {
    val heavies = Seq(
      "d14_hot_ngrams",       // 160.6 MB at sf1 — census max
      "s11_knn_components",   // 105.7 MB at sf1 (CC fixpoint checkpoints)
      "d16_cosine_prefix",    // capped-bucket scale path
      "i07_more_like_this",   // round-9 rewrite: pruned-roster persist
      "t31_source_similarity", // persists the (source, hash) distinct —
                               // the census's one corpus-scale persist
                               // by design (t32 is its sketch path)
      "t32_source_minhash",   // persists only |sources|·k component rows
      "s25_label_propagation", // persists the n·k symmetric edge list
      "x26_pretrain_card",    // composition: shared shingle-hash pass +
                              // its branches' own persists, all compact
      "x29_decontaminate",    // round-11 memo: the tokenize+8-gram pass
                              // localCheckpoints |train grams|+|bench
                              // grams| skinny rows (allowed residue)
      "x32_final_assembly",   // composition: span memo checkpoint +
                              // bpeNSym's |vocab| persist — nothing
                              // corpus-scale may stay resident
      "t36_classifier_train", // persists the labeled feature stream
                              // for its round-scans (skinny longs),
                              // unpersisted before return; the 4097-row
                              // round checkpoints are allowed residue
      "t37_classifier_eval",  // same stream persisted for split
                              // training + the final scoring pass
      "x33_assembly_trained", // x32's persists + the weight-memo
                              // checkpoint (4097 rows, allowed residue)
      "i12_rocchio_feedback") // persists the query-term base and the
                              // round-2 candidate tf frame
    heavies.foreach { name =>
      // setup, as in the knnGraph test: a plan an earlier suite left
      // cached would make the query's persist a no-op, so its bytes
      // would count in the floor instead of the peak; and a partly
      // loaded leftover can lose its blocks mid-query and hide the peak
      spark.catalog.clearCache()
      val floor = settledStorageBytes()
      val peakMb = Caches.scoped {
        graft.SparkEntry.queries(name)(spark, gateDir)
          .write.format("noop").mode("overwrite").save()
        (storageBytes() - floor) / 1024 / 1024
      }
      assert(peakMb <= PerQueryBudgetMb,
        s"$name peaked at $peakMb MB cached (budget $PerQueryBudgetMb MB " +
          "at sf0.01) — document why or stop persisting a corpus-scale frame")
      // closing the query's scope must reclaim everything the query
      // cached (checkpoint blocks from memoized builds are the one
      // allowed residue)
      val residueMb = (storageBytes() - floor) / 1024 / 1024
      assert(residueMb <= 8L,
        s"$name left $residueMb MB after its scope closed — " +
          "a persist is bypassing the query scope")
    }
  }

  /** The token frame i05's snippets persist (TextAnalysis.docs + tokens),
    * built afresh: the same plan each call. */
  private def tokenFrame() =
    TextHash.fanOut(graft.engine.Tables.t(spark, gateDir, "documents"))
      .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))

  /** Drops an entry for the token plan that an earlier suite's unscoped
    * operator call left, so each law below starts uncached. */
  private def uncachedTokenFrame() = tokenFrame().unpersist(blocking = true)

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a frame cached before a scoped query survives the query") {
    // another tenant's cache of the very plan i05 persists: the query's
    // persist is a no-op, and closing its scope must not evict it
    val tenant = uncachedTokenFrame().persist()
    try {
      tenant.count()
      Caches.scoped(graft.SparkEntry.queries("i05_snippets")(spark, gateDir)
        .write.format("noop").mode("overwrite").save())
      assert(cached(tenant), "the query's scope evicted a frame it did not cache")
    } finally tenant.unpersist(blocking = true)
  }

  test("a memo build inside a query leaves the query's own cache entry") {
    val build = Memo("spec_cache_borrowing_build") { (s, _) =>
      Caches.persist(tokenFrame()).count()
      s.range(1).toDF()
    }
    Caches.scoped {
      val mine = Caches.persist(uncachedTokenFrame())
      build.refresh(spark, gateDir)
      assert(cached(mine), "the memo build evicted its query's cache entry")
    }
    assert(!cached(tokenFrame()), "the query's scope kept its own entry")
  }
}
