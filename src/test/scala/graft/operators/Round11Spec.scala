package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-11 changes that the row-hash
  * oracle can't express: d21's chunked pair-budget law (the scale
  * contract VERDICT r10 graded weak at fixed K — the chunk layer must
  * bound the within-cluster pair stage LINEARLY in the corpus no
  * matter how hot a cluster is) and the in-plan guard that refuses a
  * quadratic chunk instead of running it. */
class Round11Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.01"

  test("d21: chunk rule bounds the pair budget linearly on a " +
      "pathological one-hot cluster") {
    // 10k members in ONE bucket — the exact shape that made the
    // unchunked stage quadratic (ScaleStress measured x100 pair
    // growth on x10 data at fixed K before the chunk layer). The rule
    // must split it so Sum C(cn,2) <= n * ChunkTarget (linear bound)
    // and no chunk exceeds the hard cap the in-plan guard enforces.
    val n = 10000L
    val hot = spark.range(n)
      .select(col("id").as("vec_id"), lit(0).as("bucket"))
    val sizes = Similarity.withSemDedupChunk(hot)
      .groupBy("bucket", "chunk").agg(count(lit(1)).as("cn"))
      .select(col("cn")).collect().map(_.getLong(0))
    assert(sizes.sum == n, "chunking must partition the bucket")
    assert(sizes.max <= Similarity.SemDedupMaxChunk,
      s"max chunk ${sizes.max} over the guard cap " +
        s"${Similarity.SemDedupMaxChunk}")
    val budget = sizes.map(c => c * (c - 1) / 2).sum
    assert(budget <= n * Similarity.SemDedupChunkTarget,
      s"pair budget $budget over the linear bound " +
        s"${n * Similarity.SemDedupChunkTarget} — the unchunked stage " +
        s"would pay ${n * (n - 1) / 2}")
    // the bound is meaningful: the unchunked budget violates it
    assert(n * (n - 1) / 2 > n * Similarity.SemDedupChunkTarget)
  }

  test("d21: gate-dir chunk census is a partition and inside the " +
      "linear pair budget") {
    val cn = Similarity.semanticDedupChunks(spark, dir)
      .select(col("cn")).collect().map(_.getLong(0))
    val nVec = graft.engine.Tables.t(spark, dir, "embeddings").count()
    assert(cn.sum == nVec, "every vector sits in exactly one chunk")
    assert(cn.max <= Similarity.SemDedupMaxChunk)
    assert(cn.map(c => c * (c - 1) / 2).sum <=
      nVec * Similarity.SemDedupChunkTarget)
  }

  test("d21: the oversized-chunk guard rides the optimized plan") {
    // the guard must survive optimization — if a refactor drops the
    // assert_true (or column pruning eliminates it), a hot chunk
    // would run quadratic instead of refusing
    val df = graft.SparkEntry.queries("d21_semantic_dedup")(spark, dir)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("assert_true") || p.contains("raise_error"),
      s"d21's chunk-cap guard is gone from the optimized plan:\n$p")
  }

  test("x32: final assembly conserves docs and tokens against the " +
      "gated stages it composes") {
    val x32 = Pipeline.finalAssembly(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val keep = TextAnalysis.classifierScore(spark, dir)
      .filter(col("keep_cls") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val d20 = Dedup.substringRewrite(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_covered"))).toMap
    val t34 = Curation.bpeTokenize(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe")).toMap
    // doc conservation: emitted ⊆ t35-keep, and every keep doc with a
    // kept token survives (no doc at the gate dir strips to empty or
    // to all-untokenizable tokens, so the sets are EQUAL here)
    assert(x32.keySet.subsetOf(keep), "x32 emitted a filtered-out doc")
    val expected = keep.filter(d => {
      val (n, c) = d20(d); n - c > 0
    })
    assert(x32.keySet == expected,
      s"docs in = kept + filtered must balance: ${expected.size} " +
        s"expected vs ${x32.size} emitted")
    // token conservation: stripping only ever shrinks the BPE count,
    // and an uncovered doc's count equals t34's exactly
    x32.foreach { case (d, r) =>
      val nb = r.getAs[Long]("n_bpe")
      assert(nb >= 1 && nb <= t34(d),
        s"doc $d: kept n_bpe $nb vs t34 ${t34(d)}")
      if (d20(d)._2 == 0)
        assert(nb == t34(d),
          s"uncovered doc $d must keep its full t34 count")
    }
  }

  test("x32: shard intervals partition each shard's token stream " +
      "and the shard rule replays from first principles") {
    val rows = Pipeline.finalAssembly(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_bpe")).sum
    val nShards = math.max(1L,
      (total + Curation.ShardBudget - 1) / Curation.ShardBudget)
    // independent replica of x30's key rule: rolling hash base 31
    // seed 7 mod P over the ASCII of "<doc_id>:1"
    def key(id: Long): Long =
      s"$id:1".foldLeft(7L)((a, ch) => (a * 31 + ch.toLong) % 1000000007L)
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("shard") == key(d) % nShards,
        s"doc $d shard diverges from the first-principles key rule")
      assert(r.getAs[Long]("bin_first") ==
        r.getAs[Long]("start_tok") / Curation.BpePackBudget)
      assert(r.getAs[Long]("bin_first") <= r.getAs[Long]("bin_last"))
    }
    // within each shard the (start_tok, n_bpe) intervals tile
    // [0, shard mass) with no gap and no overlap — the writer's plan
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rs) =>
      val iv = rs.map(r =>
        (r.getAs[Long]("start_tok"), r.getAs[Long]("n_bpe")))
        .sortBy(_._1)
      var cursor = 0L
      iv.foreach { case (st, n) =>
        assert(st == cursor, s"shard $sh: gap/overlap at $st != $cursor")
        cursor = st + n
      }
      assert(cursor == rs.map(_.getAs[Long]("n_bpe")).sum)
    }
  }

  // the round-11 t36 replica test (4-round full-batch perceptron over
  // source-seeded labels) moved to Round12Spec in its round-12 form:
  // round 12 measured the source labels unlearnable on this fixture
  // (see TextAnalysis.classifierTrain) and re-targeted training at
  // the t02 distillation labels with a hard-example update.

  test("d21: chunked evictions are contained in the unchunked " +
      "co-cluster near-dup set") {
    // chunking only ever REMOVES candidate pairs (a chunk is a subset
    // of its cluster), so every reported eviction must still be a
    // genuine co-cluster near-dup: its dup_of shares the bucket and
    // clears tau. Re-derive the full co-cluster pair truth at the
    // tiny spec dir and check containment.
    val d21 = Similarity.semanticDedup(spark, dir).collect()
    val asg = Similarity.semanticDedupAssignment(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    d21.foreach { r =>
      val vid = r.getAs[Long]("vec_id")
      val dupOf = r.getAs[Long]("dup_of")
      val bucket = r.getAs[Int]("bucket")
      assert(asg(vid) == bucket && asg(dupOf) == bucket,
        s"eviction $vid by $dupOf crosses clusters")
      assert(dupOf < vid, "the evictor must be the lower id")
      assert(r.getAs[Long]("max_cs_e6") >=
        (Similarity.SemDedupTau * 1e6).toLong)
    }
  }
}
