package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}
import graft.operators.TextHash._

/** The end-to-end pre-training data pipeline as ONE declarative DAG:
  * quality filter → exact dedup → deterministic split → dataset card
  * (per-split document and token counts).
  *
  * This is the composition proof for the operator library — each stage
  * is the same logic as its standalone query (t02 quality, d01 dedup,
  * t07 split), fused so Catalyst sees the whole pipeline: the quality
  * filter prunes before the dedup shuffle, documents reduce to
  * (md5, doc_id, n_toks, h_mod) before anything moves, and the final
  * card aggregates three rows. At 100 TB the only wide ops are one
  * hash shuffle of 16-byte digests and one of winner ids.
  */
object Pipeline {

  /** x03: per-split counts of quality-kept, exact-deduped documents. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    val base = fanOut(Tables.t(s, dir, "documents"))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        length(col("t")).as("n_chars"),
        length(regexp_replace(col("t"), "[a-z0-9\\s]", "")).as("n_punct"),
        split(col("t"), "\\s+").as("tk"))
      .select(col("doc_id"), col("t"), col("n_chars"), col("n_punct"),
        size(col("tk")).as("n_toks"), size(array_distinct(col("tk"))).as("n_types"))
    // identical keep rule to TextAnalysis.quality — the thresholds are
    // the shared constants, not copies
    val kept = base.filter(
        col("n_chars") >= TextAnalysis.QualityMinChars &&
        col("n_toks") >= TextAnalysis.QualityMinToks &&
        floor(col("n_punct") / col("n_chars") * 1000000)
          < TextAnalysis.QualityMaxPunctE6 &&
        floor(col("n_types") / col("n_toks") * 1000000)
          > TextAnalysis.QualityMinTtrE6)
      // winner election + attribute re-join share this pass
      .transform(Caches.persist)
    val winners = kept
      .groupBy(md5(col("t")).as("m")).agg(min(col("doc_id")).as("doc_id"))
    winners
      .join(kept.select(col("doc_id"), col("n_toks"),
        (expr(rollingHashExpr("t", P)) % 100).as("h_mod")), "doc_id")
      .withColumn("split", splitOf(col("h_mod")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens_total"))
      .orderBy("split")
  }

  /** x05: the round-5 curation stages composed into ONE DAG —
    * token normalization (drop 1-char tokens) → blocklist filter →
    * content-hash split → train/test shingle decontamination →
    * per-language stratified sample → packing summary (bins of 256
    * under concat-and-cut, so bins-per-shard is pure arithmetic on
    * the token sum).
    *
    * Plan shape at scale: documents reduce to (id, lang, counts, two
    * hash mods) in one narrow pass (persisted — the contamination
    * branch and the card share it); the only corpus-sized wide op is
    * the shingle-hash equi-join of the decontamination step, which
    * moves longs, never text. */
  def curationCard(s: SparkSession, dir: String): DataFrame = {
    val base = fanOut(Tables.t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"),
        tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("t"),
        expr("filter(tk, x -> length(x) > 1)").as("tkn"))
      .select(col("doc_id"), col("lang"), col("t"), col("tkn"),
        size(col("tkn")).as("n"),
        expr(s"size(filter(tkn, x -> x IN ${Curation.BlocklistSql}))").as("nb"))
      .filter(col("n") >= 20 && e6(col("nb") / col("n")) < 80000)
      // split and sampling take DIFFERENT hashes (P vs P2): two mods
      // of one hash are correlated — h%1000 < 50 forces h%100 < 50,
      // i.e. every low-rate sampled doc would be 'train' and the
      // (val|test, lang) strata would silently vanish from the card
      .select(col("doc_id"), col("lang"), col("tkn"), col("n"),
        (expr(rollingHashExpr("t", P)) % 100).as("h_mod"),
        (expr(rollingHashExpr("t", P2)) % 1000).as("h2"))
      .withColumn("split", splitOf(col("h_mod")))
      .transform(Caches.persist)
    val ex = base
      .select(col("doc_id"), col("split"), expr(shingleExpr("tkn")).as("shs"))
      .select(col("doc_id"), col("split"),
        explode(expr(hashArrayExpr("shs", P))).as("hh"))
    val testHashes = ex.filter(col("split") === "test").select("hh").distinct()
    val contaminated = ex.filter(col("split") === "train")
      .join(testHashes, "hh").select("doc_id").distinct()
    base.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("rate_permille", Curation.ratePermille(col("lang")))
      .filter(col("h2") < col("rate_permille"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_total"))
      .withColumn("n_bins", expr(s"(tokens_total + ${Curation.PackBudget - 1}) " +
        s"div ${Curation.PackBudget}L"))
      .orderBy("split", "lang")
  }

  /** x26: the end-to-end PRETRAINING data card — one row per source
    * joining every per-source diagnostic the library computes, the
    * way x10 composes the serving card: mixture allocation (x25's
    * tokens/share/epoch cap), distribution drift (t33's tv_e6 + the
    * argmax drift term), EMBEDDING-space drift (s29's centroid cosine
    * to the corpus centroid + the nearest-other-source confusion
    * pair), the strongest raw-content overlap partner
    * (t32's sketch estimate, symmetrized, ties → partner asc),
    * confirmed near-dup provenance (d17's matrix split into
    * intra-source and cross-source pair counts), the t02 quality keep
    * rate, and the per-source LOWER-median novelty (the rank-⌈n/2⌉
    * element — exact-integer and engine-identical, unlike an
    * averaged even-count median). This is the one table a curation
    * owner reads before setting mixture weights; the gate proves all
    * seven reports join on the shared source key.
    *
    * Plan shape at scale: each branch is its standalone operator's
    * plan (the expensive ones — d17's pair matrix, t32's sketch —
    * reduce to |sources|-scale outputs before this query touches
    * them); the card itself is |sources| rows of left joins plus two
    * doc-level aggregations (quality keep counts, the novelty value
    * census) that shuffle (doc_id → source)-keyed longs once each.
    * The median is selected from the per-(source, value) census —
    * ≤ 1,000,001 rows per source regardless of corpus size, t29's
    * value-domain collapse — never by ranking documents (round 15;
    * the old per-source row_number window sorted a whole Θ(corpus)
    * source in one task). */
  def pretrainCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("source"))
    // ONE corpus tokenize+shingle+hash pass, shared by the novelty
    // and sketch branches — now the session-memoized checkpoint every
    // shingle consumer reads (already materialized, no persist)
    val sh = shingleHashesMemo(s, dir)
    val ep = Curation.epochAllocation(s, dir)
      .select("source", "n_docs", "tokens", "share_e6", "epochs_e3")
    val dr = TextAnalysis.sourceDrift(s, dir)
      .select(col("source"), col("tv_e6"), col("drift_term"))
    val ed = graft.operators.Similarity.sourceEmbeddingDrift(s, dir)
      .select(col("source"), col("cos_corpus_e6").as("emb_drift_e6"),
        col("nearest_source").as("emb_confusion_src"),
        col("nearest_cos_e6").as("emb_confusion_e6"))
    val ovp = TextAnalysis.sourceSimilaritySketchFrom(sh, d)
      .select(col("source_a"), col("source_b"), col("est_jac_e6"))
    val ovSym = ovp.select(col("source_a").as("source"),
        col("source_b").as("partner"), col("est_jac_e6"))
      .unionAll(ovp.select(col("source_b").as("source"),
        col("source_a").as("partner"), col("est_jac_e6")))
    val wOv = Window.partitionBy("source")
      .orderBy(col("est_jac_e6").desc, col("partner"))
    val ov = ovSym.withColumn("rn", row_number().over(wOv))
      .filter(col("rn") === 1)
      .select(col("source"), col("partner").as("top_overlap_src"),
        col("est_jac_e6").as("top_overlap_e6"))
    val dm0 = Dedup.dupSourceMatrix(s, dir)
      .select("source_a", "source_b", "n_pairs")
    val q0 = TextAnalysis.quality(s, dir).select(col("doc_id"), col("keep"))
      .join(d, "doc_id")
      .groupBy("source")
      .agg(sum(when(col("keep") === 1, 1L).otherwise(0L)).as("n_keep"))
    val nvDoc = TextAnalysis.noveltyFrom(sh)
      .select(col("doc_id"), col("novelty_e6")).join(d, "doc_id")
    // exact per-source lower median WITHOUT ranking any document
    // (round 15 — the old per-source row_number window ranked a whole
    // Θ(corpus)-row source in one task, the t29/i14 single-reducer
    // class): collapse to the per-(source, value) census — novelty_e6
    // lives in [0, 1e6], so the census is ≤ 1,000,001 rows per source
    // REGARDLESS of corpus size (t29's value-domain collapse) — then
    // take the value whose cumulative count first reaches ⌈n/2⌉.
    // Ties make the rank-⌈n/2⌉ VALUE well-defined either way, so this
    // is exactly the old window's answer.
    val nvCen = nvDoc.groupBy("source", "novelty_e6")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("source").orderBy("novelty_e6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nv0 = nvCen
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("tot", sum("c").over(Window.partitionBy("source")))
      .filter(expr("cum - c < (tot + 1) div 2 AND cum >= (tot + 1) div 2"))
      .select(col("source"), col("novelty_e6").as("med_novelty_e6"))
    // Materialize the seven independent branch reports CONCURRENTLY
    // (round 17, guide §2.6 "overlap independent jobs"): each branch
    // is a multi-stage dependency chain, and chains materialize one
    // stage-depth wave at a time — submitting the branches' own
    // actions from a small pool lets one branch's tail stragglers
    // back-fill with another branch's next stage instead of idling
    // the executors. Every branch reduces to |sources|-scale rows, so
    // the checkpoints are trivial storage; the frames are constructed
    // above ON THIS THREAD (memo accessors assume a single-threaded
    // driver) and only the actions run in the pool. Results are the
    // same branch frames, materialized — the card's joins below are
    // unchanged.
    val Seq(ckEp, ckDr, ckEd, ckOv, ckDm, ckQ, ckNv) = checkpointAll(s, "x26",
      Seq("epoch_alloc" -> ep, "drift" -> dr, "emb_drift" -> ed,
        "overlap" -> ov, "dup_matrix" -> dm0, "quality_keep" -> q0,
        "novelty_median" -> nv0))
    val intra = ckDm.filter(col("source_a") === col("source_b"))
      .select(col("source_a").as("source"),
        col("n_pairs").as("intra_dup_pairs"))
    val offDiag = ckDm.filter(col("source_a") =!= col("source_b"))
    val cross = offDiag.select(col("source_a").as("source"), col("n_pairs"))
      .unionAll(offDiag.select(col("source_b").as("source"), col("n_pairs")))
      .groupBy("source").agg(sum("n_pairs").as("cross_dup_pairs"))
    ckEp.join(ckDr, Seq("source"), "left")
      .join(ckEd, Seq("source"), "left")
      .join(ckOv, Seq("source"), "left")
      .join(intra, Seq("source"), "left")
      .join(cross, Seq("source"), "left")
      .join(ckQ, Seq("source"), "left")
      .join(ckNv, Seq("source"), "left")
      .na.fill(0L, Seq("intra_dup_pairs", "cross_dup_pairs", "n_keep"))
      .withColumn("keep_rate_e6", expr("(n_keep * 1000000L) div n_docs"))
      .withColumn("med_novelty_e6",
        coalesce(col("med_novelty_e6"), lit(-1L)))
      .select("source", "n_docs", "tokens", "share_e6", "epochs_e3",
        "tv_e6", "drift_term", "emb_drift_e6", "emb_confusion_src",
        "emb_confusion_e6", "top_overlap_src", "top_overlap_e6",
        "intra_dup_pairs", "cross_dup_pairs", "keep_rate_e6",
        "med_novelty_e6")
      .orderBy("source")
  }

  /** `localCheckpoint`s each `(tag, frame)` branch on its own pool
    * thread, in its own job group, and returns the checkpoints in
    * branch order. On the first branch failure it cancels every
    * branch's jobs (running and yet to start, interrupting their
    * tasks), interrupts the pool threads and rethrows that failure, so
    * no sibling branch keeps the executors busy after the caller has
    * failed. There is no timeout: a correct branch may run long at a
    * larger scale. */
  private[graft] def checkpointAll(s: SparkSession, name: String,
      branches: Seq[(String, DataFrame)]): Seq[DataFrame] = {
    val sc = s.sparkContext
    // fresh group ids per call: Spark keeps a group cancelled with its
    // future jobs cancelled for the life of the context
    val run = java.util.UUID.randomUUID()
    val groups = branches.map { case (tag, _) => s"$name:$tag:$run" }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(branches.size)
    val done = new java.util.concurrent.ExecutorCompletionService[(Int, DataFrame)](pool)
    try {
      branches.zip(groups).zipWithIndex.foreach { case (((tag, df), group), i) =>
        done.submit { () =>
          sc.setJobGroup(group, s"$name branch: $tag", interruptOnCancel = true)
          try i -> df.localCheckpoint() finally sc.clearJobGroup()
        }
      }
      val out = new Array[DataFrame](branches.size)
      for (_ <- branches) {
        val (i, df) =
          try done.take().get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        out(i) = df
      }
      out.toSeq
    } catch { case e: Throwable =>
      groups.foreach(sc.cancelJobGroupAndFutureJobs(_, s"$name: a sibling branch failed"))
      pool.shutdownNow()
      throw e
    } finally pool.shutdown()
  }

  /** x27 repetition cut: documents whose 3-gram duplicate share (t06's
    * dup3_e6) reaches this are dropped at the funnel's second stage
    * (the Gopher repetition-rule class: heavy within-doc repetition is
    * boilerplate/gibberish regardless of the other signals). */
  val FunnelMaxDup3E6 = 500000L

  /** x27: filter-funnel card — the per-source survivor table every
    * dataset paper publishes: how many documents (and surviving
    * tokens) remain after each stage of the production filter stack,
    * applied CUMULATIVELY in pipeline order: rule-based quality (t02)
    * → within-doc repetition (t06, cut at [[FunnelMaxDup3E6]]) →
    * model-based classifier (t35) → exact dedup (d01's corpus-level
    * winner rule — a non-winner copy is dropped regardless of which
    * filter stage its twin reached, matching a production pipeline
    * where dedup consults the corpus-wide hash index). Every stage IS
    * the standalone operator's DataFrame (the x26 discipline), so the
    * funnel cannot drift from the gated single-stage queries.
    *
    * Scale shape: each stage frame reduces to (doc_id, flag) longs
    * before joining — four doc_id-keyed equi-joins of skinny rows plus
    * one |sources|-row aggregate; AQE co-partitions the joins and no
    * frame here is broadcast-hinted (all four sides are
    * corpus-proportional). The stage flags multiply (0/1 ints) instead
    * of re-filtering, so the card reads every funnel level out of ONE
    * pass over the joined frame. keep_rate_e6 divides two nonnegative
    * counts (trunc = floor — engine-portable). */
  def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = fanOut(Tables.t(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
    val q = TextAnalysis.quality(s, dir).select(col("doc_id"), col("keep"))
    val r = TextAnalysis.repetition(s, dir)
      .select(col("doc_id"),
        (col("dup3_e6") < FunnelMaxDup3E6).cast("int").as("rep_ok"))
    val c = TextAnalysis.classifierScore(s, dir)
      .select(col("doc_id"), col("keep_cls"))
    val u = Dedup.exact(s, dir).select(col("doc_id"), lit(1).as("is_winner"))
    d.join(q, "doc_id").join(r, "doc_id").join(c, "doc_id")
      .join(u, Seq("doc_id"), "left")
      .na.fill(0, Seq("is_winner"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_quality"),
        sum(col("keep") * col("rep_ok")).cast("long").as("n_clean"),
        sum(col("keep") * col("rep_ok") * col("keep_cls")).cast("long")
          .as("n_cls"),
        sum(col("keep") * col("rep_ok") * col("keep_cls") * col("is_winner"))
          .cast("long").as("n_unique"),
        sum(col("n_toks") * col("keep") * col("rep_ok") * col("keep_cls")
          * col("is_winner")).cast("long").as("tokens_kept"))
      .withColumn("keep_rate_e6", expr("(n_unique * 1000000L) div n_docs"))
      .orderBy("source")
  }

  /** x32: final assembly — "emit the training shards", the tail-end
    * twin of x03's front-end chain and the LAST operator a
    * pretraining owner runs: model-classifier filter (t35's keep
    * rule) → exact-substring span strip (d19/d20's rewrite, via the
    * shared span memo) → BPE re-count of the KEPT token stream under
    * the corpus-trained tokenizer (t34's word→n_sym map verbatim) →
    * hash-shuffled shard assignment with within-shard packing offsets
    * (x30's shard rule + x28's running-sum discipline). Output: one
    * row per emitted document — its kept-BPE token count, its shard,
    * its byte-plan coordinates (start_tok within the shard's
    * concatenated stream, x28-style context bins) — exactly the
    * manifest a shard writer and its dataloader consume.
    *
    * Every stage IS the standalone operator's rule (the x26/x27
    * composition discipline): a doc appears iff it passes t35 AND
    * keeps ≥ 1 tokenizable token after span stripping; its n_bpe is
    * what t34 would count on the stripped text (BPE-per-word is
    * context-free, so per-word symbol counts transfer to any token
    * subsequence); its shard is x30's LCG key mod the data-derived
    * shard count over KEPT BPE mass.
    *
    * Scale shape: the classifier and span frames reduce to doc_id
    * keys/(pos ranges) before joining; the kept stream is skinny
    * (doc_id, pos, tok) rows anti-joined on (doc_id, pos); the nsym
    * join carries NO hint (Heaps-bounded but unbounded vocabulary —
    * AQE decides, the t34 convention); the only 1-row scalars are the
    * total-mass crossJoin (x30's idiom) and t34's ≤32-struct merge
    * table. The packing window partitions by SHARD — each shard holds
    * ≤ [[Curation.ShardBudget]] tokens ⇒ bounded docs, so the running
    * sum never serializes on a global (or even per-source-unbounded)
    * order: this is why assembly shards FIRST and packs WITHIN shards,
    * not x04's per-source global prefix sum.
    * EAGER ON CONSTRUCTION: first call per (session, dir) runs the
    * span build via Dedup.substringSpansMemo (localCheckpoint) — see
    * Dedup.substringSpans. */
  def finalAssembly(s: SparkSession, dir: String): DataFrame =
    assembleUnder(s, dir,
      TextAnalysis.classifierScore(s, dir)
        .filter(col("keep_cls") === 1).select("doc_id"))

  /** x33: final assembly under the TRAINED filter — x32 with one
    * stage swapped: the keep rule is no longer t35's deterministic
    * placeholder weight table but t36's genuinely trained model
    * ([[TextAnalysis.clsWeightsMemo]], served through
    * [[TextAnalysis.trainedKeep]]: margin > 0). This is the true
    * end-to-end chain — train the quality filter, then emit the
    * training shards under it — that a pretraining owner actually
    * runs; x32 remains the serving-shape gate for an EXTERNAL weight
    * artifact. Every other stage (span strip, BPE re-count, shard +
    * packing rule) is byte-identical to x32 by construction
    * ([[assembleUnder]] is shared).
    *
    * Scale shape: x32's, plus the one-time (session, dir) training
    * build behind the weight memo; the serving join is the
    * [[TextAnalysis.ClsBuckets]]-row broadcast class. */
  def finalAssemblyTrained(s: SparkSession, dir: String): DataFrame =
    assembleUnder(s, dir, TextAnalysis.trainedKeep(s, dir))

  /** The x32/x33 assembly chain under a caller-supplied keep set —
    * factored so the two gates cannot drift anywhere but the filter. */
  private def assembleUnder(
      s: SparkSession, dir: String, keep: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cov = Dedup.substringSpansMemo(s, dir)
      .select(col("doc_id"),
        explode(expr("sequence(span_start, span_end)")).as("pos"))
    val kept = fanOut(Tables.t(s, dir, "documents"))
      .join(keep, "doc_id")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("source"),
        (col("p0") + 1).cast("long").as("pos"), col("tok"))
      .join(cov, Seq("doc_id", "pos"), "left_anti")
    val nsym = Curation.bpeNSym(Curation.bpeWords(s, dir))
    val counts = kept
      .join(nsym, col("tok") === col("w")) // no hint: vocab unbounded
      .groupBy("doc_id", "source")
      .agg(sum(col("n_sym")).as("n_bpe"))
      // persisted: BOTH the 1-row total-mass scalar and the shard
      // assignment read this frame — without the persist the
      // operator's most expensive chain (classifier keep join, span
      // anti-join, nsym join, per-doc aggregate) executes twice.
      // Kept-doc-scale skinny rows (doc_id, source, n_bpe) — inside
      // the CacheSpec per-query budget.
      .transform(Caches.persist)
    val tot = counts.agg(sum(col("n_bpe")).as("total_toks"))
    val w = Window.partitionBy("shard").orderBy("key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(tot)) // 1-row mass scalar (x30's idiom)
      .withColumn("n_shards", greatest(lit(1L),
        expr(s"(total_toks + ${Curation.ShardBudget - 1}L) div " +
          s"${Curation.ShardBudget}L")))
      .withColumn("key", Curation.shardKey)
      .withColumn("shard", Curation.shardOf)
      .withColumn("end_tok", sum(col("n_bpe")).over(w))
      .withColumn("start_tok", col("end_tok") - col("n_bpe"))
      .select(col("doc_id"), col("source"), col("n_bpe"), col("shard"),
        col("start_tok"),
        expr(s"start_tok div ${Curation.BpePackBudget}L").as("bin_first"),
        expr(s"(end_tok - 1) div ${Curation.BpePackBudget}L").as("bin_last"))
      .orderBy("doc_id")
  }
}
