package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Dedup, DupCluster, Funnel, Layout,
  Merge, Multimodal, Pipeline, Profile, Similarity, Sketches,
  TextAnalysis, TimeSeries}
import graft.streaming.Sessionize

/** LLM-data-pipeline extension queries (dedup / similarity / text
  * analysis / multimodal) + their DuckDB oracles.
  *
  * The oracles replicate the exact integer/double formulas of the
  * Spark implementations (rolling-hash shingles, affine MinHash
  * permutations, LCG hyperplanes, sequential float folds) with DuckDB
  * list comprehensions — see [[graft.operators.TextHash]] for why the
  * math is engine-portable.
  */
object Extensions {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_dedup_exact" -> (Dedup.exact _),
    // gated with the scale-safe stop-shingle df cap ON (the oracle
    // applies the identical cap; never binds at the gate SFs)
    "d02_dedup_jaccard" -> ((s: SparkSession, d: String) =>
      Dedup.jaccardPairs(s, d, maxShingleDf = Some(Dedup.JaccardDfCap))),
    "d03_dedup_minhash_lsh" -> (Dedup.minhashLshPairs _),
    "d11_dedup_incremental" -> (Dedup.incrementalNearDups _),
    // asymmetric containment (excerpt-in-book), same gated df cap as d02
    "d12_dedup_containment" -> ((s: SparkSession, d: String) =>
      Dedup.containmentPairs(s, d, maxShingleDf = Some(Dedup.JaccardDfCap))),
    // span-granular rewrite: strip blocks repeated across documents
    "d13_block_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.blockDedup(s, d)),
    // the most-duplicated 8-grams across the corpus (what d13 strips)
    "d14_hot_ngrams" -> (Dedup.hotNgrams _),
    // Lee-et-al exact-substring spans: maximal cross-doc verbatim
    // token runs at ANY alignment (d13 misses unaligned overlaps)
    "d19_substring_spans" -> (Dedup.substringSpans _),
    // d19 applied: spans stripped, kept-text digest per doc
    "d20_substring_rewrite" -> (Dedup.substringRewrite _),
    // sparse TF-vector cosine near-dup, df-capped like d02 — the
    // exhaustive baseline over a deterministic 1-in-k doc_id stride
    // sample (k = 1, i.e. the whole corpus, at every driver SF). An
    // earlier fall-back-to-d16 shape silently changed the answer at
    // scale (sf1 measured: 12,050 capped-prefix pairs vs the 4.7M
    // exhaustive census); sampling keeps exactly the semantics the
    // name claims at any N. Direct API callers of the full-corpus
    // form still hit the throwing guard in Dedup.cosinePairs.
    "d15_cosine_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.cosinePairsSampled(s, d)),
    // d15's scale path: rarest-k prefix candidates, exact rerank
    "d16_cosine_prefix" -> ((s: SparkSession, d: String) =>
      Dedup.cosinePairsPrefix(s, d)),
    // near-dup pairs straddling the t07 split (self-decontamination)
    "x15_split_leakage" -> (Dedup.splitLeakage _),
    // exact 8-gram benchmark decontamination (GPT-3 appendix C):
    // train docs sharing ANY verbatim n-gram with the test split
    "x29_decontaminate" -> (Dedup.decontaminate _),
    // x29 rolled up per source: census, rate, worst offender
    "x31_decontamination_card" -> (Dedup.decontaminationCard _),
    "d04_dedup_simhash" -> (Dedup.simhashPairs _),
    // gated at the default MaxBruteForceVectors guard
    "d05_embedding_neardup" -> ((s: SparkSession, d: String) =>
      Similarity.embeddingNearDups(s, d)),
    "d08_neardup_bucketed" -> (Similarity.embeddingNearDupsBucketed _),
    // SemDeDup: within-k-means-cluster cosine dedup (the s26 Lloyd
    // assignment reused), one row per removed vector
    "d21_semantic_dedup" -> (Similarity.semanticDedup _),
    "d09_embedding_clusters" -> (DupCluster.embeddingClusters _),
    "d10_keep_best_embedding" -> (DupCluster.keepBestEmbedding _),
    "d06_dup_clusters" -> (DupCluster.clusters _),
    "d07_keep_best" -> (DupCluster.keepBest _),
    "i01_inverted_index" -> (TextAnalysis.invertedIndex _),
    "i02_phrase_search" -> (TextAnalysis.phraseSearch _),
    "i03_bm25" -> ((s: SparkSession, d: String) => TextAnalysis.bm25(s, d)),
    // i02's phrase at slop 3: in-order window hits + tightest gap
    "i04_proximity_search" -> (TextAnalysis.proximitySearch _),
    // best query-term window per matching doc + its preview text
    "i05_snippets" -> (TextAnalysis.snippets _),
    // per-query-term top-2 co-occurrence expansions by document lift
    "i06_query_expansion" -> ((s: SparkSession, d: String) =>
      TextAnalysis.queryExpansion(s, d)),
    // query-by-document: tf·idf top-5 related docs per probe doc
    "i07_more_like_this" -> (TextAnalysis.moreLikeThis _),
    // per-(term, source, lang) facet cells with exact result-set share
    "i08_facets" -> (TextAnalysis.facets _),
    // two-per-source diversified re-rank of the i03 shortlist
    "i09_diversified_search" -> (TextAnalysis.diversifiedSearch _),
    // SymSpell ed<=1 typo matching via deletion-key equi-join
    "i10_fuzzy_match" -> (TextAnalysis.fuzzyMatch _),
    // train-vocab OOV rate per (split, source) over val/test
    "t30_oov_rate" -> (TextAnalysis.oovRate _),
    // lexically-strong, semantically-distant docs (contrastive mining)
    "i11_hard_negatives" -> (TextAnalysis.hardNegatives _),
    // Rocchio pseudo-relevance feedback: BM25 round 1 → top-R docs'
    // best non-query terms → half-weighted BM25 round 2; every
    // feedback pass probes a broadcast term set, matched rows only
    "i12_rocchio_feedback" -> ((s: SparkSession, d: String) =>
      TextAnalysis.rocchioFeedback(s, d)),
    // known-item MRR/hit@k over the exact-integer BM25 scorer: the
    // known item's rank is 1 + count(better docs) — one partial agg
    // per probe term, never a per-term global sort/window
    "i13_retrieval_eval" -> (TextAnalysis.retrievalEval _),
    // static index pruning: per-term top-P impact cut vs the full
    // index, side-by-side top-10 damage report
    "i14_index_pruning" -> ((s: SparkSession, d: String) =>
      TextAnalysis.indexPruning(s, d)),
    "s01_ann_topk" -> ((s: SparkSession, d: String) => Similarity.annTopK(s, d)),
    // greedy MMR diversification of the s01 shortlist (λ = 0.5)
    "s28_mmr_rerank" -> (Similarity.mmrRerank _),
    "s02_ann_lsh" -> ((s: SparkSession, d: String) => Similarity.annLshTopK(s, d)),
    "s03_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.annIvfTopK(s, d)),
    "s04_ivf_centroids" -> (Similarity.ivfCentroids _),
    "s05_pq_codes" -> (Similarity.pqCodes _),
    "s06_pq_adc" -> ((s: SparkSession, d: String) => Similarity.annPqTopK(s, d)),
    "s07_ivf_pq" -> ((s: SparkSession, d: String) => Similarity.annIvfPqTopK(s, d)),
    "s08_hybrid_rrf" -> ((s: SparkSession, d: String) => Similarity.hybridTopK(s, d)),
    "s09_knn_graph" -> ((s: SparkSession, d: String) => Similarity.knnGraph(s, d)),
    "s10_mutual_knn" -> ((s: SparkSession, d: String) => Similarity.mutualKnn(s, d)),
    "s11_knn_components" -> (DupCluster.knnComponents _),
    "s12_semantic_reps" -> (DupCluster.semanticReps _),
    "s13_knn_degrees" -> ((s: SparkSession, d: String) =>
      Similarity.knnDegrees(s, d)),
    // recall@5 of the s02/s03 approximate paths vs s01 ground truth
    "s14_ann_recall" -> ((s: SparkSession, d: String) =>
      Similarity.annRecall(s, d)),
    // recall@5 operating curve of s07 (IVF-PQ) across nprobe 1/2/4
    "s18_ivf_pq_recall" -> ((s: SparkSession, d: String) =>
      Similarity.ivfPqRecallSweep(s, d)),
    // per-topic cohesion: internal vs escaping directed kNN edges
    "s15_cluster_quality" -> (DupCluster.clusterQuality _),
    // per-subspace PQ reconstruction error (index-health card)
    "s16_pq_error" -> (Similarity.pqErrorReport _),
    // residual-PQ vs raw-PQ reconstruction error under one codebook
    // (the FAISS-default IVF-PQ refinement), per-vector grain
    "s30_residual_pq" -> (Similarity.residualPqReport _),
    // class-separability card: pairwise label-centroid cosines
    "s17_label_centroids" -> (Similarity.labelCentroids _),
    // metadata-filtered exact top-k: same-label cosine search as an
    // equi-join on the filter key (pre-filter, not post-filter)
    "s19_filtered_ann" -> ((s: SparkSession, d: String) =>
      Similarity.filteredAnnTopK(s, d)),
    // int8 scalar-quantization (SQ8) recall@5 vs the exact top-k
    "s20_sq8_recall" -> ((s: SparkSession, d: String) =>
      Similarity.sq8Recall(s, d)),
    // Matryoshka prefix-dim (8/16/32) recall@5 vs the exact top-k
    "s21_matryoshka_recall" -> ((s: SparkSession, d: String) =>
      Similarity.matryoshkaRecall(s, d)),
    // 3-iteration e9 integer PageRank over the s09 kNN graph
    "s22_pagerank" -> ((s: SparkSession, d: String) =>
      Similarity.pageRank(s, d)),
    // kNN-distance outliers: isolated or kth-neighbor cs < 0.4
    "s23_knn_outliers" -> (Similarity.knnOutliers _),
    // mutual-graph triangles + local clustering coefficient (ordered
    // wedge join; degree ≤ k makes it linear by construction)
    "s24_knn_triangles" -> (Similarity.knnTriangles _),
    // synchronous 3-round label propagation: majority-vote communities
    // over the mutual graph (per round: one n·k equi-join + partial
    // agg + per-vertex window — s22's iteration discipline)
    "s25_label_propagation" -> (Similarity.labelPropagation _),
    // full Lloyd k-means (2 EM rounds, first-K init): per round one
    // broadcast-K assignment pass + one partial-agg'd (bucket, dim)
    // shuffle — centroid state never touches the driver
    "s26_kmeans_lloyd" -> (Similarity.kmeansLloyd _),
    // the evaluation half of s26: per-bucket member count, scaled
    // inertia, tightest/loosest member of the final assignment
    "s27_kmeans_quality" -> (Similarity.kmeansQuality _),
    // per-source embedding-centroid drift: cosine to the corpus
    // centroid + nearest other source + within-source dispersion —
    // t33's drift card moved to embedding space (s17's integer
    // centroids grouped by the joined documents.source attribute)
    "s29_source_embedding_drift" -> (Similarity.sourceEmbeddingDrift _),
    // source-pair shingle Jaccard: which sources carry each other's
    // content — hashes shuffle, per-hash fanout ≤ C(|sources|,2)
    "t31_source_similarity" -> (TextAnalysis.sourceSimilarity _),
    // t31's 100 TB path: mergeable per-source MinHash sketches — the
    // only corpus-scale shuffle is |docs|·k skinny long rows
    "t32_source_minhash" -> (TextAnalysis.sourceSimilaritySketch _),
    // per-source total-variation drift vs the corpus unigram
    // distribution (top-V + rest bucket, e9-floored integer probs)
    "t33_source_drift" -> (TextAnalysis.sourceDrift _),
    // duplicate-provenance matrix: d03's confirmed pairs rolled up by
    // (source, source) — who duplicates whom (t31's confirmed twin)
    "d17_dup_source_matrix" -> (Dedup.dupSourceMatrix _),
    // LSH banding recall/precision per Jaccard decile: d03's capture
    // rate against d02's capped-postings exact truth
    "d18_lsh_recall" -> (Dedup.lshRecallReport _),
    "t01_langid" -> (TextAnalysis.langId _),
    "t02_quality" -> (TextAnalysis.quality _),
    "t03_token_stats" -> (TextAnalysis.tokenStats _),
    "t04_fingerprints" -> (TextAnalysis.fingerprints _),
    "t05_kmv_distinct" -> (Sketches.kmvDistinctShingles _),
    "t06_repetition" -> (TextAnalysis.repetition _),
    "t07_hash_split" -> (TextAnalysis.hashSplit _),
    "t08_normalize" -> (Curation.normalize _),
    "t09_badwords" -> (Curation.badwords _),
    "t10_domain_stats" -> (Curation.domainStats _),
    "t11_contamination" -> (Curation.contamination _),
    "t12_top_terms" -> (Curation.topTerms _),
    "t13_stratified_sample" -> (Curation.stratifiedSample _),
    "t14_hist_quantiles" -> (Sketches.histogramQuantiles _),
    "t15_countmin" -> (Sketches.countMinTopTerms _),
    "t16_profile" -> (Profile.columnStats _),
    "t17_bigram_lm" -> (TextAnalysis.bigramLm _),
    "t18_lm_score" -> (TextAnalysis.lmScore _),
    "t19_novelty" -> (TextAnalysis.novelty _),
    "t20_pii_scrub" -> (Curation.piiScrub _),
    "t22_collocations" -> ((s: SparkSession, d: String) =>
      TextAnalysis.collocations(s, d)),
    "t23_char_diversity" -> (TextAnalysis.charDiversity _),
    // exact-integer Flesch reading-ease card (regex censuses only)
    "t28_readability" -> (TextAnalysis.readability _),
    // rank-frequency octave profile (power-law health check)
    "t29_zipf_octaves" -> (TextAnalysis.zipfOctaves _),
    // top-1024 vocabulary + per-doc OOV rate (tokenizer-sizing signal)
    "t24_vocab_coverage" -> (TextAnalysis.vocabCoverage _),
    // per-source Heaps-law profile: types, hapax, TTR
    "t25_vocab_growth" -> (Curation.vocabGrowth _),
    // BPE round-1 merge candidates: weighted adjacent-pair counts
    "t26_bpe_merges" -> (Curation.bpeMergeCandidates _),
    // t26 applied: two (mine top-32 -> greedy merge pass) rounds over
    // the vocabulary, per-doc BPE token counts out
    "t34_bpe_tokenize" -> (Curation.bpeTokenize _),
    // x04's concat-and-cut packing over t34's BPE counts (budget 512)
    "x28_bpe_packing" -> (Curation.bpePacking _),
    // per-doc top-3 tf·idf keywords (integer linear-idf score)
    "t27_keywords" -> (Curation.keywords _),
    // fastText-style hashed linear classifier inference: unigram +
    // bigram buckets joined against a bounded external weight table
    "t35_classifier_score" -> (TextAnalysis.classifierScore _),
    // quality-classifier TRAINING: batch perceptron over t35's exact
    // feature space, seed labels from the source roster — the model
    // artifact t35 serves
    "t36_classifier_train" -> (TextAnalysis.classifierTrain _),
    // classifier EVALUATION: train t36's loop on the ~80 % LCG fold,
    // score everything under the trained weights, report per-(source,
    // holdout) keep counts + seed-label confusion — the acceptance
    // check that closes the train→serve loop
    "t37_classifier_eval" -> (TextAnalysis.classifierEval _),
    "t21_k_anonymity" -> ((s: SparkSession, d: String) =>
      Curation.kAnonymity(s, d)),
    "m01_multimodal_features" -> (Multimodal.features _),
    "m02_multimodal_resize" -> (Multimodal.resized _),
    // perceptual (average-hash) signature extraction over payloads
    "m03_ahash" -> (Multimodal.ahashes _),
    // payload near-dups over m03 signatures: 8×8-bit bands + hamming
    "m04_ahash_neardup" -> (Multimodal.ahashPairs _),
    // pairs -> clusters for the perceptual modality (d06's stage)
    "m07_ahash_clusters" -> (DupCluster.ahashClusters _),
    // keep the largest payload per perceptual cluster (d07's stage)
    "m08_keep_best_media" -> (DupCluster.keepBestMedia _),
    // audio-modality frame card: energy / silence / zero crossings
    "m05_audio_frames" -> (Multimodal.audioCards _),
    // magic-number modality routing card per (source, format)
    "m06_format_routing" -> (Multimodal.formatRouting _),
    "x01_sessionize" -> (Sessionize.sessionizeBatch _),
    "x02_funnel" -> (Funnel.viewClickPurchase _),
    // weekly cohort-retention matrix over the events stream
    "x16_retention_cohorts" -> (Funnel.retentionCohorts _),
    // per-type stream freshness: volume, span, max/mean arrival gap
    "x17_freshness" -> (TimeSeries.freshness _),
    "x03_pipeline" -> (Pipeline.datasetCard _),
    "x04_packing" -> ((s: SparkSession, d: String) => Curation.packing(s, d)),
    // shuffled shard manifest: data-derived shard count, metadata-only
    // hash shuffle key, per-shard balance audit
    "x30_shard_manifest" -> ((s: SparkSession, d: String) =>
      Curation.shardManifest(s, d)),
    "x05_curation_card" -> (Pipeline.curationCard _),
    // per-source pretraining data card: x25 mixture + t33 drift + t32
    // overlap + d17 dup provenance + t02 keep rate + t19 novelty median
    "x26_pretrain_card" -> (Pipeline.pretrainCard _),
    // per-source filter-funnel card: survivors after each cumulative
    // stage of the filter stack (t02 -> t06 -> t35 -> d01)
    "x27_filter_funnel" -> (Pipeline.filterFunnel _),
    // final assembly: t35 filter -> d19/d20 span strip -> t34 BPE
    // re-count of the kept stream -> x30 sharding + x28 packing
    // offsets — the emit-the-training-shards manifest
    "x32_final_assembly" -> (Pipeline.finalAssembly _),
    // final assembly under the TRAINED filter: x32 with t35's
    // placeholder keep rule swapped for t36's trained-model margin —
    // the true train-the-filter-then-emit-the-shards chain
    "x33_assembly_trained" -> (Pipeline.finalAssemblyTrained _),
    "x06_resample_ffill" -> (TimeSeries.resampleFfill _),
    "x07_anomaly" -> (TimeSeries.anomalies _),
    "x08_upsert" -> (Merge.snapshotUpsert _),
    "x09_scd2" -> (Merge.scd2Intervals _),
    "x10_serving_card" -> (Merge.servingCard _),
    "x11_mixture_sample" -> (Curation.mixtureSample _),
    "x12_chunking" -> (Curation.chunks _),
    "x13_snapshot_diff" -> (Merge.snapshotDiff _),
    // GDPR tombstone-propagation audit: broadcast roster mark + card
    "x18_delete_propagation" -> (Merge.deletePropagation _),
    // Deequ-style declarative data-quality rule card over the log
    "x19_dq_rules" -> (Profile.dqRules _),
    // small-file compaction planner: greedy bin-pack card per source
    "x20_compaction_plan" -> (Layout.compactionPlan _),
    // materialized-view delta merge, self-audited vs full recompute
    "x21_incremental_agg" -> (Merge.incrementalAgg _),
    // per-user hourly coverage gaps (backfill planning card)
    "x22_gap_report" -> (TimeSeries.gapReport _),
    // leakage-safe temporal split: train / embargo-gap / test census
    "x23_embargo_split" -> (TimeSeries.embargoSplit _),
    // duplication-aware 1/cluster_sz keep sampling (soft dedup card)
    "x24_soft_dedup" -> (DupCluster.softDedupSample _),
    // sqrt-damped token-budget epoch allocation per source (≤4 epochs)
    "x25_epoch_allocation" -> (Curation.epochAllocation _),
    // α=0.5 temperature rebalance of the source mix (x11's sibling)
    "x14_temperature_sample" -> (Curation.temperatureSample _),
    "z01_zorder" -> (Layout.zorderKeys _),
    // min/max file-stats pruning under 4 layouts of the same rows
    "z02_pruning_report" -> (Layout.pruningReport _),
    // point-probe overlap depth per layout (OPTIMIZE effectiveness)
    "z04_clustering_depth" -> (Layout.clusteringDepth _),
    // partitioned-bloom membership skipping: FP rate at depth k = 1..4
    "z03_bloom_report" -> (Layout.bloomReport _),
  )

  // Shared DuckDB fragments -----------------------------------------

  /** The s08/i03/i05 query-term list as a DuckDB list literal —
    * interpolated (never hardcoded) so editing
    * [[Similarity.HybridQueryTerms]] cannot desynchronize the oracle
    * from the implementation. */
  private val qTermsList: String =
    Similarity.HybridQueryTerms.map(t => s"'$t'").mkString("[", ",", "]")

  /** i13's probe-term list, interpolated from
    * [[TextAnalysis.RetrievalEvalTerms]] (same no-hardcoding rule as
    * [[qTermsList]]). */
  private val evalTermsList: String =
    TextAnalysis.RetrievalEvalTerms.map(t => s"'$t'").mkString("[", ",", "]")

  /** doc_id, tk (tokens) for documents. */
  private val tkCte =
    raw"tk AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents)"

  /** doc_id, shs (distinct word 5-gram shingles). */
  private val shCte =
    "sh AS (SELECT doc_id, CASE WHEN len(tk) >= 5 THEN list_distinct(" +
      "[array_to_string(tk[i:i+4], ' ') for i in generate_series(1, len(tk)-4)]) " +
      "ELSE [] END AS shs FROM tk)"

  /** Rolling hash of a string expression `s` mod `m` (seed 7, base 31). */
  private def rh(s: String, m: Long): String =
    s"CASE WHEN length($s) >= 1 THEN list_reduce(list_prepend(7::BIGINT, " +
      s"[ascii($s[j])::BIGINT for j in generate_series(1, length($s))]), " +
      s"(a, x) -> (a * 31 + x) % $m) ELSE 7::BIGINT END"

  /** Sequential double dot product of two list<float> exprs over 64 dims. */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, [($a[i]::DOUBLE) * ($b[i]::DOUBLE) " +
      s"for i in generate_series(1, 64)]), (x, y) -> x + y)"

  private def cos(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  /** [[dot]] over only the first `m` dims — the s21 prefix kernel
    * (same fold order as the Spark side's float_dot over slice). */
  private def dotM(a: String, b: String, m: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, [($a[i]::DOUBLE) * ($b[i]::DOUBLE) " +
      s"for i in generate_series(1, $m)]), (x, y) -> x + y)"

  private def cosM(a: String, b: String, m: Int): String =
    s"${dotM(a, b, m)} / (sqrt(${dotM(a, a, m)}) * sqrt(${dotM(b, b, m)}))"

  /** IVF coarse assignment: LCG(54321) hyperplane centroids, argmax
    * dot (ties → smallest k) — ends in `assigned(vec_id, bucket)`.
    * Shared by the s04 oracle and s30's residual chain. */
  private val ivfAssignCtes = """cents AS (SELECT k,
          [((1103515245::BIGINT * (k*64 + d) + 54321) % 2147483648)
            / 2147483648.0 - 0.5 for d in generate_series(1, 64)] AS cv
          FROM generate_series(0, 15) t(k)),
      dots AS (SELECT e.vec_id, c.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(e.embedding[d]::DOUBLE) * (c.cv[d]::DOUBLE) for d in generate_series(1, 64)]),
            (x, y) -> x + y) AS dot
          FROM embeddings e, cents c),
      assigned AS (SELECT vec_id, k AS bucket
          FROM (SELECT vec_id, k, row_number() OVER
                  (PARTITION BY vec_id ORDER BY dot DESC, k) AS crnk FROM dots) r
          WHERE crnk = 1)"""

  /** PQ codebook (8 subspaces × 16 centroids × 8 dims, LCG addend
    * 77777 — graft.functions.Pq) + per-(vector, subspace, centroid)
    * squared distances + the argmin code assignment. */
  private val pqCodeCtes = """
      cb AS (SELECT s, k,
          [((1103515245::BIGINT * ((s*16 + k)*8 + d) + 77777) % 2147483648)
            / 2147483648.0 - 0.5 for d in generate_series(1, 8)] AS cv
        FROM generate_series(0, 7) t(s), generate_series(0, 15) u(k)),
      pqd AS (SELECT e.vec_id, cb.s, cb.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(e.embedding[cb.s*8 + d]::DOUBLE - cb.cv[d]) *
             (e.embedding[cb.s*8 + d]::DOUBLE - cb.cv[d])
             for d in generate_series(1, 8)]),
            (x, y) -> x + y) AS dist
        FROM embeddings e, cb),
      pqcodes AS (SELECT vec_id, s, k AS code, dist
        FROM (SELECT *, row_number() OVER
                (PARTITION BY vec_id, s ORDER BY dist, k) AS rn FROM pqd) z
        WHERE rn = 1)"""

  /** CTE chain ending in `tc(doc_id, w, c)` + `norms(doc_id, n2)` —
    * the d15/d16 df-capped term-count vectors (relative stop cap:
    * df·1000 > permille·N_docs). Parameterized on the documents
    * relation so d15's stride-sampled baseline can feed a `sdocs`
    * CTE through the identical chain. */
  private def cosineVecCtesFrom(docsRel: String): String = s"""${
    tkCte.replace("FROM documents", s"FROM $docsRel")},
      tcw AS (SELECT doc_id, unnest(tk) AS w FROM tk),
      tc0 AS (SELECT doc_id, w, count(*) AS c FROM tcw
              WHERE length(w) >= 1 GROUP BY doc_id, w),
      nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tc0),
      stop AS (SELECT w FROM (SELECT w, count(*) AS df FROM tc0
               GROUP BY w) z, nn
               WHERE df * 1000 > ${Dedup.CosineDfPermille} * n_docs),
      tc AS (SELECT * FROM tc0 WHERE w NOT IN (SELECT w FROM stop)),
      norms AS (SELECT doc_id, CAST(sum(c*c) AS BIGINT) AS n2
                FROM tc GROUP BY doc_id)"""

  private val cosineVecCtes = cosineVecCtesFrom("documents")

  /** Final select shared by d15/d16: norm join + the one fixed float
    * expression tree + threshold (expects a `dots(ida, idb, dot)`
    * CTE in scope). */
  private val cosineScoreSelect = s"""
      SELECT ida, idb, dot, cos_e6 FROM (
        SELECT ida, idb, dot,
          CAST(floor((dot::DOUBLE * 1000000.0) /
            (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))) AS BIGINT)
            AS cos_e6
        FROM dots JOIN norms na ON ida = na.doc_id
          JOIN norms nb ON idb = nb.doc_id) scored
      WHERE cos_e6 >= ${Dedup.CosineThresholdE6}
      ORDER BY ida, idb"""

  /** CTE chain ending in `ah(doc_id, ahash)` — the m03 average-hash
    * signature (bit b set when block b's byte mean beats the payload
    * mean, denominators cleared; bit 63 via two's-complement MIN —
    * see the m03 oracle notes for the byte≡code-point assumption). */
  private val ahashCtes = """
      d AS (SELECT doc_id, text AS t, strlen(text) AS n
                 FROM documents WHERE strlen(text) > 0),
      cd AS (SELECT doc_id, n,
               [ascii(t[j])::BIGINT for j in generate_series(1, n)] AS codes
             FROM d),
      st AS (SELECT doc_id, n, codes,
               CAST(list_reduce(list_prepend(0::BIGINT, codes),
                 (a, x) -> a + x) AS BIGINT) AS total FROM cd),
      ah AS (SELECT doc_id, CAST(list_sum([CASE WHEN
          COALESCE(list_reduce(list_prepend(0::BIGINT,
            codes[(b*n)//64 + 1 : ((b+1)*n)//64]), (a, x) -> a + x), 0)
            * n > total * (((b+1)*n)//64 - (b*n)//64)
          THEN (CASE WHEN b = 63 THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << b) END)
          ELSE 0::BIGINT END
          for b in generate_series(0, 63)]) AS BIGINT) AS ahash
      FROM st)"""

  /** The x29 decontamination chain — ends in `gr(doc_id, gs)`,
    * `sp(doc_id, split)` and `hits(doc_id, n_hit)`; shared by the
    * x29 removal list and the x31 per-source card. */
  private lazy val decontamCtes = s"""$tkCte,
      sp AS (SELECT doc_id, CASE WHEN m < 80 THEN 'train'
               WHEN m < 90 THEN 'val' ELSE 'test' END AS split
             FROM (SELECT doc_id, ${rh("lower(text)", 1000000007L)} % 100 AS m
                   FROM documents) g),
      gr0 AS (SELECT doc_id, CASE WHEN len(tk) >= ${Dedup.DecontamN}
               THEN [array_to_string(tk[i:i+${Dedup.DecontamN - 1}], ' ')
                 for i in generate_series(1, len(tk) - ${Dedup.DecontamN - 1})]
               ELSE [] END AS gstr FROM tk),
      gr AS (SELECT doc_id,
               list_distinct([${rh("s", 1000000007L)} for s in gstr]) AS gs
             FROM gr0 WHERE len(gstr) > 0),
      bench AS (SELECT DISTINCT unnest(gs) AS g
                FROM gr JOIN sp USING (doc_id) WHERE split = 'test'),
      hits AS (SELECT doc_id, count(*) AS n_hit
               FROM (SELECT doc_id, unnest(gs) AS g FROM gr
                     JOIN sp USING (doc_id) WHERE split = 'train') u
               JOIN bench USING (g) GROUP BY 1)"""

  /** The m04 pair chain on top of [[ahashCtes]] — ends in
    * `apairs(ida, idb, hamming)`, the confirmed (hamming ≤ 6)
    * perceptual near-dup pairs; shared by m04 (pair output) and
    * m07/m08 (connected components / keep-best over the pairs). */
  private lazy val ahashPairCtes = s"""$ahashCtes,
      abands AS (SELECT doc_id, ahash, b AS band_idx,
                  (ahash >> (b * 8)) & 255 AS band_key
                FROM ah, generate_series(0, 7) t(b)
                QUALIFY count(*) OVER (PARTITION BY band_idx, band_key)
                  <= ${Dedup.SimhashBucketCap}),
      apairs AS (SELECT ida, idb, hamming FROM (
                 SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
                   CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER)
                     AS hamming
                 FROM abands a JOIN abands b ON a.band_idx = b.band_idx
                   AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
                 WHERE hamming <= 6)"""

  /** CTE chain ending in `bands(doc_id, band_idx, band_key)` — the
    * MinHash signature + LSH band construction shared by the d03/d06
    * pair chain and the d11 incremental (batch ⨝ index) variant. */
  private val minhashBandCtes = s"""$tkCte, $shCte,
      hv AS (SELECT doc_id, [${rh("s", 1000000007L)} for s in shs] AS hv,
             len(shs) AS n_sh FROM sh),
      sigs AS (SELECT doc_id, [list_min([((2*i+1)*h + 7919*(i+1)) % 1000000007
               for h in hv]) for i in generate_series(0, 31)] AS sig
               FROM hv WHERE n_sh > 0),
      bands AS (SELECT doc_id, b AS band_idx,
                array_to_string(sig[b*4+1 : b*4+4], '-') AS band_key
                FROM sigs, generate_series(0, 7) t(b))"""

  /** The s26 unrolled-Lloyd CTE chain ending in `st<R>` (per-round
    * centroid state) and `a<R>` (final assignment with its winning
    * d2), shared by s26 and the s27 quality report so the loop
    * definition cannot drift between training and evaluation. */
  private lazy val kmeansCtes = s"""x AS (SELECT vec_id,
             [floor(e::DOUBLE * 1000000)::BIGINT for e in embedding] AS x
           FROM embeddings),
      kz AS (SELECT greatest(${Similarity.KmeansK},
               least(${Similarity.KmeansKMax},
                 (count(*) + ${Similarity.SemDedupChunkTarget - 1})
                   // ${Similarity.SemDedupChunkTarget})) AS kk
             FROM embeddings),
      st0 AS (SELECT vec_id::INT AS bucket, i - 1 AS dim, x[i] AS mean_e6,
                0::BIGINT AS n_vectors
              FROM x, generate_series(1, 64) t(i)
              WHERE vec_id < (SELECT kk FROM kz)),
      ${(1 to Similarity.KmeansRounds).map { r =>
        s"""c$r AS (SELECT bucket, list(mean_e6 ORDER BY dim) AS c
              FROM st${r - 1} GROUP BY bucket),
      a$r AS (SELECT vec_id, bucket, x, d2 FROM (
              SELECT vec_id, bucket, x, d2, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, bucket) AS rn
              FROM (SELECT x.vec_id, c.bucket, x.x,
                      list_sum([(x.x[i] - c.c[i]) * (x.x[i] - c.c[i])
                                for i in generate_series(1, 64)]) AS d2
                    FROM x CROSS JOIN c$r c)) WHERE rn = 1),
      m$r AS (SELECT bucket, i - 1 AS dim, count(*) AS n, sum(x[i]) AS sm
              FROM a$r, generate_series(1, 64) t(i) GROUP BY 1, 2),
      st$r AS (SELECT p.bucket, p.dim,
                 coalesce(m.n, 0)::BIGINT AS n_vectors,
                 coalesce(floor(m.sm / m.n)::BIGINT, p.mean_e6) AS mean_e6
               FROM st${r - 1} p LEFT JOIN m$r m USING (bucket, dim))"""
      }.mkString(",\n      ")}"""

  /** CTE chain ending in `pairs(ida, idb, n_match)` — the MinHash-LSH
    * near-dup pairs of d03, shared by the d06 connected-components
    * oracle. */
  private val minhashPairCtes = s"""$minhashBandCtes,
      cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
               FROM bands a JOIN bands b ON a.band_idx = b.band_idx
                AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      pairs AS (SELECT ida, idb,
        CAST(list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
          for i in generate_series(1, 32)]) AS INTEGER) AS n_match
        FROM cand JOIN sigs sa ON ida = sa.doc_id JOIN sigs sb ON idb = sb.doc_id
        WHERE list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
          for i in generate_series(1, 32)]) * 2 >= 32)"""

  /** One t34 mining pass in relational form: top-K adjacent symbol
    * pairs of `inRel(w, c, syms)` by corpus-weighted count,
    * (count desc, l, r) — t26's rule over symbol sequences. */
  private def bpeMineCtes(inRel: String, outName: String,
      tag: String): String = s"""
      mp$tag AS (SELECT c, unnest(CASE WHEN len(syms) >= 2
          THEN [{'l': syms[i], 'r': syms[i+1]}
            for i in generate_series(1, len(syms) - 1)] ELSE [] END) AS pr
        FROM $inRel),
      $outName AS (SELECT pr.l AS l, pr.r AS r, sum(c) AS pair_count
        FROM mp$tag GROUP BY 1, 2
        ORDER BY pair_count DESC, l, r LIMIT ${Curation.BpeTopMerges})"""

  /** One greedy t34 merge pass in relational form — the equivalent of
    * the Spark side's left-to-right fold: within each run of
    * consecutive matched pairs, merges land on alternating positions
    * starting at the run head (gaps-and-islands), a symbol is
    * consumed when the previous position merged. The gate cross-
    * checks this formulation against the fold — two independent
    * derivations of the same pass. */
  private def bpeApplyCtes(inRel: String, mergesRel: String,
      outName: String, tag: String): String = s"""
      p$tag AS (SELECT w, c, u.i AS i, u.sym AS sym, u.nxt AS nxt
        FROM (SELECT w, c, unnest([{'i': i, 'sym': syms[i],
            'nxt': CASE WHEN i < len(syms) THEN syms[i+1] ELSE NULL END}
          for i in generate_series(1, len(syms))]) AS u FROM $inRel) z$tag),
      f$tag AS (SELECT p.w, p.c, p.i, p.sym, p.nxt,
          CASE WHEN m.l IS NOT NULL THEN 1 ELSE 0 END AS flag
        FROM p$tag p LEFT JOIN $mergesRel m
          ON p.sym = m.l AND p.nxt = m.r),
      g$tag AS (SELECT w, i, row_number() OVER
            (PARTITION BY w, i - rnf ORDER BY i) AS rk
          FROM (SELECT w, i, row_number() OVER
              (PARTITION BY w ORDER BY i) AS rnf
            FROM f$tag WHERE flag = 1) zz$tag),
      mg$tag AS (SELECT w, i FROM g$tag WHERE rk % 2 = 1),
      e$tag AS (SELECT f.w, f.c, f.i,
          CASE WHEN mi.i IS NOT NULL THEN f.sym || f.nxt ELSE f.sym END AS sym
        FROM f$tag f
        LEFT JOIN mg$tag mi ON f.w = mi.w AND f.i = mi.i
        LEFT JOIN mg$tag mp ON f.w = mp.w AND f.i = mp.i + 1
        WHERE mp.i IS NULL),
      $outName AS (SELECT w, max(c) AS c, list(sym ORDER BY i) AS syms
        FROM e$tag GROUP BY w)"""

  /** t17's bigram model CTE chain ending in `dp(doc_id, w1, w2)` and
    * `model(w1, w2, c12, c1, p_e6)` — shared by t17 and the t18 doc
    * scorer so the model definition cannot drift. */
  private val bigramCtes = s"""$tkCte,
      g AS (SELECT doc_id, CASE WHEN len(tk) >= 2 THEN
              [[tk[i], tk[i+1]] for i in generate_series(1, len(tk)-1)]
            ELSE [] END AS bs FROM tk),
      e AS (SELECT doc_id, unnest(bs) AS b FROM g),
      dp AS (SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM e),
      pair AS (SELECT w1, w2, count(*) AS c12 FROM dp GROUP BY 1, 2),
      uni AS (SELECT w1, sum(c12) AS c1 FROM pair GROUP BY 1),
      model AS (SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
          CAST((c12 * 1000000) // c1 AS BIGINT) AS p_e6
        FROM pair JOIN uni USING (w1))"""

  /** Recursive connected-components over a `pairs(ida, idb)` CTE that
    * must already be in scope — ends in lab(id, cluster_id). */
  private def ccOverPairs(pairsName: String): String = s"""
      edges AS (SELECT ida AS src, idb AS dst FROM $pairsName
                UNION SELECT idb, ida FROM $pairsName),
      reach AS (SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
                WHERE e.dst <> r.src),
      lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src)"""

  /** `minhashPairCtes` extended with the connected-components chain
    * ending in `lab(id, cluster_id)` — shared by d06 and d07 so the
    * cluster definition cannot drift between label assignment and
    * canonical selection. Callers must open with WITH RECURSIVE. */
  private val ccCtes = s"""$minhashPairCtes,${ccOverPairs("pairs")}"""

  /** CTE chain ending in `escored(ida, idb, cs)` — the LSH-banded
    * embedding candidate pairs with exact cosine, shared by d08 (pair
    * output) and d09 (connected components over the cs>=0.4 pairs).
    * Mirrors Similarity.embeddingNearDupsBucketed exactly: band width
    * `nbits` = Similarity.lshBandBits (adaptive in corpus size, = 4 at
    * the gate scales), hyperplane j of band b is LCG plane (b·nbits+j)
    * — identical indices to the Spark LshBands expression — and the
    * 500-cap QUALIFY is d04's dense-bucket rule. */
  private val embScoredCtes = s"""
      nb AS (SELECT GREATEST(4, CAST(ceil(
               log2(ceil(count(*) / 64.0)) - 1e-9) AS INT)) AS nbits
             FROM embeddings),
      ebands AS (SELECT vec_id, b AS band_idx,
        CAST(list_sum([CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
          [(embedding[d]::DOUBLE) * (((1103515245::BIGINT * ((b*nbits + j)*64 + d) + 12345) % 2147483648)
            / 2147483648.0 - 0.5) for d in generate_series(1, 64)]),
          (x, y) -> x + y) > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END
          for j in generate_series(0, nbits - 1)]) AS BIGINT) AS band_key
        FROM embeddings, nb, generate_series(0, 3) t(b)
        QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= 500),
      ecand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
                FROM ebands a JOIN ebands b ON a.band_idx = b.band_idx
                 AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
      escored AS (SELECT ida, idb, ${cos("sa.embedding", "sb.embedding")} AS cs
                  FROM ecand JOIN embeddings sa ON ida = sa.vec_id
                             JOIN embeddings sb ON idb = sb.vec_id)"""

  /** CTE chain ending in `mpairs(ida, idb, rank_ab, rank_ba, cs)` —
    * the mutual-k-NN edges (both directions inside the per-vector
    * top-3 of the s09 graph), shared by s10 (edge output) and s11
    * (connected components over the edges) so the two oracles cannot
    * drift. Mirrors [[graft.operators.Similarity.mutualKnn]]. */
  private lazy val mutualKnnCtes = s"""$embScoredCtes,
      kedges AS (SELECT ida AS vec_id, idb AS neighbor_id, cs FROM escored
                 UNION ALL
                 SELECT idb AS vec_id, ida AS neighbor_id, cs FROM escored),
      g AS (SELECT vec_id, neighbor_id, cs,
              row_number() OVER
                (PARTITION BY vec_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM kedges QUALIFY rank <= 3),
      mpairs AS (SELECT f.vec_id AS ida, f.neighbor_id AS idb,
                   f.rank AS rank_ab, r.rank AS rank_ba, f.cs
                 FROM g f JOIN g r
                   ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
                 WHERE f.vec_id < f.neighbor_id)"""

  /** CTE chain ending in `lay(layout, f, tb, vb)` — every event's
    * simulated file assignment under the four z01/z02 layouts, shared
    * by z02 (box-query pruning) and z04 (point-probe clustering
    * depth) so the layout simulation cannot drift. Mirrors the frame
    * built inside [[graft.operators.Layout.pruningReport]] /
    * [[graft.operators.Layout.clusteringDepth]]. */
  private lazy val layoutLayCtes = s"""h AS (SELECT event_id,
              epoch_us(ts) // 3600000000 AS hr,
              greatest(0, least(CAST(floor(coalesce(value, 0.0)) AS BIGINT), 1023)) AS vb
            FROM events),
      b AS (SELECT event_id,
              (hr - (SELECT min(hr) FROM h)) % 1024 AS tb, vb FROM h),
      z AS (SELECT event_id, tb, vb, ${Layout.zkeyExpr("tb", "vb")} AS zkey FROM b),
      mx AS (SELECT max(event_id) AS me, max(tb) AS mt, max(vb) AS mv,
               max(zkey) AS mz FROM z),
      wf AS (SELECT tb, vb,
               (event_id * ${Layout.PruneFiles}) // (me + 1) AS f_natural,
               (tb * ${Layout.PruneFiles}) // (mt + 1) AS f_time,
               (vb * ${Layout.PruneFiles}) // (mv + 1) AS f_value,
               (zkey * ${Layout.PruneFiles}) // (mz + 1) AS f_zorder
             FROM z, mx),
      lay AS (SELECT 'natural' AS layout, f_natural AS f, tb, vb FROM wf
              UNION ALL SELECT 'time', f_time, tb, vb FROM wf
              UNION ALL SELECT 'value', f_value, tb, vb FROM wf
              UNION ALL SELECT 'zorder', f_zorder, tb, vb FROM wf)"""

  /** CTE chain ending in `sc(doc_id, n_matched, score_e6)` — the
    * unranked BM25 scores over the standing query terms, shared by
    * i03 (ranked shortlist) and i09 (diversified re-rank) so the two
    * oracles cannot drift. Mirrors
    * [[graft.operators.TextAnalysis.bm25]]. */
  private lazy val bm25Ctes = s"""$tkCte,
      base AS (SELECT doc_id, len(tk)::BIGINT AS dl,
                 list_filter(tk, x -> list_contains(
                   $qTermsList, x)) AS qtk
               FROM tk),
      stats AS (SELECT count(*) AS nn, sum(dl) AS ll FROM base),
      tf AS (SELECT doc_id, dl, term, count(*) AS tf
             FROM (SELECT doc_id, dl, unnest(qtk) AS term FROM base
                   WHERE len(qtk) > 0) u
             GROUP BY doc_id, dl, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      contrib AS (SELECT doc_id,
          ((22::HUGEINT * tf * ll * 1000000)
            // (10::HUGEINT * tf * ll + 3::HUGEINT * ll
               + 9::HUGEINT * dl * nn)
           * ((2::HUGEINT * (nn - df) + 1) * 1000000 // (2 * df + 1)))
            // 1000000 AS contrib_e6
        FROM tf JOIN dfq USING (term), stats),
      sc AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_matched,
               CAST(sum(contrib_e6) AS BIGINT) AS score_e6
             FROM contrib GROUP BY doc_id)"""

  /** x07/x08/x09 oracle bodies, extracted so the x10 composition
    * embeds the exact same SQL (no drift between the standalone
    * queries and the card). */
  private val x07Oracle = """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
              CAST(floor(value * 1000) AS BIGINT) AS v_e3 FROM events),
      w AS (SELECT event_id, user_id, v_e3,
              count(v_e3) OVER win AS n,
              sum(v_e3) OVER win AS sx,
              sum(v_e3 * v_e3) OVER win AS sxx
            FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, v_e3, n,
        CAST(sx AS BIGINT) AS sx, CAST(sxx AS BIGINT) AS sxx
      FROM w
      WHERE n >= 30
        AND (n * v_e3 - sx) * (n * v_e3 - sx) > 9 * (n * sxx - sx * sx)
      ORDER BY event_id"""
  private val x08Oracle = """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
              CAST(floor(value * 1000000) AS BIGINT) AS v_e6 FROM events),
      c AS (SELECT max(us) - 86400000000 AS cut FROM e),
      snap AS (SELECT user_id, v_e6 AS snap_v FROM (
          SELECT e.*, row_number() OVER (PARTITION BY user_id
            ORDER BY us DESC, event_id DESC) AS rn
          FROM e, c WHERE us < cut) z WHERE rn = 1),
      chg AS (SELECT user_id, v_e6 AS chg_v FROM (
          SELECT e.*, row_number() OVER (PARTITION BY user_id
            ORDER BY us DESC, event_id DESC) AS rn
          FROM e, c WHERE us >= cut) z WHERE rn = 1)
      SELECT coalesce(s.user_id, ch.user_id) AS user_id,
        CASE WHEN s.user_id IS NULL THEN 'insert'
             WHEN ch.user_id IS NULL THEN 'keep' ELSE 'update' END AS action,
        coalesce(ch.chg_v, s.snap_v) AS v_e6
      FROM snap s FULL JOIN chg ch ON s.user_id = ch.user_id
      ORDER BY user_id"""
  private val x09Oracle = """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
              CAST(floor(value * 1000000) AS BIGINT) AS v_e6 FROM events),
      hourly AS (SELECT user_id, hr, v_e6 FROM (
          SELECT user_id, us // 3600000000 AS hr, us, event_id, v_e6,
            row_number() OVER (PARTITION BY user_id, us // 3600000000
              ORDER BY us DESC, event_id DESC) AS rn
          FROM e) z WHERE rn = 1),
      chg AS (SELECT user_id, hr, v_e6 FROM (
          SELECT user_id, hr, v_e6,
            lag(v_e6) OVER (PARTITION BY user_id ORDER BY hr) AS prev_v
          FROM hourly) z
        WHERE prev_v IS NULL OR prev_v <> v_e6)
      SELECT user_id, CAST(row_number() OVER w AS INTEGER) AS version,
        hr AS valid_from_hr,
        coalesce(lead(hr) OVER w - 1, -1) AS valid_to_hr, v_e6
      FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY hr)
      ORDER BY user_id, version"""

  /** Oracle bodies shared by their standalone gates AND the x26
    * pretraining-card composition (the x10 pattern: the composed
    * stages are LITERALLY the standalone SQL, so they cannot drift). */
  private val t02Oracle = raw"""
      WITH f AS (SELECT doc_id, lower(text) AS t FROM documents),
      g AS (SELECT doc_id, length(t) AS n_chars_seen,
        length(regexp_replace(t, '[a-z0-9\s]', '', 'g')) AS n_punct,
        string_split_regex(t, '\s+') AS tk FROM f),
      h AS (SELECT doc_id, n_chars_seen, n_punct, len(tk) AS n_toks,
        len(list_distinct(tk)) AS n_types,
        len(list_filter(tk, x -> list_contains(['the','a','and','of','to'], x))) AS n_stop
        FROM g),
      i AS (SELECT doc_id, n_chars_seen, n_toks,
        CAST(floor(1000000 * (n_punct / n_chars_seen)) AS BIGINT) AS punct_ratio_e6,
        CAST(floor(1000000 * (n_stop / n_toks)) AS BIGINT) AS stop_ratio_e6,
        CAST(floor(1000000 * (n_types / n_toks)) AS BIGINT) AS ttr_e6
        FROM h)
      SELECT *, CAST(CASE WHEN n_chars_seen >= 100 AND n_toks >= 20
        AND punct_ratio_e6 < 100000 AND ttr_e6 > 150000 THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM i ORDER BY doc_id"""

  private val t06Oracle = s"""
      WITH $tkCte,
      g AS (SELECT doc_id,
        CASE WHEN len(tk) >= 2 THEN [array_to_string(tk[i:i+1], ' ')
          for i in generate_series(1, len(tk)-1)] ELSE [] END AS g2,
        CASE WHEN len(tk) >= 3 THEN [array_to_string(tk[i:i+2], ' ')
          for i in generate_series(1, len(tk)-2)] ELSE [] END AS g3
        FROM tk),
      h AS (SELECT doc_id, len(g2) AS n2, len(list_distinct(g2)) AS n2d,
              len(g3) AS n3, len(list_distinct(g3)) AS n3d FROM g)
      SELECT doc_id, CAST(n2 AS INTEGER) AS n2, CAST(n3 AS INTEGER) AS n3,
        CASE WHEN n2 > 0 THEN CAST(floor(1000000 * ((n2 - n2d) / n2)) AS BIGINT)
             ELSE 0::BIGINT END AS dup2_e6,
        CASE WHEN n3 > 0 THEN CAST(floor(1000000 * ((n3 - n3d) / n3)) AS BIGINT)
             ELSE 0::BIGINT END AS dup3_e6
      FROM h ORDER BY doc_id"""

  /** The t35/t36 hashed feature stream (unigram + bigram rolling
    * hashes mod P, bucketed into ClsBuckets) as CTEs `f` and `e`,
    * assuming `tk` is in scope — ONE featurization shared by the
    * inference oracle (t35) and the training oracle (t36), mirroring
    * the Spark-side `clsFeatures` helper. */
  private val clsFeatureCtes = s"""f AS (SELECT doc_id, list_concat(tk,
        CASE WHEN len(tk) >= 2 THEN [array_to_string(tk[i:i+1], ' ')
          for i in generate_series(1, len(tk)-1)] ELSE [] END) AS fts FROM tk),
      e AS (SELECT doc_id, (${rh("x", 1000000007L)}) % ${TextAnalysis.ClsBuckets} AS bucket
            FROM (SELECT doc_id, unnest(fts) AS x FROM f) z)"""

  /** t35's feature stream joined against the deterministic
    * pseudo-weight table — the constants interpolate from
    * [[TextAnalysis]] so the two engines (and the x27 funnel
    * embedding) can never drift. */
  private val t35Oracle = s"""
      WITH $tkCte,
      $clsFeatureCtes,
      w AS (SELECT i AS bucket,
              ((i + 1) * 2654435761) % 1000000007
                % ${2L * TextAnalysis.ClsWeightE6 + 1L}
                - ${TextAnalysis.ClsWeightE6} AS w_e6
            FROM generate_series(0, ${TextAnalysis.ClsBuckets - 1}) t(i))
      SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        CAST(sum(w.w_e6) AS BIGINT) AS score_sum_e6,
        CAST(CASE WHEN sum(w.w_e6) >= 0 THEN 1 ELSE 0 END AS INTEGER) AS keep_cls
      FROM e JOIN w USING (bucket)
      GROUP BY e.doc_id ORDER BY doc_id"""

  /** The hard-example perceptron round CTEs (m_r margins, s_r the
    * per-class [[TextAnalysis.ClsHardK]] most-misclassified cut, d_r
    * deltas, w_r MATERIALIZED — see the t36 note) over a labeled
    * feature-stream CTE named `ftRef` with columns (doc_id, y,
    * bucket, tf), starting from a `w0` CTE — parameterized so t36
    * (full corpus), t37 (train fold) and x33 (via
    * [[clsTrainedMarginSql]]) unroll LITERALLY the same rounds. */
  private def perceptronRoundsOver(ftRef: String): String =
    (1 to TextAnalysis.PerceptronRounds).map { r =>
      s"""
      m$r AS (SELECT $ftRef.doc_id, $ftRef.y,
                CAST(sum($ftRef.tf * w${r - 1}.w) AS BIGINT) AS m
              FROM $ftRef JOIN w${r - 1} USING (bucket) GROUP BY 1, 2),
      s$r AS (SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (PARTITION BY y
                  ORDER BY y * m, doc_id) AS rn
                FROM m$r WHERE y * m <= 0) z$r
              WHERE rn <= ${TextAnalysis.ClsHardK}),
      d$r AS (SELECT $ftRef.bucket,
                CAST(sum($ftRef.y * $ftRef.tf) AS BIGINT) AS dw
              FROM $ftRef JOIN s$r USING (doc_id) GROUP BY 1),
      w$r AS MATERIALIZED (SELECT w${r - 1}.bucket,
                CAST(w${r - 1}.w + coalesce(d$r.dw, 0) AS BIGINT) AS w
              FROM w${r - 1} LEFT JOIN d$r USING (bucket))"""
    }.mkString(",")

  /** The labeled feature stream (hashed token tf rows + one bias row
    * per labeled doc) as CTEs fx/fb, assuming `e` (features) and
    * `lab` (doc_id, …, y) are in scope — mirrors the Spark side's
    * labeledFeatures union. */
  private val clsLabeledFeatureCtes: String = s"""
      fx AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
             FROM e GROUP BY 1, 2),
      fb AS (SELECT doc_id, ${TextAnalysis.ClsBiasBucket}::BIGINT AS bucket,
               1::BIGINT AS tf FROM lab)"""

  /** The full-corpus training chain (tokens → features → t02
    * distillation labels → `ft` MATERIALIZED → w0 → unrolled
    * hard-example rounds) shared by the t36 gate and x33's
    * trained-keep rule, ending with CTE
    * w[[TextAnalysis.PerceptronRounds]] holding the trained table. */
  private lazy val clsTrainChainCtes: String = s"""$tkCte,
      $clsFeatureCtes,
      lab AS (SELECT doc_id, CASE WHEN keep = 1 THEN 1 ELSE -1 END AS y
              FROM ($t02Oracle) q02),
      $clsLabeledFeatureCtes,
      ft AS MATERIALIZED (SELECT u.doc_id, CAST(lab.y AS BIGINT) AS y,
               u.bucket, u.tf
             FROM (SELECT * FROM fx UNION ALL SELECT * FROM fb) u
               JOIN lab USING (doc_id)),
      w0 AS (SELECT i AS bucket, 0::BIGINT AS w
             FROM generate_series(0, ${TextAnalysis.ClsBuckets}) t(i)),
      ${perceptronRoundsOver("ft")}"""

  /** t36's batch perceptron unrolled to [[TextAnalysis
    * .PerceptronRounds]] rounds — generated (not hand-copied) so the
    * round count, seed-label rule, bucket space, and the rate-free
    * integer update all interpolate from the Spark-side constants.
    * Every round is the same two joins the Spark loop runs: margins
    * from the labeled feature stream against the previous weights,
    * then the misclassified documents' y·tf summed per bucket.
    * `ft` and each `w_r` are MATERIALIZED: each round references the
    * previous weights twice, so DuckDB's default CTE inlining would
    * re-expand the corpus-scale feature chain ~2^rounds times (it
    * exhausted the spill disk at the ×30 scale dir before this) —
    * the SQL analog of the Spark loop's per-round localCheckpoint. */
  private lazy val t36Oracle: String = s"""
      WITH $clsTrainChainCtes
      SELECT CAST(bucket AS BIGINT) AS bucket, CAST(w AS BIGINT) AS w
      FROM w${TextAnalysis.PerceptronRounds} ORDER BY bucket"""

  /** Self-contained (doc_id, trained-model margin) subquery — t36's
    * chain unrolled one round further into inference; x33's keep rule
    * is `m > 0` over this (sign(0) negative, the training
    * convention). */
  private lazy val clsTrainedMarginSql: String = {
    val n = TextAnalysis.PerceptronRounds
    s"""
      WITH $clsTrainChainCtes
      SELECT ft.doc_id, CAST(sum(ft.tf * w$n.w) AS BIGINT) AS m
      FROM ft JOIN w$n USING (bucket) GROUP BY 1"""
  }

  /** t37's oracle: the t36 chain with labels carrying (source,
    * holdout), rounds unrolled over the TRAIN fold only, one
    * inference round over everything, then the per-(source, holdout)
    * confusion rollup — the same LCG fold rule as the Spark side. */
  private lazy val t37Oracle: String = {
    val n = TextAnalysis.PerceptronRounds
    s"""
      WITH $tkCte,
      $clsFeatureCtes,
      lab AS (SELECT q02.doc_id, d.source,
                CASE WHEN q02.keep = 1 THEN 1 ELSE -1 END AS y,
                CASE WHEN ((q02.doc_id % 1000000007) * 2654435761)
                  % 1000000007 % ${TextAnalysis.EvalFolds} = 0
                  THEN 1 ELSE 0 END AS holdout
              FROM ($t02Oracle) q02 JOIN documents d USING (doc_id)),
      $clsLabeledFeatureCtes,
      ftall AS MATERIALIZED (SELECT u.doc_id, lab.source,
               CAST(lab.y AS BIGINT) AS y, lab.holdout,
               u.bucket, u.tf
             FROM (SELECT * FROM fx UNION ALL SELECT * FROM fb) u
               JOIN lab USING (doc_id)),
      ftr AS (SELECT doc_id, y, bucket, tf FROM ftall WHERE holdout = 0),
      w0 AS (SELECT i AS bucket, 0::BIGINT AS w
             FROM generate_series(0, ${TextAnalysis.ClsBuckets}) t(i)),
      ${perceptronRoundsOver("ftr")},
      sc AS (SELECT ftall.doc_id, ftall.source, ftall.y, ftall.holdout,
               CAST(sum(ftall.tf * w$n.w) AS BIGINT) AS m
             FROM ftall JOIN w$n USING (bucket) GROUP BY 1, 2, 3, 4),
      pr AS (SELECT source, holdout, y,
               CASE WHEN m > 0 THEN 1 ELSE -1 END AS pred FROM sc)
      SELECT source, CAST(holdout AS INTEGER) AS holdout,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_keep,
        CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS tp,
        CAST(sum(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS fp,
        CAST(sum(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END)
          AS BIGINT) AS fn,
        CAST(sum(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END)
          AS BIGINT) AS tn
      FROM pr GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** The x32/x33 assembly oracle body under a caller-supplied keep
    * subquery (the Spark side's assembleUnder, mirrored): spans = the
    * d19 CTE chain; n_bpe = the t34 tokenizer chain applied to the
    * kept token stream; shard/offset = x30's key rule + x28's
    * running-sum arithmetic within the shard. */
  private def assemblyOracle(keepSql: String): String = s"""
      WITH $d19SpanCtes,
      $t34NsymCtes,
      keep AS ($keepSql),
      cov AS (SELECT doc_id, unnest(generate_series(span_start, span_end))
                AS pos FROM sp),
      tpx AS (SELECT doc_id, u.i AS pos, u.t AS tok
              FROM (SELECT doc_id, unnest([{'i': i, 't': tk[i]}
                  for i in generate_series(1, len(tk))]) AS u FROM tk
                WHERE doc_id IN (SELECT doc_id FROM keep)) z),
      keptx AS (SELECT t.doc_id, t.tok FROM tpx t
                LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
                WHERE c.pos IS NULL),
      kb AS (SELECT k.doc_id, CAST(sum(n.n_sym) AS BIGINT) AS n_bpe
             FROM keptx k JOIN nsym n ON k.tok = n.w GROUP BY k.doc_id),
      kbs AS (SELECT kb.doc_id, d.source, kb.n_bpe,
                ${rh("concat(kb.doc_id::VARCHAR, ':1')", 1000000007L)} AS key
              FROM kb JOIN documents d ON kb.doc_id = d.doc_id),
      ttx AS (SELECT CAST(sum(n_bpe) AS BIGINT) AS total_toks FROM kbs),
      aax AS (SELECT kbs.*, greatest(1,
                (total_toks + ${Curation.ShardBudget - 1})
                  // ${Curation.ShardBudget}) AS n_shards
              FROM kbs, ttx),
      ggx AS (SELECT aax.*, key % n_shards AS shard,
                sum(n_bpe) OVER (PARTITION BY key % n_shards
                  ORDER BY key, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS end_tok
              FROM aax)
      SELECT doc_id, source, n_bpe, CAST(shard AS BIGINT) AS shard,
        CAST(end_tok - n_bpe AS BIGINT) AS start_tok,
        CAST((end_tok - n_bpe) // ${Curation.BpePackBudget} AS BIGINT)
          AS bin_first,
        CAST((end_tok - 1) // ${Curation.BpePackBudget} AS BIGINT)
          AS bin_last
      FROM ggx ORDER BY doc_id"""

  /** s28's greedy selection unrolled to [[Similarity.MmrK]] rounds —
    * generated (not hand-copied) so the round count, shortlist width,
    * λ = 0.5 argmax `rel − maxsim`, and the empty-set sentinel all
    * interpolate from the Spark-side constants. Every double here is
    * the same sequential fold the Spark plan computes, so the greedy
    * argmax ties out bit-identically. */
  private lazy val s28Oracle: String = {
    val rounds = (2 to Similarity.MmrK).map { r =>
      s"""
      cand$r AS (SELECT c.* FROM cand c LEFT JOIN sel${r - 1} s
                 ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
                 WHERE s.neighbor_id IS NULL),
      ms$r AS (SELECT c.query_id, c.neighbor_id,
                 max(${cos("c.nv", "s.nv")}) AS maxsim
               FROM cand$r c JOIN sel${r - 1} s ON c.query_id = s.query_id
               GROUP BY c.query_id, c.neighbor_id),
      p$r AS (SELECT query_id, neighbor_id, nv, rel, maxsim, $r AS pick FROM (
                SELECT c.query_id, c.neighbor_id, c.nv, c.rel, m.maxsim,
                  row_number() OVER (PARTITION BY c.query_id
                    ORDER BY c.rel - m.maxsim DESC, c.neighbor_id) AS rn
                FROM cand$r c JOIN ms$r m
                  ON c.query_id = m.query_id AND c.neighbor_id = m.neighbor_id) z
              WHERE rn = 1),
      sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM p$r)"""
    }.mkString(",")
    s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < 10),
      sc AS (SELECT query_id, c.vec_id AS neighbor_id, c.embedding AS nv,
               ${cos("qv", "c.embedding")} AS rel
             FROM embeddings c JOIN q ON query_id <> c.vec_id),
      cand AS (SELECT query_id, neighbor_id, nv, rel FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, neighbor_id) AS rk FROM sc) z
               WHERE rk <= ${Similarity.MmrShortlist}),
      p1 AS (SELECT query_id, neighbor_id, nv, rel,
               ${Similarity.MmrEmptySim}::DOUBLE AS maxsim, 1 AS pick FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rel - (${Similarity.MmrEmptySim}) DESC, neighbor_id) AS rn
               FROM cand) z
             WHERE rn = 1),
      sel1 AS (SELECT * FROM p1),$rounds
      SELECT query_id, CAST(pick AS INTEGER) AS pick, neighbor_id,
        CAST(floor(rel * 1000000) AS BIGINT) AS rel_e6,
        CAST(floor(maxsim * 1000000) AS BIGINT) AS maxsim_e6
      FROM sel${Similarity.MmrK} ORDER BY query_id, pick"""
  }

  /** The t34 tokenizer chain (word stream → vocabulary → two
    * mine/apply rounds → word→n_sym map), assuming a `tk` CTE is in
    * scope — shared by the t34 standalone gate and the x32 final
    * assembly so the tokenizer definition cannot drift. */
  private lazy val t34NsymCtes = s"""wdf AS (SELECT doc_id, w
             FROM (SELECT doc_id, unnest(tk) AS w
              FROM tk) wd0 WHERE length(w) >= 1),
      v0 AS (SELECT w, count(*) AS c,
               [w[i] for i in generate_series(1, length(w))] AS syms
             FROM wdf GROUP BY w),
      ${bpeMineCtes("v0", "m1", "a")},
      ${bpeApplyCtes("v0", "m1", "v1", "a")},
      ${bpeMineCtes("v1", "m2", "b")},
      ${bpeApplyCtes("v1", "m2", "v2", "b")},
      nsym AS (SELECT w, len(syms) AS n_sym FROM v2)"""

  /** The full t34 body — self-contained so its standalone gate AND
    * the x28 packing embed the identical tokenizer chain. */
  private lazy val t34Oracle = s"""
      WITH $tkCte,
      $t34NsymCtes
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(length(w)) AS BIGINT) AS n_chars,
        CAST(sum(n_sym) AS BIGINT) AS n_bpe
      FROM wdf JOIN nsym USING (w)
      GROUP BY doc_id ORDER BY doc_id"""

  private lazy val t19Oracle = s"""
      WITH $tkCte, $shCte,
      hv AS (SELECT doc_id, list_distinct([${rh("s", 1000000007L)} for s in shs]) AS hv
             FROM sh WHERE len(shs) > 0),
      ex AS (SELECT doc_id, unnest(hv) AS h FROM hv),
      df AS (SELECT h, count(*) AS df FROM ex GROUP BY h)
      SELECT e.doc_id, count(*) AS n_hashes,
        CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        (CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
          // count(*) AS novelty_e6
      FROM ex e JOIN df ON e.h = df.h
      GROUP BY e.doc_id ORDER BY doc_id"""

  private val x25Oracle = raw"""
      WITH ps AS (SELECT source, count(*) AS n_docs,
               sum(len(string_split_regex(lower(text), '\s+'))) AS tokens
             FROM documents GROUP BY source),
      w AS (SELECT source, n_docs, tokens,
              CAST(floor(sqrt(tokens) * 1000) AS BIGINT) AS sqrt_w
            FROM ps),
      tot AS (SELECT sum(tokens) AS total_tokens, sum(sqrt_w) AS sw FROM w)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(tokens AS BIGINT) AS tokens, sqrt_w,
        CAST((1000000 * sqrt_w) // sw AS BIGINT) AS share_e6,
        CAST(((total_tokens // 2) * sqrt_w) // sw AS BIGINT)
          AS target_tokens,
        CAST(least(${Curation.MaxEpochsE3},
          (1000 * (((total_tokens // 2) * sqrt_w) // sw)) // tokens)
          AS BIGINT) AS epochs_e3,
        CAST((tokens * least(${Curation.MaxEpochsE3},
          (1000 * (((total_tokens // 2) * sqrt_w) // sw)) // tokens)) // 1000
          AS BIGINT) AS alloc_tokens
      FROM w, tot ORDER BY source"""

  private lazy val t32Oracle = s"""
      WITH $tkCte, $shCte,
      hv AS (SELECT doc_id, [${rh("s", 1000000007L)} for s in shs] AS hv,
             len(shs) AS n_sh FROM sh),
      sigc AS (SELECT d.source, t.i,
               min(((2*t.i+1)*x.h + 7919*(t.i+1)) % 1000000007) AS v
               FROM (SELECT doc_id, unnest(hv) AS h FROM hv
                     WHERE n_sh > 0) x
               JOIN documents d USING (doc_id),
               generate_series(0, 31) t(i)
               GROUP BY 1, 2)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT)
          AS match_k,
        CAST((1000000 * sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END)) // 32
          AS BIGINT) AS est_jac_e6
      FROM sigc a JOIN sigc b ON a.i = b.i AND a.source < b.source
      GROUP BY 1, 2
      ORDER BY source_a, source_b"""

  private lazy val s29Oracle = s"""
      WITH sx AS (SELECT e.vec_id, d.source, e.embedding
                  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      ex AS (SELECT source, vec_id, dm AS dim,
               CAST(floor(embedding[dm+1]::DOUBLE * 1000000) AS BIGINT)
                 AS v_e6
             FROM sx,
               generate_series(0, ${Similarity.EmbeddingDims - 1}) t(dm)),
      cent AS (SELECT source, dim, count(*) AS n,
                 CAST(sum(v_e6) AS BIGINT) AS s_e6,
                 sum(v_e6::HUGEINT * v_e6) AS ss,
                 CAST(floor(CAST(sum(v_e6) AS DOUBLE) / count(*))
                   AS BIGINT) AS m_e6
               FROM ex GROUP BY source, dim),
      corpus AS (SELECT dim,
                   CAST(floor(CAST(sum(s_e6) AS DOUBLE) / sum(n))
                     AS BIGINT) AS g_e6
                 FROM cent GROUP BY dim),
      snorm AS (SELECT source, max(n) AS n_vecs,
                  CAST(sum(m_e6 * m_e6) AS BIGINT) AS n2
                FROM cent GROUP BY source),
      gnorm AS (SELECT CAST(sum(g_e6 * g_e6) AS BIGINT) AS g2 FROM corpus),
      cosg AS (SELECT source, CAST(sum(m_e6 * g_e6) AS BIGINT) AS dotg
               FROM cent JOIN corpus USING (dim) GROUP BY source),
      pair AS (SELECT a.source AS source, b.source AS other,
                 CAST(sum(a.m_e6 * b.m_e6) AS BIGINT) AS dot
               FROM cent a JOIN cent b
                 ON a.dim = b.dim AND a.source <> b.source
               GROUP BY 1, 2),
      pcos AS (SELECT p.source, p.other,
                 CAST(floor((dot::DOUBLE * 1000000.0) /
                   (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))) AS BIGINT)
                   AS cos_e6
               FROM pair p JOIN snorm na ON p.source = na.source
                 JOIN snorm nb ON p.other = nb.source),
      near AS (SELECT source, other AS nearest_source,
                 cos_e6 AS nearest_cos_e6
               FROM (SELECT source, other, cos_e6, row_number() OVER
                       (PARTITION BY source
                        ORDER BY cos_e6 DESC, other) AS rn
                     FROM pcos) r WHERE rn = 1),
      disp AS (SELECT source,
                 CAST((sum(ss - 2::HUGEINT * m_e6 * s_e6
                           + n::HUGEINT * m_e6 * m_e6))
                   // (max(n)::HUGEINT * 1000) AS BIGINT) AS dispersion_k
               FROM cent GROUP BY source)
      SELECT s.source, s.n_vecs,
        CAST(floor((dotg::DOUBLE * 1000000.0) /
          (sqrt(s.n2::DOUBLE) * sqrt(g2::DOUBLE))) AS BIGINT)
          AS cos_corpus_e6,
        nearest_source, nearest_cos_e6, dispersion_k
      FROM snorm s JOIN cosg USING (source), gnorm
        JOIN near ON s.source = near.source
        JOIN disp ON s.source = disp.source
      ORDER BY s.source"""

  private lazy val t33Oracle = s"""
      WITH $tkCte,
      psa AS (SELECT d.source, term, count(*) AS scnt
              FROM (SELECT doc_id, unnest(tk) AS term FROM tk) u
              JOIN documents d USING (doc_id)
              GROUP BY 1, 2),
      corpus AS (SELECT term, sum(scnt) AS cnt FROM psa GROUP BY 1),
      tot AS (SELECT sum(cnt) AS tot FROM corpus),
      topv AS (SELECT term, cnt FROM corpus
               ORDER BY cnt DESC, term LIMIT ${TextAnalysis.DriftTopV}),
      tots AS (SELECT source, sum(scnt) AS tot_s FROM psa GROUP BY 1),
      grid AS (SELECT s.source, v.term, s.tot_s, t.tot,
                 coalesce(p.scnt, 0) AS scnt, v.cnt
               FROM tots s CROSS JOIN topv v CROSS JOIN tot t
               LEFT JOIN psa p ON p.source = s.source AND p.term = v.term),
      g2 AS (SELECT *, (scnt * 1000000000) // tot_s AS p_e9,
               (cnt * 1000000000) // tot AS q_e9 FROM grid),
      g3 AS (SELECT *, abs(p_e9 - q_e9) AS contrib,
               row_number() OVER (PARTITION BY source
                 ORDER BY abs(p_e9 - q_e9) DESC, term) AS rn
             FROM g2),
      a AS (SELECT source, tot_s, tot, sum(contrib) AS sum_top,
              sum(scnt) AS scnt_top, sum(cnt) AS cnt_top,
              max(CASE WHEN rn = 1 THEN term END) AS drift_term
            FROM g3 GROUP BY 1, 2, 3)
      SELECT source, CAST(tot_s AS BIGINT) AS n_tokens,
        CAST((sum_top + abs(((tot_s - scnt_top) * 1000000000) // tot_s
            - ((tot - cnt_top) * 1000000000) // tot)) // 2000 AS BIGINT)
          AS tv_e6,
        drift_term
      FROM a ORDER BY source"""

  /** The d19 exact-substring chain ending in
    * `sp(doc_id, span_start, span_end, n_windows)` — shared by the
    * d19 report and the d20 rewrite so the span definition cannot
    * drift between detection and application. */
  private lazy val d19SpanCtes = s"""$tkCte,
      hvv AS (SELECT doc_id, [${rh("t", 1000000007L)} for t in tk] AS hv
              FROM tk),
      wg AS (SELECT doc_id, unnest(CASE WHEN len(hv) >= ${Dedup.SubstrToks}
               THEN [{'p': i, 'h': list_reduce(list_prepend(7::BIGINT,
                   hv[i:i+${Dedup.SubstrToks - 1}]),
                   (a, x) -> (a * 31 + x) % 1000000007)}
                 for i in generate_series(1, len(hv) - ${Dedup.SubstrToks - 1})]
               ELSE [] END) AS u FROM hvv),
      w2 AS (SELECT doc_id, u.p AS pos, u.h AS h FROM wg),
      dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS wdf
              FROM w2 GROUP BY h) z WHERE wdf >= 2),
      m AS (SELECT w2.doc_id, w2.pos FROM w2 JOIN dup USING (h)),
      i1 AS (SELECT doc_id, pos, lag(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) AS prev FROM m),
      i2 AS (SELECT doc_id, pos, sum(CASE WHEN prev IS NULL
               OR pos - prev > ${Dedup.SubstrToks} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i1),
      sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + ${Dedup.SubstrToks - 1} AS BIGINT) AS span_end,
               CAST(count(*) AS BIGINT) AS n_windows
             FROM i2 GROUP BY doc_id, island)"""

  private lazy val d17Oracle = s"""
      WITH $minhashPairCtes
      SELECT least(da.source, db.source) AS source_a,
        greatest(da.source, db.source) AS source_b,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(n_match) AS BIGINT) AS sum_match
      FROM pairs JOIN documents da ON ida = da.doc_id
      JOIN documents db ON idb = db.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""

  val oracles: Map[String, String] = Map(
    "d01_dedup_exact" -> """
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM documents GROUP BY md5(lower(text)) ORDER BY doc_id""",
    // mirrors the gated Spark path: the stop-shingle df cap
    // (Dedup.JaccardDfCap, interpolated so both sides can never
    // drift) drops high-df shingle hashes from candidate generation
    // only; union sizes stay uncapped
    "d02_dedup_jaccard" -> s"""
      WITH $tkCte, $shCte,
      hv AS (SELECT doc_id, list_distinct([${rh("s", 1000000007L)} for s in shs]) AS hv,
             len(shs) AS n_sh FROM sh),
      ex0 AS (SELECT doc_id, unnest(hv) AS h FROM hv),
      ex AS (SELECT doc_id, h FROM ex0
             QUALIFY count(*) OVER (PARTITION BY h) <= ${Dedup.JaccardDfCap}),
      common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
                 FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
      SELECT ida, idb, common, sa.n_sh + sb.n_sh - common AS union_sz
      FROM common JOIN hv sa ON ida = sa.doc_id JOIN hv sb ON idb = sb.doc_id
      WHERE common * 2 >= sa.n_sh + sb.n_sh - common
      ORDER BY ida, idb""",
    // same capped postings + pair counts as d02, but the 0.8 threshold
    // tests each DIRECTION against the contained doc's own size
    "d12_dedup_containment" -> s"""
      WITH $tkCte, $shCte,
      hv AS (SELECT doc_id, list_distinct([${rh("s", 1000000007L)} for s in shs]) AS hv,
             len(shs) AS n_sh FROM sh),
      ex0 AS (SELECT doc_id, unnest(hv) AS h FROM hv),
      ex AS (SELECT doc_id, h FROM ex0
             QUALIFY count(*) OVER (PARTITION BY h) <= ${Dedup.JaccardDfCap}),
      common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
                 FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
      sized AS (SELECT ida, idb, common, sa.n_sh AS n_a, sb.n_sh AS n_b
                FROM common JOIN hv sa ON ida = sa.doc_id
                            JOIN hv sb ON idb = sb.doc_id)
      SELECT ida AS contained_id, idb AS container_id, common,
        n_a AS n_contained
      FROM sized WHERE common * 5 >= n_a * 4
      UNION ALL
      SELECT idb, ida, common, n_b FROM sized WHERE common * 5 >= n_b * 4
      ORDER BY contained_id, container_id""",
    // fixed-width token blocks; boilerplate = block hash seen in >= 2
    // distinct docs; kept_md5 = md5 of the stripped text in block order
    "d13_block_dedup" -> s"""
      WITH $tkCte,
      bl AS (SELECT doc_id, [array_to_string(
               tk[(i*${Dedup.BlockToks})+1:(i*${Dedup.BlockToks})+${Dedup.BlockToks}], ' ')
             for i in generate_series(0, (len(tk)-1)//${Dedup.BlockToks})] AS bls FROM tk),
      eb AS (SELECT doc_id, unnest([{'bi': i, 'b': bls[i]}
             for i in generate_series(1, len(bls))]) AS u FROM bl),
      e2 AS (SELECT doc_id, u.bi AS bi, u.b AS b FROM eb),
      hb AS (SELECT doc_id, bi, b, ${rh("b", 1000000007L)} AS h FROM e2),
      dfq AS (SELECT h, count(DISTINCT doc_id) AS bdf FROM hb GROUP BY h)
      SELECT doc_id, count(*) AS n_blocks,
        CAST(sum(CASE WHEN bdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        md5(coalesce(array_to_string(
          list(b ORDER BY bi) FILTER (WHERE bdf < 2), ' '), '')) AS kept_md5
      FROM hb JOIN dfq USING (h)
      GROUP BY doc_id ORDER BY doc_id""",
    "d03_dedup_minhash_lsh" -> s"""
      WITH $minhashPairCtes
      SELECT ida, idb, n_match FROM pairs ORDER BY ida, idb""",
    // stride-1 16-token window hashes (two-level: per-token rolling
    // hash, then a base-31 fold over the 16 token hashes); a window
    // duplicated when seen in >= 2 distinct docs; overlapping matched
    // windows merge into maximal spans (gaps-and-islands, gap > 16)
    "d19_substring_spans" -> s"""
      WITH $d19SpanCtes
      SELECT doc_id, span_start, span_end, n_windows FROM sp
      ORDER BY doc_id, span_start""",
    // d19 applied: strip every token covered by a duplicated span,
    // md5 the kept text in order (d13's rewrite discipline)
    "d20_substring_rewrite" -> s"""
      WITH $d19SpanCtes,
      cov AS (SELECT doc_id, unnest(generate_series(span_start, span_end))
                AS pos FROM sp),
      tp AS (SELECT doc_id, u.i AS pos, u.t AS tok
             FROM (SELECT doc_id, unnest([{'i': i, 't': tk[i]}
                 for i in generate_series(1, len(tk))]) AS u FROM tk) z),
      kept AS (SELECT t.doc_id, t.pos, t.tok FROM tp t
               LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
               WHERE c.pos IS NULL),
      ka AS (SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ')
               AS kept_txt FROM kept GROUP BY doc_id),
      ca AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_toks,
        CAST(coalesce(ca.n_cov, 0) AS BIGINT) AS n_covered,
        md5(coalesce(ka.kept_txt, '')) AS kept_md5
      FROM tk d LEFT JOIN ca ON d.doc_id = ca.doc_id
      LEFT JOIN ka ON d.doc_id = ka.doc_id
      ORDER BY d.doc_id""",
    // top-20 hot 8-grams by (df desc, total desc, hash); min(gram)
    // resolves any hash collision identically to the Spark side
    "d14_hot_ngrams" -> s"""
      WITH $tkCte,
      ng AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= ${Dedup.HotNgramToks}
               THEN [array_to_string(tk[i:i+${Dedup.HotNgramToks - 1}], ' ')
                 for i in generate_series(1, len(tk) - ${Dedup.HotNgramToks - 1})]
               ELSE [] END) AS gram FROM tk),
      hg AS (SELECT doc_id, gram, ${rh("gram", 1000000007L)} AS h FROM ng),
      st AS (SELECT h, count(DISTINCT doc_id) AS df, count(*) AS total
             FROM hg GROUP BY h),
      top AS (SELECT h, df, total FROM st WHERE df >= ${Dedup.HotNgramMinDf}
              ORDER BY df DESC, total DESC, h LIMIT ${Dedup.HotNgramTopK})
      SELECT min(gram) AS gram, df, total
      FROM hg JOIN top USING (h) GROUP BY h, df, total
      ORDER BY df DESC, total DESC, gram""",
    // near-dup pairs straddling the t07 content-hash split: test-side
    // docs whose MinHash signature agrees >= 50% with a train-side doc
    "x15_split_leakage" -> s"""
      WITH $minhashBandCtes,
      sp AS (SELECT doc_id, CASE WHEN m < 80 THEN 'train'
               WHEN m < 90 THEN 'val' ELSE 'test' END AS split
             FROM (SELECT doc_id, ${rh("lower(text)", 1000000007L)} % 100 AS m
                   FROM documents) g),
      xcand AS (SELECT DISTINCT a.doc_id AS test_id, b.doc_id AS train_id
               FROM bands a JOIN sp pa ON a.doc_id = pa.doc_id
                 JOIN bands b ON a.band_idx = b.band_idx
                  AND a.band_key = b.band_key
                 JOIN sp pb ON b.doc_id = pb.doc_id
               WHERE pa.split = 'test' AND pb.split = 'train')
      SELECT test_id, train_id,
        CAST(list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
          for i in generate_series(1, 32)]) AS INTEGER) AS n_match
      FROM xcand JOIN sigs sa ON test_id = sa.doc_id
                 JOIN sigs sb ON train_id = sb.doc_id
      WHERE list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
          for i in generate_series(1, 32)]) * 2 >= 32
      ORDER BY test_id, train_id""",
    // exact 8-gram decontamination: distinct gram hashes per doc, the
    // t07 split rule verbatim, contaminated train docs = >= 1 hash in
    // the test-split gram universe; same floor'd integer ratio
    "x29_decontaminate" -> s"""
      WITH $decontamCtes
      SELECT gr.doc_id, d.source, CAST(len(gs) AS BIGINT) AS n_grams,
        CAST(n_hit AS BIGINT) AS n_hit,
        CAST((1000000 * n_hit) // len(gs) AS BIGINT) AS hit_ratio_e6
      FROM gr JOIN hits USING (doc_id) JOIN documents d USING (doc_id)
      ORDER BY doc_id""",
    // x29 rolled up by source: train census (docs with >= 1 gram),
    // contaminated count/rate, worst offender (max ratio, tie -> min
    // doc_id via the no-NULL rn=1 join)
    "x31_decontamination_card" -> s"""
      WITH $decontamCtes,
      pd AS (SELECT gr.doc_id, d.source,
               CAST(len(gs) AS BIGINT) AS n_grams,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               CAST((1000000 * coalesce(h.n_hit, 0)) // len(gs)
                 AS BIGINT) AS hr
             FROM gr JOIN sp USING (doc_id)
             JOIN documents d USING (doc_id)
             LEFT JOIN hits h ON h.doc_id = gr.doc_id
             WHERE sp.split = 'train'),
      agg AS (SELECT source, count(*) AS n_train_docs,
                CAST(sum(CASE WHEN n_hit >= 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated,
                CAST(max(hr) AS BIGINT) AS max_hit_ratio_e6
              FROM pd GROUP BY source),
      w AS (SELECT source, doc_id AS worst_doc FROM
              (SELECT source, doc_id, row_number() OVER
                 (PARTITION BY source ORDER BY hr DESC, doc_id) AS rn
               FROM pd) WHERE rn = 1)
      SELECT agg.source, n_train_docs, n_contaminated,
        CAST((1000000 * n_contaminated) // n_train_docs AS BIGINT)
          AS rate_e6,
        max_hit_ratio_e6, w.worst_doc
      FROM agg JOIN w USING (source)
      ORDER BY agg.source""",
    // incremental ingest: batch = doc_id % 5 = 0, index = the rest;
    // cross-side band candidates, same >= 50% signature agreement
    "d11_dedup_incremental" -> s"""
      WITH $minhashBandCtes,
      xcand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
               FROM bands a JOIN bands b ON a.band_idx = b.band_idx
                AND a.band_key = b.band_key
                AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
      SELECT new_id, index_id,
        CAST(list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
          for i in generate_series(1, 32)]) AS INTEGER) AS n_match
      FROM xcand JOIN sigs sa ON new_id = sa.doc_id
                 JOIN sigs sb ON index_id = sb.doc_id
      WHERE list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
          for i in generate_series(1, 32)]) * 2 >= 32
      ORDER BY new_id, index_id""",
    "d06_dup_clusters" -> s"""
      WITH RECURSIVE $ccCtes
      SELECT id AS doc_id, cluster_id,
        count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
      FROM lab ORDER BY doc_id""",
    // same cluster chain as d06; the representative is the member with
    // the most whitespace tokens, ties to the smallest doc_id
    "d07_keep_best" -> s"""
      WITH RECURSIVE $ccCtes,
      sz AS (SELECT id AS doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
             FROM lab),
      nt AS (SELECT doc_id, len(tk) AS n_toks FROM tk)
      SELECT cluster_id, doc_id AS rep_doc_id, cluster_sz,
        CAST(n_toks AS INTEGER) AS rep_n_toks
      FROM (SELECT sz.*, nt.n_toks, row_number() OVER
              (PARTITION BY cluster_id ORDER BY nt.n_toks DESC, sz.doc_id) AS rn
            FROM sz JOIN nt USING (doc_id)) z
      WHERE rn = 1 ORDER BY cluster_id""",
    "i01_inverted_index" -> s"""
      WITH $tkCte,
      tt AS (SELECT DISTINCT doc_id, term
             FROM (SELECT doc_id, unnest(tk) AS term FROM tk) u)
      SELECT term, count(*) AS df,
        array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS first_docs
      FROM tt GROUP BY term ORDER BY term""",
    // phrase = most frequent corpus bigram (count desc, words asc);
    // per-occurrence bigram rows ARE the positional adjacencies the
    // Spark postings join finds, so counting them is equivalent
    "i02_phrase_search" -> s"""
      WITH $bigramCtes,
      top AS (SELECT w1, w2 FROM pair ORDER BY c12 DESC, w1, w2 LIMIT 1)
      SELECT doc_id, w1, w2, count(*) AS n_occ
      FROM dp JOIN top USING (w1, w2)
      GROUP BY doc_id, w1, w2 ORDER BY doc_id""",
    // i02's top bigram at slop 3: ordered (w1 … w2) within <= 3
    // positions; position deltas are base-independent (DuckDB lists
    // are 1-based, Spark posexplode 0-based — gaps agree)
    "i04_proximity_search" -> s"""
      WITH $bigramCtes,
      top AS (SELECT w1, w2 FROM pair ORDER BY c12 DESC, w1, w2 LIMIT 1),
      pp AS (SELECT doc_id, unnest([{'p': i, 't': tk[i]}
               for i in generate_series(1, len(tk))]) AS u FROM tk),
      p2 AS (SELECT doc_id, u.p AS pos, u.t AS term FROM pp),
      pa AS (SELECT doc_id, pos FROM p2, top WHERE term = w1),
      pb AS (SELECT doc_id, pos FROM p2, top WHERE term = w2)
      SELECT a.doc_id, t.w1, t.w2, count(*) AS n_window,
        CAST(min(b.pos - a.pos) AS INTEGER) AS min_gap
      FROM pa a JOIN pb b ON a.doc_id = b.doc_id
        AND b.pos - a.pos BETWEEN 1 AND ${TextAnalysis.ProximitySlop},
        top t
      GROUP BY a.doc_id, t.w1, t.w2 ORDER BY a.doc_id""",
    // log-free exact-integer BM25 (k1=1.2, b=0.75 cleared of
    // denominators; RSJ ratio idf) — HUGEINT intermediates mirror the
    // Spark side's DECIMAL(38,0)
    "i03_bm25" -> s"""
      WITH $bm25Ctes
      SELECT doc_id, n_matched, score_e6,
        CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS INTEGER)
          AS rank
      FROM sc QUALIFY rank <= 100 ORDER BY rank""",
    // static index pruning: term-retained contribution postings, the
    // per-term top-P QUALIFY cut, both rankings from the same frame
    "i14_index_pruning" -> s"""
      WITH $bm25Ctes,
      ctm AS (SELECT term, doc_id, df,
          ((22::HUGEINT * tf * ll * 1000000)
            // (10::HUGEINT * tf * ll + 3::HUGEINT * ll
               + 9::HUGEINT * dl * nn)
           * ((2::HUGEINT * (nn - df) + 1) * 1000000 // (2 * df + 1)))
            // 1000000 AS contrib_e6
        FROM tf JOIN dfq USING (term), stats),
      prx AS (SELECT term, doc_id, contrib_e6 FROM ctm
              QUALIFY row_number() OVER (PARTITION BY term
                ORDER BY contrib_e6 DESC, doc_id)
                <= (df * ${TextAnalysis.PruneKeepPermille} + 999) // 1000),
      fsc AS (SELECT doc_id, sum(contrib_e6) AS score_e6
              FROM ctm GROUP BY 1),
      fk AS (SELECT doc_id, score_e6, CAST(row_number() OVER
               (ORDER BY score_e6 DESC, doc_id) AS INTEGER) AS rank
             FROM fsc QUALIFY rank <= 10),
      pscp AS (SELECT doc_id, sum(contrib_e6) AS score_e6
               FROM prx GROUP BY 1),
      pkk AS (SELECT doc_id, score_e6, CAST(row_number() OVER
                (ORDER BY score_e6 DESC, doc_id) AS INTEGER) AS rank
              FROM pscp QUALIFY rank <= 10)
      SELECT f.rank, f.doc_id AS doc_full,
        CAST(f.score_e6 AS BIGINT) AS score_full_e6,
        CAST(coalesce(p.doc_id, -1) AS BIGINT) AS doc_pruned,
        CAST(coalesce(p.score_e6, -1) AS BIGINT) AS score_pruned_e6,
        CAST(CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
          AS survived
      FROM fk f LEFT JOIN pkk p USING (rank)
      LEFT JOIN pkk s ON s.doc_id = f.doc_id
      ORDER BY f.rank""",
    // Rocchio PRF: sc is round 1 verbatim; candidates are the top-R
    // docs' non-query vocabulary weighted rtf·idf-ratio over CORPUS
    // df; round 2 reuses the identical integer BM25 with expt's df
    "i12_rocchio_feedback" -> s"""
      WITH $bm25Ctes,
      topr AS (SELECT doc_id FROM sc
               ORDER BY score_e6 DESC, doc_id
               LIMIT ${TextAnalysis.RocchioTopR}),
      rtf AS (SELECT term, count(*) AS rtf
              FROM (SELECT doc_id, unnest(tk) AS term FROM tk
                    WHERE doc_id IN (SELECT doc_id FROM topr)) z
              WHERE NOT list_contains($qTermsList, term)
              GROUP BY term),
      dfc AS (SELECT term, count(*) AS df
              FROM (SELECT doc_id, unnest(list_distinct(tk)) AS term
                    FROM tk) u
              JOIN rtf USING (term)
              GROUP BY term),
      expt AS (SELECT term, df FROM (
                SELECT r.term, d.df,
                  r.rtf * ((2::HUGEINT * (nn - d.df) + 1) * 1000000
                           // (2 * d.df + 1)) AS w
                FROM rtf r JOIN dfc d USING (term), stats)
               ORDER BY w DESC, term
               LIMIT ${TextAnalysis.RocchioExpTerms}),
      tf2 AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM (SELECT doc_id, len(tk)::BIGINT AS dl,
                      unnest(tk) AS term FROM tk) u
              JOIN expt USING (term)
              GROUP BY doc_id, dl, term),
      c2 AS (SELECT doc_id,
               ((22::HUGEINT * tf * ll * 1000000)
                 // (10::HUGEINT * tf * ll + 3::HUGEINT * ll
                    + 9::HUGEINT * dl * nn)
                * ((2::HUGEINT * (nn - df) + 1) * 1000000
                   // (2 * df + 1)))
                 // 1000000 AS contrib_e6
             FROM tf2 JOIN expt USING (term), stats),
      sc2 AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_exp,
                CAST(sum(contrib_e6) AS BIGINT) AS exp_e6
              FROM c2 GROUP BY doc_id),
      f AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
              coalesce(a.n_matched, 0) AS n_orig,
              coalesce(b.n_exp, 0) AS n_exp,
              coalesce(a.score_e6, 0) AS orig_e6,
              coalesce(b.exp_e6, 0) AS exp_e6
            FROM sc a FULL JOIN sc2 b ON a.doc_id = b.doc_id)
      SELECT CAST(row_number() OVER (ORDER BY
          orig_e6 + exp_e6 // ${TextAnalysis.RocchioBetaDen} DESC, doc_id)
          AS INTEGER) AS rank,
        doc_id, CAST(n_orig AS INTEGER) AS n_orig,
        CAST(n_exp AS INTEGER) AS n_exp,
        CAST(orig_e6 AS BIGINT) AS orig_e6,
        CAST(exp_e6 AS BIGINT) AS exp_e6,
        CAST(orig_e6 + exp_e6 // ${TextAnalysis.RocchioBetaDen} AS BIGINT)
          AS score_e6
      FROM f ORDER BY rank LIMIT 10""",
    // known-item eval: per probe term the highest-raw-tf doc's rank
    // under the single-term integer BM25 score, rank = 1 + count of
    // strictly-better (score, doc_id) rows — no window over postings
    "i13_retrieval_eval" -> s"""
      WITH $tkCte,
      base AS (SELECT doc_id, len(tk)::BIGINT AS dl,
                 list_filter(tk, x -> list_contains(
                   $evalTermsList, x)) AS qtk
               FROM tk),
      stats AS (SELECT count(*) AS nn, sum(dl) AS ll FROM base),
      tf AS (SELECT doc_id, dl, term, count(*) AS tf
             FROM (SELECT doc_id, dl, unnest(qtk) AS term FROM base
                   WHERE len(qtk) > 0) u
             GROUP BY doc_id, dl, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      psc AS (SELECT term, doc_id, tf,
          ((22::HUGEINT * tf * ll * 1000000)
            // (10::HUGEINT * tf * ll + 3::HUGEINT * ll
               + 9::HUGEINT * dl * nn)
           * ((2::HUGEINT * (nn - df) + 1) * 1000000 // (2 * df + 1)))
            // 1000000 AS score_e6
        FROM tf JOIN dfq USING (term), stats),
      truth AS (SELECT term, doc_id AS rel_doc, tf AS rel_tf
                FROM (SELECT term, doc_id, tf, row_number() OVER
                        (PARTITION BY term
                         ORDER BY tf DESC, doc_id) AS rn
                      FROM tf) r WHERE rn = 1),
      ts AS (SELECT t.term, t.rel_doc, t.rel_tf, p.score_e6 AS st
             FROM truth t JOIN psc p
               ON t.term = p.term AND t.rel_doc = p.doc_id),
      rk AS (SELECT ts.term, ts.rel_doc, ts.rel_tf,
               1 + sum(CASE WHEN p.score_e6 > ts.st
                   OR (p.score_e6 = ts.st AND p.doc_id < ts.rel_doc)
                 THEN 1 ELSE 0 END) AS rank
             FROM ts JOIN psc p ON ts.term = p.term
             GROUP BY 1, 2, 3)
      SELECT rk.term, df, rel_doc, rel_tf,
        CAST(rank AS INTEGER) AS rank,
        CAST(1000000 // rank AS BIGINT) AS rr_e6,
        CAST(CASE WHEN rank = 1 THEN 1 ELSE 0 END AS INTEGER) AS hit1,
        CAST(CASE WHEN rank <= 10 THEN 1 ELSE 0 END AS INTEGER) AS hit10
      FROM rk JOIN dfq USING (term) ORDER BY rk.term""",
    // the i03 shortlist under the two-per-source quota, survivors
    // re-ranked with the identical (score desc, doc_id) ordering
    "i09_diversified_search" -> s"""
      WITH $bm25Ctes,
      short AS (SELECT doc_id, n_matched, score_e6,
                  row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS r
                FROM sc QUALIFY r <= 100),
      j AS (SELECT s.doc_id, d.source, s.n_matched, s.score_e6,
              row_number() OVER (PARTITION BY d.source
                ORDER BY s.score_e6 DESC, s.doc_id) AS src_rank
            FROM short s JOIN documents d USING (doc_id)
            QUALIFY src_rank <= ${TextAnalysis.DiversifyPerSource})
      SELECT CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id)
          AS INTEGER) AS rank,
        doc_id, source, CAST(src_rank AS INTEGER) AS src_rank,
        n_matched, score_e6
      FROM j QUALIFY rank <= ${TextAnalysis.DiversifiedK}
      ORDER BY rank""",
    "d04_dedup_simhash" -> s"""
      WITH $tkCte,
      hs AS (SELECT doc_id, [${rh("t", 4294967296L)} for t in tk] AS hv FROM tk),
      fp AS (SELECT doc_id, CAST(list_sum([CASE WHEN
               list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END for h in hv]) > 0
               THEN (1::BIGINT << b) ELSE 0::BIGINT END
               for b in generate_series(0, 31)]) AS BIGINT) AS simhash FROM hs),
      bands AS (SELECT doc_id, simhash, b AS band_idx,
                (simhash >> (b*8)) & 255 AS band_key
                FROM fp, generate_series(0, 3) t(b)
                QUALIFY count(*) OVER (PARTITION BY b, (simhash >> (b*8)) & 255) <= 500)
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM bands a JOIN bands b ON a.band_idx = b.band_idx
       AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
      ORDER BY ida, idb""",
    "d05_embedding_neardup" -> s"""
      SELECT ida, idb, CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM (SELECT a.vec_id AS ida, b.vec_id AS idb,
              ${cos("a.embedding", "b.embedding")} AS cs
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
      WHERE cs >= 0.4 ORDER BY ida, idb""",
    // mirrors the gated Spark path: lsh_sig16 banding (4 bands × 4
    // bits) generates candidates, exact sequential-fold cosine
    // reranks — identical LCG hyperplane math on both sides
    "d08_neardup_bucketed" -> s"""
      WITH $embScoredCtes
      SELECT ida, idb, CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM escored WHERE cs >= 0.4 ORDER BY ida, idb""",
    // every candidate pair feeds both endpoints' neighbor lists; per
    // vector keep the top-3 by (cs desc, neighbor asc)
    "s09_knn_graph" -> s"""
      WITH $embScoredCtes,
      edges AS (SELECT ida AS vec_id, idb AS neighbor_id, cs FROM escored
                UNION ALL
                SELECT idb AS vec_id, ida AS neighbor_id, cs FROM escored)
      SELECT vec_id, neighbor_id,
        CAST(row_number() OVER
          (PARTITION BY vec_id ORDER BY cs DESC, neighbor_id) AS INTEGER)
          AS rank,
        CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM edges
      QUALIFY rank <= 3
      ORDER BY vec_id, rank""",
    // symmetrization of the s09 graph: keep (a,b) only when both
    // directions survive the per-vector top-3 rank window
    "s10_mutual_knn" -> s"""
      WITH $mutualKnnCtes
      SELECT ida, idb,
        CAST(rank_ab AS INTEGER) AS rank_ab,
        CAST(rank_ba AS INTEGER) AS rank_ba,
        CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM mpairs
      ORDER BY ida, idb""",
    // s11: connected components over the s10 mutual edges — the
    // "topic" grouping of SemDeDup-style curation (components of
    // reciprocated top-k edges, no absolute cosine bar)
    "s11_knn_components" -> s"""
      WITH RECURSIVE $mutualKnnCtes,${ccOverPairs("mpairs")}
      SELECT id AS vec_id, cluster_id,
        count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
      FROM lab ORDER BY vec_id""",
    // s12: one largest-norm representative per s11 topic (SemDeDup's
    // pruning half) — d10's window rule over the mutual-graph labels
    "s12_semantic_reps" -> s"""
      WITH RECURSIVE $mutualKnnCtes,${ccOverPairs("mpairs")}
      , sz AS (SELECT id AS vec_id, cluster_id,
                 count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
               FROM lab),
      nr AS (SELECT vec_id,
               CAST(floor(sqrt(${dot("embedding", "embedding")}) * 1000000)
                 AS BIGINT) AS norm_e6
             FROM embeddings)
      SELECT cluster_id, vec_id AS rep_vec_id, cluster_sz, norm_e6 AS rep_norm_e6
      FROM (SELECT sz.*, nr.norm_e6, row_number() OVER
              (PARTITION BY cluster_id ORDER BY nr.norm_e6 DESC, sz.vec_id) AS rn
            FROM sz JOIN nr USING (vec_id)) z
      WHERE rn = 1 ORDER BY cluster_id""",
    "d09_embedding_clusters" -> s"""
      WITH RECURSIVE $embScoredCtes,
      epairs AS (SELECT ida, idb FROM escored WHERE cs >= 0.4),${ccOverPairs("epairs")}
      SELECT id AS vec_id, cluster_id,
        count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
      FROM lab ORDER BY vec_id""",
    "d10_keep_best_embedding" -> s"""
      WITH RECURSIVE $embScoredCtes,
      epairs AS (SELECT ida, idb FROM escored WHERE cs >= 0.4),${ccOverPairs("epairs")}
      , sz AS (SELECT id AS vec_id, cluster_id,
                 count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
               FROM lab),
      nr AS (SELECT vec_id,
               CAST(floor(sqrt(${dot("embedding", "embedding")}) * 1000000)
                 AS BIGINT) AS norm_e6
             FROM embeddings)
      SELECT cluster_id, vec_id AS rep_vec_id, cluster_sz, norm_e6 AS rep_norm_e6
      FROM (SELECT sz.*, nr.norm_e6, row_number() OVER
              (PARTITION BY cluster_id ORDER BY nr.norm_e6 DESC, sz.vec_id) AS rn
            FROM sz JOIN nr USING (vec_id)) z
      WHERE rn = 1 ORDER BY cluster_id""",
    // s13: out/in/mutual degree per listed vector; hub = in_deg > 2k
    // (the hubness diagnostic that motivates the s10 mutual filter)
    "s13_knn_degrees" -> s"""
      WITH $mutualKnnCtes,
      outd AS (SELECT vec_id, count(*) AS out_deg FROM g GROUP BY 1),
      ind AS (SELECT neighbor_id AS vec_id, count(*) AS in_deg
              FROM g GROUP BY 1),
      md AS (SELECT vec_id, count(*) AS mutual_deg FROM
               (SELECT ida AS vec_id FROM mpairs
                UNION ALL SELECT idb FROM mpairs) u
             GROUP BY 1)
      SELECT o.vec_id, o.out_deg,
        COALESCE(i.in_deg, 0) AS in_deg,
        COALESCE(m.mutual_deg, 0) AS mutual_deg,
        CAST(CASE WHEN COALESCE(i.in_deg, 0) > 6 THEN 1 ELSE 0 END
          AS INTEGER) AS is_hub
      FROM outd o LEFT JOIN ind i USING (vec_id)
        LEFT JOIN md m USING (vec_id)
      ORDER BY o.vec_id""",
    // s15: per-s11-topic cohesion vs the DIRECTED kNN graph (the
    // mutual graph would be vacuously all-internal); escape_e6 =
    // floor(1e6·escape/(internal+escape)), unlabeled neighbor = escape
    "s15_cluster_quality" -> s"""
      WITH RECURSIVE $mutualKnnCtes,${ccOverPairs("mpairs")},
      cl AS (SELECT id AS vec_id, cluster_id FROM lab),
      sz AS (SELECT cluster_id, count(*) AS cluster_sz FROM cl GROUP BY 1),
      e AS (SELECT ca.cluster_id AS cluster_id, cb.cluster_id AS cb
            FROM g JOIN cl ca ON g.vec_id = ca.vec_id
              LEFT JOIN cl cb ON g.neighbor_id = cb.vec_id),
      per AS (SELECT cluster_id,
                CAST(sum(CASE WHEN cb = cluster_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS internal_edges,
                CAST(sum(CASE WHEN cb IS NULL OR cb <> cluster_id
                  THEN 1 ELSE 0 END) AS BIGINT) AS escape_edges
              FROM e GROUP BY 1)
      SELECT sz.cluster_id, sz.cluster_sz,
        COALESCE(per.internal_edges, 0) AS internal_edges,
        COALESCE(per.escape_edges, 0) AS escape_edges,
        CAST(CASE WHEN COALESCE(per.internal_edges, 0)
              + COALESCE(per.escape_edges, 0) = 0 THEN 0
          ELSE (1000000 * per.escape_edges)
            // (per.internal_edges + per.escape_edges) END AS BIGINT)
          AS escape_e6
      FROM sz LEFT JOIN per USING (cluster_id) ORDER BY sz.cluster_id""",
    "s01_ann_topk" -> s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < 10),
      scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                   ${cos("qv", "c.embedding")} AS cs
                 FROM embeddings c JOIN q ON query_id <> c.vec_id)
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank,
        CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM (SELECT query_id, neighbor_id, cs, row_number() OVER
              (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
            FROM scored) t
      WHERE rnk <= 10 ORDER BY query_id, rnk""",
    "s28_mmr_rerank" -> s28Oracle,
    "s02_ann_lsh" -> s"""
      WITH sigs AS (SELECT vec_id, embedding,
        CAST(list_sum([CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
          [(embedding[d]::DOUBLE) * (((1103515245::BIGINT * (j*64 + d) + 12345) % 2147483648)
            / 2147483648.0 - 0.5) for d in generate_series(1, 64)]),
          (x, y) -> x + y) > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END
          for j in generate_series(0, 15)]) AS BIGINT) AS sig
        FROM embeddings),
      bands AS (SELECT vec_id, embedding, b AS band_idx, (sig >> (b*4)) & 15 AS band_key
                FROM sigs, generate_series(0, 3) t(b)),
      q AS (SELECT vec_id AS query_id, embedding AS qv, band_idx, band_key
            FROM bands WHERE vec_id < 10),
      cand AS (SELECT DISTINCT query_id, qv, c.vec_id AS neighbor_id, c.embedding AS emb
               FROM bands c JOIN q USING (band_idx, band_key)
               WHERE query_id <> c.vec_id),
      scored AS (SELECT query_id, neighbor_id, ${cos("qv", "emb")} AS cs FROM cand)
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank
      FROM (SELECT query_id, neighbor_id, row_number() OVER
              (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
            FROM scored) t
      WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // IVF: centroid c(k,d) = LCG(k*64+d, addend 54321)/2^31 - 0.5 (16
    // cells); corpus keeps its argmax cell (crnk=1), queries probe 4.
    "s03_ann_ivf" -> s"""
      WITH cents AS (SELECT k, [((1103515245::BIGINT * (k*64 + d) + 54321) % 2147483648)
            / 2147483648.0 - 0.5 for d in generate_series(1, 64)] AS cv
          FROM generate_series(0, 15) t(k)),
      dots AS (SELECT e.vec_id, c.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(e.embedding[d]::DOUBLE) * (c.cv[d]::DOUBLE) for d in generate_series(1, 64)]),
            (x, y) -> x + y) AS dot
          FROM embeddings e, cents c),
      ranked AS (SELECT vec_id, k, row_number() OVER
          (PARTITION BY vec_id ORDER BY dot DESC, k) AS crnk FROM dots),
      corpus AS (SELECT r.vec_id, r.k AS bucket, e.embedding
          FROM ranked r JOIN embeddings e USING (vec_id) WHERE crnk = 1),
      probes AS (SELECT r.vec_id AS query_id, e.embedding AS qv, r.k AS bucket
          FROM ranked r JOIN embeddings e USING (vec_id)
          WHERE r.vec_id < 10 AND crnk <= 4),
      cand AS (SELECT query_id, qv, c.vec_id AS neighbor_id, c.embedding AS emb
          FROM corpus c JOIN probes USING (bucket) WHERE query_id <> c.vec_id),
      scored AS (SELECT query_id, neighbor_id, ${cos("qv", "emb")} AS cs FROM cand)
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank,
        CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM (SELECT query_id, neighbor_id, cs, row_number() OVER
            (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk FROM scored) t
      WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // same centroid/assignment math as s03 (crnk = 1); coordinate
    // sums in floor(x*1e6) longs; mean via double division + floor
    // (an integer `div` would floor in DuckDB but truncate in Spark
    // on negative sums)
    "s04_ivf_centroids" -> s"""
      WITH $ivfAssignCtes,
      ex AS (SELECT a.bucket, d - 1 AS dim,
               CAST(floor((e.embedding[d]::DOUBLE) * 1000000) AS BIGINT) AS v_e6
             FROM assigned a JOIN embeddings e USING (vec_id),
                  generate_series(1, 64) t(d))
      SELECT CAST(bucket AS INTEGER) AS bucket, CAST(dim AS INTEGER) AS dim,
        count(*) AS n_vectors, CAST(sum(v_e6) AS BIGINT) AS sum_e6,
        CAST(floor(sum(v_e6) / count(*)) AS BIGINT) AS mean_e6
      FROM ex GROUP BY bucket, dim ORDER BY bucket, dim""",
    // recall@5 vs exact: the s01 (k=5), s02, s03 chains re-run with
    // renamed CTEs, overlap counted per query; recall_e6 = hits·(1e6/RecallK)
    "s14_ann_recall" -> s"""
      WITH ex AS (SELECT vec_id AS query_id, embedding AS qv
                  FROM embeddings WHERE vec_id < 10),
      esc AS (SELECT query_id, c.vec_id AS neighbor_id,
                ${cos("qv", "c.embedding")} AS cs
              FROM embeddings c JOIN ex ON query_id <> c.vec_id),
      e5 AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
                   FROM esc) t WHERE rnk <= ${Similarity.RecallK}),
      lsg AS (SELECT vec_id, embedding,
        CAST(list_sum([CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
          [(embedding[d]::DOUBLE) * (((1103515245::BIGINT * (j*64 + d) + 12345) % 2147483648)
            / 2147483648.0 - 0.5) for d in generate_series(1, 64)]),
          (x, y) -> x + y) > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END
          for j in generate_series(0, 15)]) AS BIGINT) AS sig
        FROM embeddings),
      lbd AS (SELECT vec_id, embedding, b AS band_idx, (sig >> (b*4)) & 15 AS band_key
              FROM lsg, generate_series(0, 3) t(b)),
      lq AS (SELECT vec_id AS query_id, embedding AS qv, band_idx, band_key
             FROM lbd WHERE vec_id < 10),
      lcd AS (SELECT DISTINCT query_id, qv, c.vec_id AS neighbor_id, c.embedding AS emb
              FROM lbd c JOIN lq USING (band_idx, band_key)
              WHERE query_id <> c.vec_id),
      lsc AS (SELECT query_id, neighbor_id, ${cos("qv", "emb")} AS cs FROM lcd),
      l5 AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
                   FROM lsc) t WHERE rnk <= ${Similarity.RecallK}),
      icn AS (SELECT k, [((1103515245::BIGINT * (k*64 + d) + 54321) % 2147483648)
            / 2147483648.0 - 0.5 for d in generate_series(1, 64)] AS cv
          FROM generate_series(0, 15) t(k)),
      idt AS (SELECT e.vec_id, c.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(e.embedding[d]::DOUBLE) * (c.cv[d]::DOUBLE) for d in generate_series(1, 64)]),
            (x, y) -> x + y) AS dot
          FROM embeddings e, icn c),
      irk AS (SELECT vec_id, k, row_number() OVER
          (PARTITION BY vec_id ORDER BY dot DESC, k) AS crnk FROM idt),
      icp AS (SELECT r.vec_id, r.k AS bucket, e.embedding
          FROM irk r JOIN embeddings e USING (vec_id) WHERE crnk = 1),
      ipr AS (SELECT r.vec_id AS query_id, e.embedding AS qv, r.k AS bucket
          FROM irk r JOIN embeddings e USING (vec_id)
          WHERE r.vec_id < 10 AND crnk <= 4),
      icd AS (SELECT query_id, qv, c.vec_id AS neighbor_id, c.embedding AS emb
          FROM icp c JOIN ipr USING (bucket) WHERE query_id <> c.vec_id),
      isc AS (SELECT query_id, neighbor_id, ${cos("qv", "emb")} AS cs FROM icd),
      i5 AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
                   FROM isc) t WHERE rnk <= ${Similarity.RecallK}),
      lh AS (SELECT query_id, count(*) AS h FROM e5
             JOIN l5 USING (query_id, neighbor_id) GROUP BY 1),
      ih AS (SELECT query_id, count(*) AS h FROM e5
             JOIN i5 USING (query_id, neighbor_id) GROUP BY 1),
      ql AS (SELECT DISTINCT query_id FROM e5)
      SELECT ql.query_id,
        CAST(COALESCE(lh.h, 0) AS BIGINT) AS lsh_hits,
        CAST(COALESCE(ih.h, 0) AS BIGINT) AS ivf_hits,
        CAST(COALESCE(lh.h, 0) * ${1000000L / Similarity.RecallK} AS BIGINT) AS lsh_recall_e6,
        CAST(COALESCE(ih.h, 0) * ${1000000L / Similarity.RecallK} AS BIGINT) AS ivf_recall_e6
      FROM ql LEFT JOIN lh USING (query_id) LEFT JOIN ih USING (query_id)
      ORDER BY ql.query_id""",
    // per-subspace rollup of the s05 encoding's quantization error
    "s16_pq_error" -> s"""
      WITH $pqCodeCtes
      SELECT CAST(s AS INTEGER) AS sub, count(*) AS n_vectors,
        CAST(sum(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
          AS sum_err_e6,
        CAST(CAST(sum(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
          // count(*) AS BIGINT) AS mean_err_e6
      FROM pqcodes GROUP BY s ORDER BY sub""",
    "s05_pq_codes" -> s"""
      WITH $pqCodeCtes
      SELECT vec_id, CAST(s AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
        CAST(floor(dist * 1000000) AS BIGINT) AS err_e6
      FROM pqcodes ORDER BY vec_id, sub""",
    // residual chain: the s04 assignment + exact-integer cell means,
    // residual = one double subtraction rounded to REAL (Spark's
    // CAST(double AS FLOAT) — identical IEEE round), then the SAME
    // pq distance algebra over the residual arrays
    "s30_residual_pq" -> s"""
      WITH $ivfAssignCtes,
      exx AS (SELECT a.bucket, d AS dim,
               CAST(floor(e.embedding[d]::DOUBLE * 1000000) AS BIGINT)
                 AS v_e6
             FROM assigned a JOIN embeddings e USING (vec_id),
                  generate_series(1, 64) t(d)),
      mn AS (SELECT bucket, dim,
               CAST(floor(sum(v_e6) / count(*)) AS BIGINT) AS mean_e6
             FROM exx GROUP BY bucket, dim),
      marr AS (SELECT bucket, list(mean_e6 ORDER BY dim) AS c
               FROM mn GROUP BY bucket),
      res AS (SELECT e.vec_id, a.bucket,
               [CAST(e.embedding[d]::DOUBLE - m.c[d] / 1000000.0 AS REAL)
                 for d in generate_series(1, 64)] AS rv
             FROM embeddings e JOIN assigned a USING (vec_id)
             JOIN marr m USING (bucket)),
      $pqCodeCtes,
      raw AS (SELECT vec_id,
               CAST(sum(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
                 AS err_raw_e6
             FROM pqcodes GROUP BY vec_id),
      rpqd AS (SELECT r.vec_id, cb.s, cb.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(r.rv[cb.s*8 + d]::DOUBLE - cb.cv[d]) *
             (r.rv[cb.s*8 + d]::DOUBLE - cb.cv[d])
             for d in generate_series(1, 8)]),
            (x, y) -> x + y) AS dist
        FROM res r, cb),
      rcodes AS (SELECT vec_id, s, dist
        FROM (SELECT *, row_number() OVER
                (PARTITION BY vec_id, s ORDER BY dist, k) AS rn FROM rpqd) z
        WHERE rn = 1),
      rr AS (SELECT vec_id,
               CAST(sum(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
                 AS err_res_e6
             FROM rcodes GROUP BY vec_id)
      SELECT a.vec_id, CAST(a.bucket AS INTEGER) AS bucket,
        raw.err_raw_e6, rr.err_res_e6,
        CAST(CASE WHEN rr.err_res_e6 < raw.err_raw_e6 THEN 1 ELSE 0 END
          AS INTEGER) AS improved
      FROM assigned a JOIN raw USING (vec_id) JOIN rr USING (vec_id)
      ORDER BY a.vec_id""",
    // ADC: the query's subvector against the candidate's centroid;
    // per-subspace distances floored to e6 longs first, so the total
    // is an order-free integer sum in both engines
    "s06_pq_adc" -> s"""
      WITH $pqCodeCtes,
      q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 10),
      sd AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.s,
          CAST(floor(1000000 * list_reduce(list_prepend(0.0::DOUBLE,
            [(q.qv[c.s*8 + d]::DOUBLE - cb.cv[d]) *
             (q.qv[c.s*8 + d]::DOUBLE - cb.cv[d])
             for d in generate_series(1, 8)]),
            (x, y) -> x + y)) AS BIGINT) AS sd_e6
        FROM q JOIN pqcodes c ON q.query_id <> c.vec_id
        JOIN cb ON cb.s = c.s AND cb.k = c.code),
      adc AS (SELECT query_id, neighbor_id, CAST(sum(sd_e6) AS BIGINT) AS adc_e6
              FROM sd GROUP BY 1, 2)
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, adc_e6
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY adc_e6, neighbor_id) AS rnk
            FROM adc) z
      WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // same centroid/routing math as s03 (addend 54321, crnk) + the
    // same per-subspace e6-floored ADC sums as s06, composed: only
    // candidates in a probed coarse cell are scored
    "s07_ivf_pq" -> s"""
      WITH $pqCodeCtes,
      cents AS (SELECT k, [((1103515245::BIGINT * (k*64 + d) + 54321) % 2147483648)
            / 2147483648.0 - 0.5 for d in generate_series(1, 64)] AS cv
          FROM generate_series(0, 15) t(k)),
      dots AS (SELECT e.vec_id, c.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(e.embedding[d]::DOUBLE) * (c.cv[d]::DOUBLE) for d in generate_series(1, 64)]),
            (x, y) -> x + y) AS dot
          FROM embeddings e, cents c),
      ranked AS (SELECT vec_id, k, row_number() OVER
          (PARTITION BY vec_id ORDER BY dot DESC, k) AS crnk FROM dots),
      corpus AS (SELECT vec_id, k AS bucket FROM ranked WHERE crnk = 1),
      probes AS (SELECT r.vec_id AS query_id, e.embedding AS qv, r.k AS bucket
          FROM ranked r JOIN embeddings e USING (vec_id)
          WHERE r.vec_id < 10 AND crnk <= 4),
      cand AS (SELECT p.query_id, p.qv, c.vec_id AS neighbor_id
          FROM corpus c JOIN probes p USING (bucket)
          WHERE p.query_id <> c.vec_id),
      sd AS (SELECT cand.query_id, cand.neighbor_id, pc.s,
          CAST(floor(1000000 * list_reduce(list_prepend(0.0::DOUBLE,
            [(cand.qv[pc.s*8 + d]::DOUBLE - cb.cv[d]) *
             (cand.qv[pc.s*8 + d]::DOUBLE - cb.cv[d])
             for d in generate_series(1, 8)]),
            (x, y) -> x + y)) AS BIGINT) AS sd_e6
        FROM cand JOIN pqcodes pc ON pc.vec_id = cand.neighbor_id
        JOIN cb ON cb.s = pc.s AND cb.k = pc.code),
      adc AS (SELECT query_id, neighbor_id, CAST(sum(sd_e6) AS BIGINT) AS adc_e6
              FROM sd GROUP BY 1, 2)
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, adc_e6
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY adc_e6, neighbor_id) AS rnk
            FROM adc) z
      WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // s07's routed+ADC pipeline re-run per nprobe operating point
    // (bucket assignment and PQ codes shared across the sweep), each
    // point's top-5 overlapped with the s01 exact top-5
    "s18_ivf_pq_recall" -> s"""
      WITH $pqCodeCtes,
      ex AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 10),
      esc AS (SELECT query_id, c.vec_id AS neighbor_id,
                ${cos("qv", "c.embedding")} AS cs
              FROM embeddings c JOIN ex ON query_id <> c.vec_id),
      e5 AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
                     AS rnk
                   FROM esc) t WHERE rnk <= ${Similarity.RecallK}),
      cents AS (SELECT k,
          [((1103515245::BIGINT * (k*64 + d) + 54321) % 2147483648)
            / 2147483648.0 - 0.5 for d in generate_series(1, 64)] AS cv
          FROM generate_series(0, 15) t(k)),
      dots AS (SELECT e.vec_id, c.k,
          list_reduce(list_prepend(0.0::DOUBLE,
            [(e.embedding[d]::DOUBLE) * (c.cv[d]::DOUBLE)
             for d in generate_series(1, 64)]),
            (x, y) -> x + y) AS dot
          FROM embeddings e, cents c),
      ranked AS (SELECT vec_id, k, row_number() OVER
          (PARTITION BY vec_id ORDER BY dot DESC, k) AS crnk FROM dots),
      corpus AS (SELECT vec_id, k AS bucket FROM ranked WHERE crnk = 1),
      np AS (SELECT unnest(${Similarity.RecallSweepNprobes
      .mkString("[", ", ", "]")}) AS nprobe),
      probes AS (SELECT np.nprobe, r.vec_id AS query_id,
            e.embedding AS qv, r.k AS bucket
          FROM ranked r JOIN embeddings e USING (vec_id), np
          WHERE r.vec_id < 10 AND r.crnk <= np.nprobe),
      cand AS (SELECT p.nprobe, p.query_id, p.qv, c.vec_id AS neighbor_id
          FROM corpus c JOIN probes p USING (bucket)
          WHERE p.query_id <> c.vec_id),
      sd AS (SELECT cand.nprobe, cand.query_id, cand.neighbor_id, pc.s,
          CAST(floor(1000000 * list_reduce(list_prepend(0.0::DOUBLE,
            [(cand.qv[pc.s*8 + d]::DOUBLE - cb.cv[d]) *
             (cand.qv[pc.s*8 + d]::DOUBLE - cb.cv[d])
             for d in generate_series(1, 8)]),
            (x, y) -> x + y)) AS BIGINT) AS sd_e6
        FROM cand JOIN pqcodes pc ON pc.vec_id = cand.neighbor_id
        JOIN cb ON cb.s = pc.s AND cb.k = pc.code),
      adc AS (SELECT nprobe, query_id, neighbor_id,
                CAST(sum(sd_e6) AS BIGINT) AS adc_e6
              FROM sd GROUP BY 1, 2, 3),
      a5 AS (SELECT nprobe, query_id, neighbor_id
             FROM (SELECT *, row_number() OVER
                     (PARTITION BY nprobe, query_id
                      ORDER BY adc_e6, neighbor_id) AS rnk
                   FROM adc) z WHERE rnk <= ${Similarity.RecallK}),
      hits AS (SELECT a.nprobe, a.query_id, count(*) AS n_hit
               FROM a5 a JOIN e5 USING (query_id, neighbor_id)
               GROUP BY 1, 2)
      SELECT n.nprobe, q.query_id,
        CAST(coalesce(h.n_hit, 0) AS BIGINT) AS hits,
        CAST(coalesce(h.n_hit, 0) * ${1000000L / Similarity.RecallK} AS BIGINT) AS recall_e6
      FROM np n CROSS JOIN (SELECT DISTINCT query_id FROM ex) q
      LEFT JOIN hits h ON h.nprobe = n.nprobe AND h.query_id = q.query_id
      ORDER BY n.nprobe, q.query_id""",
    // keyword shortlist + vector shortlist (both top-100), RRF-fused;
    // rank 0 = absent from that side's shortlist
    "s08_hybrid_rrf" -> s"""
      WITH $tkCte,
      txt AS (SELECT doc_id,
          len(list_distinct([x for x in tk
            if list_contains($qTermsList, x)])) AS n_matched,
          len([x for x in tk
            if list_contains($qTermsList, x)]) AS tf_q
        FROM tk),
      tt AS (SELECT * FROM txt
             ORDER BY n_matched DESC, tf_q DESC, doc_id LIMIT 100),
      rt AS (SELECT doc_id, row_number() OVER
              (ORDER BY n_matched DESC, tf_q DESC, doc_id) AS rank_text FROM tt),
      vs AS (SELECT e.vec_id, ${cos("e.embedding", "q.embedding")} AS cs
             FROM embeddings e,
                  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
             WHERE e.vec_id <> 0),
      tv AS (SELECT * FROM vs ORDER BY cs DESC, vec_id LIMIT 100),
      rv AS (SELECT vec_id, row_number() OVER
              (ORDER BY cs DESC, vec_id) AS rank_vec FROM tv),
      f AS (SELECT coalesce(rt.doc_id, rv.vec_id) AS doc_id,
              coalesce(rank_text, 0) AS rank_text,
              coalesce(rank_vec, 0) AS rank_vec
            FROM rt FULL OUTER JOIN rv ON rt.doc_id = rv.vec_id)
      SELECT doc_id, CAST(rank_text AS INTEGER) AS rank_text,
        CAST(rank_vec AS INTEGER) AS rank_vec,
        CAST((CASE WHEN rank_text > 0
                THEN 1000000 // (60 + rank_text) ELSE 0 END) +
             (CASE WHEN rank_vec > 0
                THEN 1000000 // (60 + rank_vec) ELSE 0 END) AS BIGINT) AS rrf_e6
      FROM f ORDER BY rrf_e6 DESC, doc_id LIMIT 20""",
    "t01_langid" -> raw"""
      WITH f AS (SELECT doc_id, lang AS lang_label, lower(text) AS t FROM documents),
      g AS (SELECT doc_id, lang_label, length(t) AS n_chars_seen,
        length(t) - length(regexp_replace(t, '[aeiou]', '', 'g')) AS n_vowels,
        length(t) - length(regexp_replace(t, '[kwz]', '', 'g')) AS n_kwz,
        len(string_split_regex(t, '\s+')) AS n_toks FROM f),
      h AS (SELECT doc_id, lang_label,
        CAST(floor(1000000 * (n_vowels / n_chars_seen)) AS BIGINT) AS vowel_ratio_e6,
        CAST(floor(1000000 * (n_kwz / n_chars_seen)) AS BIGINT) AS kwz_ratio_e6,
        CAST(floor(1000000 * (n_chars_seen / n_toks)) AS BIGINT) AS avg_tok_chars_e6
        FROM g)
      SELECT *, CASE WHEN vowel_ratio_e6 >= 310000 THEN 'en'
                     WHEN kwz_ratio_e6 >= 60000 THEN 'de'
                     WHEN avg_tok_chars_e6 >= 5800000 THEN 'fr'
                     ELSE 'other' END AS lang_pred
      FROM h ORDER BY doc_id""",
    "t02_quality" -> t02Oracle,
    "t03_token_stats" -> raw"""
      WITH f AS (SELECT doc_id, lower(text) AS t FROM documents)
      SELECT doc_id,
        CAST(len(string_split_regex(t, '\s+')) AS INTEGER) AS ws_tokens,
        CAST(len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens,
        CAST(len(list_distinct(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS INTEGER) AS bpe_types
      FROM f ORDER BY doc_id""",
    "t04_fingerprints" -> s"""
      WITH $tkCte,
      b AS (SELECT d.doc_id, lower(d.text) AS t, tk.tk
            FROM documents d JOIN tk ON d.doc_id = tk.doc_id),
      s AS (SELECT doc_id, t, CASE WHEN len(tk) >= 5 THEN list_distinct(
              [array_to_string(tk[i:i+4], ' ') for i in generate_series(1, len(tk)-4)])
            ELSE [] END AS shs FROM b)
      SELECT doc_id, ${rh("t", 1000000007L)} AS text_fp,
        CASE WHEN len(shs) >= 1 THEN
          list_min([${rh("s", 1000000007L)} for s in shs])
        ELSE -1::BIGINT END AS min_shingle_fp
      FROM s ORDER BY doc_id""",
    "t05_kmv_distinct" -> s"""
      WITH $tkCte, $shCte,
      ex AS (SELECT DISTINCT ${rh("s", 1000000007L)} AS h
             FROM (SELECT unnest(shs) AS s FROM sh) u),
      topk AS (SELECT max(h) AS kth_hash, count(*) AS k_actual
               FROM (SELECT h FROM ex ORDER BY h LIMIT 256) t),
      exact AS (SELECT count(*) AS exact_distinct FROM ex)
      SELECT 256 AS k, k_actual, kth_hash,
        CASE WHEN k_actual < 256 THEN k_actual
             ELSE (255::BIGINT * 1000000007) // kth_hash END AS est_distinct,
        exact_distinct
      FROM topk, exact""",
    "t06_repetition" -> t06Oracle,
    "t35_classifier_score" -> t35Oracle,
    "t36_classifier_train" -> t36Oracle,
    "t37_classifier_eval" -> t37Oracle,
    "t07_hash_split" -> s"""
      WITH f AS (SELECT doc_id, lower(text) AS t FROM documents),
      g AS (SELECT doc_id, ${rh("t", 1000000007L)} % 100 AS h_mod FROM f)
      SELECT doc_id, h_mod,
        CASE WHEN h_mod < 80 THEN 'train'
             WHEN h_mod < 90 THEN 'val' ELSE 'test' END AS split
      FROM g ORDER BY doc_id""",
    // per-source Heaps-law profile over the (source, term) aggregate
    "t25_vocab_growth" -> s"""
      WITH $tkCte,
      tt AS (SELECT d.source, unnest(tk.tk) AS term
             FROM tk JOIN documents d USING (doc_id)),
      ct AS (SELECT source, term, count(*) AS c FROM tt GROUP BY 1, 2)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_toks,
        count(*) AS n_types,
        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        CAST((1000000 * count(*)) // CAST(sum(c) AS BIGINT) AS BIGINT)
          AS ttr_e6,
        CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
          // count(*) AS BIGINT) AS hapax_share_e6
      FROM ct GROUP BY source ORDER BY source""",
    // top-1024 vocabulary (count desc, term asc — deterministic cut),
    // then per-doc OOV token rate against it
    "t24_vocab_coverage" -> s"""
      WITH $tkCte,
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      vc AS (SELECT term, count(*) AS cnt FROM tt GROUP BY term),
      vocab AS (SELECT term FROM vc ORDER BY cnt DESC, term
                LIMIT ${TextAnalysis.VocabSize}),
      j AS (SELECT tt.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
            FROM tt LEFT JOIN vocab v USING (term))
      SELECT doc_id, count(*) AS n_toks,
        CAST(sum(oov) AS BIGINT) AS n_oov,
        CAST((1000000 * CAST(sum(oov) AS BIGINT)) // count(*) AS BIGINT)
          AS oov_e6
      FROM j GROUP BY doc_id ORDER BY doc_id""",
    // exact-integer Simpson diversity over the character distribution;
    // per-char occurrence counts via length-difference, one integer
    // division at the end (no transcendental entropy — a last-ulp ln
    // disagreement between engines could flip an e6 floor)
    "t23_char_diversity" -> """
      WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
      cs AS (SELECT doc_id, t, length(t) AS n,
               [c for c in list_distinct(string_split(t, '')) if c <> ''] AS chars
             FROM d),
      st AS (SELECT doc_id, n, len(chars) AS n_distinct,
               list_sum([CAST(length(t) - length(replace(t, c, '')) AS BIGINT) *
                 (length(t) - length(replace(t, c, ''))) for c in chars]) AS sumsq,
               list_max([length(t) - length(replace(t, c, '')) for c in chars]) AS maxc
             FROM cs)
      SELECT doc_id, CAST(n AS INTEGER) AS n_chars,
        CAST(n_distinct AS INTEGER) AS n_distinct,
        CAST(CASE WHEN n = 0 THEN 0
          ELSE (1000000 * maxc) // n END AS BIGINT) AS top_share_e6,
        CAST(CASE WHEN n = 0 THEN 0
          ELSE 1000000 - (1000000 * sumsq) // (n * n) END AS BIGINT) AS diversity_e6
      FROM st ORDER BY doc_id""",
    // exact-integer Flesch: every division floored, both engines count
    // the same regex censuses (runs collapsed to one sentinel char)
    "t28_readability" -> """
      WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
      c AS (SELECT doc_id,
          CAST(len(string_split_regex(t, '\s+')) AS BIGINT) AS n_words,
          greatest(CAST(length(regexp_replace(t, '[.!?]+', '~', 'g')) -
            length(regexp_replace(t, '[.!?]+', '', 'g')) AS BIGINT), 1)
            AS n_sentences,
          CAST(length(regexp_replace(t, '[aeiouy]+', '~', 'g')) -
            length(regexp_replace(t, '[aeiouy]+', '', 'g')) AS BIGINT)
            AS n_syllables
        FROM d),
      r AS (SELECT doc_id, n_words, n_sentences, n_syllables,
          (n_words * 1000000) // n_sentences AS wps_e6,
          (n_syllables * 1000000) // n_words AS spw_e6
        FROM c)
      SELECT doc_id, n_words, n_sentences, n_syllables, wps_e6, spw_e6,
        206835 - (1015 * wps_e6) // 1000000 -
          (84600 * spw_e6) // 1000000 AS fre_e3,
        CASE WHEN 206835 - (1015 * wps_e6) // 1000000 -
               (84600 * spw_e6) // 1000000 >= 70000 THEN 'easy'
             WHEN 206835 - (1015 * wps_e6) // 1000000 -
               (84600 * spw_e6) // 1000000 >= 50000 THEN 'standard'
             WHEN 206835 - (1015 * wps_e6) // 1000000 -
               (84600 * spw_e6) // 1000000 >= 30000 THEN 'difficult'
             ELSE 'very_difficult' END AS band
      FROM r ORDER BY doc_id""",
    // rank octave = len(bin(rank)) - 1: exact integer log2, no libm
    "t29_zipf_octaves" -> s"""
      WITH $tkCte,
      tf AS (SELECT term, count(*) AS freq
             FROM (SELECT unnest(tk) AS term FROM tk) u
             WHERE length(term) > 0 GROUP BY term),
      r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term)
              AS rank FROM tf)
      SELECT CAST(length(bin(rank)) - 1 AS INTEGER) AS octave,
        count(*) AS n_terms, CAST(sum(freq) AS BIGINT) AS sum_freq,
        max(freq) AS max_freq, min(freq) AS min_freq
      FROM r GROUP BY 1 ORDER BY 1""",
    "t08_normalize" -> s"""
      WITH $tkCte,
      n AS (SELECT doc_id, tk, list_filter(tk, x -> length(x) > 1) AS tkn FROM tk)
      SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_toks_raw,
        CAST(len(tkn) AS INTEGER) AS n_toks_norm,
        md5(array_to_string(tkn, ' ')) AS norm_md5
      FROM n ORDER BY doc_id""",
    "t09_badwords" -> s"""
      WITH $tkCte,
      g AS (SELECT doc_id, len(tk) AS n_toks,
              len(list_filter(tk, x -> list_contains(['slow','big','bad'], x))) AS n_banned
            FROM tk),
      h AS (SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks,
              CAST(n_banned AS INTEGER) AS n_banned,
              CAST(floor(1000000 * (n_banned / n_toks)) AS BIGINT) AS banned_ratio_e6
            FROM g)
      SELECT *, CAST(CASE WHEN banned_ratio_e6 < 80000 THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM h ORDER BY doc_id""",
    "t10_domain_stats" -> s"""
      WITH $tkCte,
      a AS (SELECT d.source, count(*) AS n_docs, sum(len(tk.tk)) AS toks_total
            FROM documents d JOIN tk ON d.doc_id = tk.doc_id
            GROUP BY d.source)
      SELECT source, n_docs, CAST(toks_total AS BIGINT) AS toks_total,
        CAST(floor(1000000 * (n_docs / sum(n_docs) OVER ())) AS BIGINT) AS share_e6,
        CAST(floor(1000000 * (toks_total / n_docs)) AS BIGINT) AS avg_toks_e6
      FROM a ORDER BY source""",
    "t11_contamination" -> s"""
      WITH $tkCte, $shCte,
      hv AS (SELECT doc_id, [${rh("s", 1000000007L)} for s in shs] AS hv FROM sh),
      sp AS (SELECT doc_id, ${rh("lower(text)", 1000000007L)} % 100 AS h_mod
             FROM documents),
      ex AS (SELECT hv.doc_id, sp.h_mod, unnest(hv.hv) AS h
             FROM hv JOIN sp ON hv.doc_id = sp.doc_id),
      test AS (SELECT DISTINCT h FROM ex WHERE h_mod >= 90)
      SELECT e.doc_id, count(DISTINCT e.h) AS n_shared_shingles
      FROM ex e JOIN test USING (h)
      WHERE e.h_mod < 80
      GROUP BY e.doc_id ORDER BY e.doc_id""",
    "t12_top_terms" -> s"""
      WITH $tkCte,
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM (SELECT doc_id, unnest(tk) AS term FROM tk) u
             GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
               (tf.tf * 1000000) // df.df AS score
             FROM tf JOIN df USING (term))
      SELECT doc_id, term, tf, df, score FROM sc
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) = 1
      ORDER BY doc_id""",
    "t13_stratified_sample" -> s"""
      WITH g AS (SELECT doc_id, lang,
              ${rh("lower(text)", 998244353L)} % 1000 AS h,
              CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 300
                WHEN 'es' THEN 500 WHEN 'fr' THEN 700
                WHEN 'zh' THEN 900 ELSE 50 END AS rate
            FROM documents)
      SELECT lang, CAST(max(rate) AS INTEGER) AS rate_permille,
        count(*) AS n_total,
        CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      FROM g GROUP BY lang ORDER BY lang""",
    "t14_hist_quantiles" -> """
      WITH li AS (SELECT l_returnflag,
              CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) // 10000 AS bucket
            FROM lineitem),
      b AS (SELECT l_returnflag, bucket, count(*) AS cnt FROM li GROUP BY 1, 2),
      c AS (SELECT *, sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY l_returnflag) AS n FROM b)
      SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        CAST(min(CASE WHEN cum >= ceil(n * 0.5::DOUBLE) THEN bucket * 10000 END) AS BIGINT) AS p50_lo_cents,
        CAST(min(CASE WHEN cum >= ceil(n * 0.9::DOUBLE) THEN bucket * 10000 END) AS BIGINT) AS p90_lo_cents,
        CAST(min(CASE WHEN cum >= ceil(n * 0.99::DOUBLE) THEN bucket * 10000 END) AS BIGINT) AS p99_lo_cents
      FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",
    "t15_countmin" -> s"""
      WITH $tkCte,
      th AS (SELECT term, ${rh("term", 1000000007L)} AS h
             FROM (SELECT unnest(tk) AS term FROM tk) u),
      exact AS (SELECT term, h, count(*) AS exact_n FROM th GROUP BY 1, 2),
      top AS (SELECT * FROM (SELECT *, row_number() OVER
                (ORDER BY exact_n DESC, term) AS rnk FROM exact) z
              WHERE rnk <= 10),
      cells AS (SELECT ((2*j + 1)*h + 7919*(j + 1)) % 1000000007 % 1024
                  + j*1024 AS cell, count(*) AS cnt
                FROM th, generate_series(0, 3) t(j) GROUP BY 1),
      probes AS (SELECT term, exact_n, rnk,
                  ((2*j + 1)*h + 7919*(j + 1)) % 1000000007 % 1024
                    + j*1024 AS cell
                 FROM top, generate_series(0, 3) t(j))
      SELECT CAST(rnk AS INTEGER) AS rnk, term, exact_n,
        CAST(min(cnt) AS BIGINT) AS cm_est
      FROM probes JOIN cells USING (cell)
      GROUP BY rnk, term, exact_n ORDER BY rnk""",
    // exact bigram counts; P(w2|w1) via integer division (no floats)
    "t17_bigram_lm" -> s"""
      WITH $bigramCtes
      SELECT w1, w2, c12, c1, p_e6 FROM model ORDER BY w1, w2""",
    // doc fluency = integer mean of the corpus continuation
    // probabilities over the doc's bigrams (the perplexity-filter
    // shape with exact integer scoring)
    "t18_lm_score" -> s"""
      WITH $bigramCtes
      SELECT doc_id, count(*) AS n_bigrams,
        CAST(sum(p_e6) // count(*) AS BIGINT) AS mean_p_e6
      FROM dp JOIN model USING (w1, w2)
      GROUP BY doc_id ORDER BY doc_id""",
    // corpus-unique shingle share per doc; denominator is the doc's
    // distinct-hash count (within-doc collisions merge identically in
    // both engines via list_distinct / .distinct)
    "t19_novelty" -> t19Oracle,
    // identifier-run redaction + deterministic pseudonym; same
    // char-class regex both engines (Curation.IdRunRegex), 'g' flag
    // mirrors Spark regexp_replace's replace-all default
    "t20_pii_scrub" -> s"""
      SELECT src, entity_id,
        CAST(len(regexp_extract_all(nm, '${Curation.IdRunRegex}'))
          AS INTEGER) AS n_id_runs,
        regexp_replace(nm, '${Curation.IdRunRegex}', '<ID>', 'g') AS redacted,
        md5(nm) AS pseudonym
      FROM (SELECT 'customer' AS src, c_custkey AS entity_id, c_name AS nm
              FROM customer
            UNION ALL
            SELECT 'supplier', s_suppkey, s_name FROM supplier)
      ORDER BY src, entity_id""",
    // exact-integer lift (exp of PMI) over the t17 bigram aggregate;
    // positional marginals and total from the aggregate, support ≥ 5
    "t22_collocations" -> s"""
      WITH $bigramCtes,
      fst AS (SELECT w1, sum(c12) AS c1x FROM pair GROUP BY 1),
      snd AS (SELECT w2, sum(c12) AS cx2 FROM pair GROUP BY 1),
      tot AS (SELECT sum(c12) AS tt FROM pair)
      SELECT w1, w2, c12,
        CAST((c12::HUGEINT * tt * 1000000) // (c1x::HUGEINT * cx2)
          AS BIGINT) AS lift_e6
      FROM pair JOIN fst USING (w1) JOIN snd USING (w2), tot
      WHERE c12 >= 5
      ORDER BY w1, w2""",
    // fixed-width balance buckets (not rank deciles) so class sizes
    // are shard-reproducible; k = 5 mirrors Curation.kAnonymity
    "t21_k_anonymity" -> """
      SELECT c_nationkey, c_mktsegment,
        CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        count(*) AS class_sz,
        CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS INTEGER)
          AS k_anonymous
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, bal_bucket
      ORDER BY c_nationkey, c_mktsegment, bal_bucket""",
    // ANALYZE-style column stats; same integer-coded projections as
    // the Spark melt (prices in cents so the long encoding is lossless)
    "t16_profile" -> """
      WITH m AS (
        SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM lineitem
        UNION ALL
        SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', l_suppkey FROM lineitem
        UNION ALL
        SELECT 'l_linenumber', CAST(l_linenumber AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'l_quantity_int', CAST(floor(l_quantity + 0.5) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'l_price_cents', CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) FROM lineitem)
      SELECT col_name, count(*) AS n, count(v) AS n_nonnull,
        count(DISTINCT v) AS ndv, min(v) AS min_v, max(v) AS max_v
      FROM m GROUP BY col_name ORDER BY col_name""",
    // byte semantics: strlen = UTF-8 bytes (= Spark octet_length); the
    // empty-payload guards (greatest/coalesce) mirror FakeCodec's
    // max(len,1) divisor and 255/0 min/max initial values; the
    // per-byte sums walk code points via ascii(), which equals bytes
    // only for the pure-ASCII driver corpus (documented assumption,
    // mirrored in Multimodal.mediaTable).
    // aHash: bit b set when block b's mean beats the payload mean,
    // cleared of denominators (blockSum·n > total·blockLen); blocks
    // are floor-boundary slices, DuckDB's 1-based codes[lo+1:hi] ==
    // the Spark loop's 0-based [lo,hi); bit 63 is two's-complement
    // MIN (DuckDB checks 1<<63, Java wraps). Same ASCII byte≡code-
    // point assumption as m01.
    "m03_ahash" -> s"""
      WITH $ahashCtes
      SELECT doc_id, ahash FROM ah ORDER BY doc_id""",
    // m03 signatures → 8×8-bit LSH bands (arithmetic >> then & 255
    // reads the same byte in both engines, sign bits masked off) with
    // d04's dense-band skip cap, equi-join candidates, exact hamming
    // rerank via bit_count(xor) ≤ 6 — Multimodal.ahashPairsOf
    // step-for-step
    "m04_ahash_neardup" -> s"""
      WITH $ahashPairCtes
      SELECT ida, idb, hamming FROM apairs ORDER BY ida, idb""",
    // the multimodal pairs -> clusters stage: d06's recursive CC over
    // m04's confirmed perceptual pairs
    "m07_ahash_clusters" -> s"""
      WITH RECURSIVE $ahashPairCtes,
      ${ccOverPairs("apairs")}
      SELECT id AS doc_id, cluster_id,
        count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
      FROM lab ORDER BY doc_id""",
    // keep-best per perceptual cluster: largest payload (byte length
    // under the documented ASCII-corpus byte==char assumption), ties
    // to the smallest doc_id — d07's rule with media metadata
    "m08_keep_best_media" -> s"""
      WITH RECURSIVE $ahashPairCtes,
      ${ccOverPairs("apairs")},
      sz AS (SELECT cluster_id, count(*) AS cluster_sz
             FROM lab GROUP BY 1),
      bl AS (SELECT doc_id, strlen(text)::BIGINT AS byte_len
             FROM documents),
      r AS (SELECT lab.id AS doc_id, cluster_id, byte_len,
              row_number() OVER (PARTITION BY cluster_id
                ORDER BY byte_len DESC, lab.id) AS rn
            FROM lab JOIN bl ON bl.doc_id = lab.id)
      SELECT r.cluster_id, r.doc_id AS rep_doc_id, sz.cluster_sz,
        r.byte_len AS rep_byte_len
      FROM r JOIN sz USING (cluster_id) WHERE rn = 1
      ORDER BY r.cluster_id""",
    // audio stand-in: payload bytes → centered PCM8 (ascii − 96),
    // 256-sample frames; energy / silence / zero crossings are pure
    // integers so the byte walk gates the mapPartitions plumbing
    "m05_audio_frames" -> s"""
      WITH xs AS (SELECT doc_id,
                    [(ascii(text[j]) - 96)::BIGINT
                     for j in generate_series(1, strlen(text))] AS xs
                  FROM documents),
      u AS (SELECT doc_id, unnest(generate_series(1, len(xs))) AS j,
              unnest(xs) AS x
            FROM xs),
      fr AS (SELECT doc_id,
               (j - 1) // ${Multimodal.AudioFrameSamples} AS frame,
               count(*) AS fn, sum(x * x) AS fe
             FROM u GROUP BY doc_id, frame),
      zc AS (SELECT doc_id, coalesce(sum(chg), 0) AS zcr
             FROM (SELECT doc_id, CASE WHEN (x < 0) <>
                       (lag(x) OVER (PARTITION BY doc_id ORDER BY j) < 0)
                     THEN 1 ELSE 0 END AS chg FROM u) t
             GROUP BY doc_id),
      fc AS (SELECT doc_id, count(*) AS n_frames, sum(fe) AS total_energy,
               max(fe) AS peak_energy,
               sum(CASE WHEN fe < fn * ${Multimodal.AudioSilenceMeanSq}
                   THEN 1 ELSE 0 END) AS n_silent
             FROM fr GROUP BY doc_id)
      SELECT d.doc_id, CAST(strlen(d.text) AS BIGINT) AS n_samples,
        CAST(coalesce(n_frames, 0) AS BIGINT) AS n_frames,
        CAST(coalesce(total_energy, 0) AS BIGINT) AS total_energy,
        CAST(coalesce(peak_energy, 0) AS BIGINT) AS peak_energy,
        CAST(coalesce(n_silent, 0) AS BIGINT) AS n_silent,
        CAST(coalesce(zcr, 0) AS BIGINT) AS zcr
      FROM documents d LEFT JOIN fc USING (doc_id)
      LEFT JOIN zc USING (doc_id) ORDER BY d.doc_id""",
    // the deterministic tag rule (doc_id mod TagMod → real magic
    // prefix; 7 is coprime with the source assignment's mod 20)
    // mirrored arithmetically; untagged payloads still sniff the
    // ASCII-expressible signatures, exactly like the byte walk.
    // CORPUS ASSUMPTION (same as m01, restated per ADVICE r8): the
    // documents text is pure ASCII, so the only signatures an
    // untagged payload can open with are GIF89a/RIFF — Spark's
    // sniffFormat also checks the 0x89-PNG and 0xFF-JPEG magic bytes,
    // which no ASCII payload can start with. A future non-ASCII
    // corpus must extend the starts_with arms below or the engines
    // diverge silently.
    "m06_format_routing" -> s"""
      WITH p AS (SELECT doc_id, source,
          CASE doc_id % ${Multimodal.TagMod}
            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
            ELSE (CASE WHEN starts_with(text, 'GIF89a') THEN 'gif'
                       WHEN starts_with(text, 'RIFF') THEN 'riff'
                       ELSE 'unknown' END) END AS format,
          strlen(text) + (CASE doc_id % ${Multimodal.TagMod}
            WHEN 0 THEN 8 WHEN 1 THEN 3 WHEN 2 THEN 6 ELSE 0 END)
            AS byte_len
        FROM documents)
      SELECT source, format,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(byte_len) AS BIGINT) AS total_bytes,
        CAST(max(byte_len) AS BIGINT) AS max_bytes
      FROM p GROUP BY 1, 2 ORDER BY source, format""",
    "m01_multimodal_features" -> """
      WITH s AS (SELECT doc_id, strlen(text) AS byte_len,
        list_reduce(list_prepend(0::BIGINT,
          [ascii(text[j])::BIGINT for j in generate_series(1, length(text))]),
          (a, x) -> a + x) AS s0,
        list_reduce(list_prepend(0::BIGINT,
          [ascii(text[j])::BIGINT * ascii(text[j])::BIGINT
           for j in generate_series(1, length(text))]),
          (a, x) -> a + x) AS s1,
        list_min([ascii(text[j])::BIGINT for j in generate_series(1, length(text))]) AS mn,
        list_max([ascii(text[j])::BIGINT for j in generate_series(1, length(text))]) AS mx
        FROM documents)
      SELECT doc_id, byte_len,
        CAST(floor((s0 / greatest(byte_len, 1)) * 1000000) AS BIGINT) AS mean_e6,
        CAST(floor((s1 / greatest(byte_len, 1)) * 1000000) AS BIGINT) AS mom2_e6,
        coalesce(mn, 255) AS min_byte, coalesce(mx, 0) AS max_byte
      FROM s ORDER BY doc_id""",
    // frame-sample = every-50th-byte stride; resize = 4 quarter block
    // means. Same ASCII byte≡code-point assumption as m01. DuckDB lists
    // are 1-indexed: byte [0,q) ↔ j ∈ [1,q]; empty list_sum is NULL →
    // coalesce 0 (Spark's loop naturally yields 0).
    "m02_multimodal_resize" -> """
      WITH s AS (SELECT doc_id, text, strlen(text) AS n, (strlen(text) // 4) AS q,
        [ascii(text[j]) for j in generate_series(1, strlen(text), 50)] AS fs
        FROM documents),
      t AS (SELECT doc_id, n, q,
        len(fs) AS n_frames, coalesce(list_sum(fs), 0) AS fs_sum,
        coalesce(list_sum([ascii(text[j]) for j in generate_series(1, q)]), 0) AS s1,
        coalesce(list_sum([ascii(text[j]) for j in generate_series(q+1, 2*q)]), 0) AS s2,
        coalesce(list_sum([ascii(text[j]) for j in generate_series(2*q+1, 3*q)]), 0) AS s3,
        coalesce(list_sum([ascii(text[j]) for j in generate_series(3*q+1, n)]), 0) AS s4
        FROM s)
      SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        CAST(fs_sum AS BIGINT) AS fs_sum,
        CAST(floor(s1 / greatest(q, 1) * 1000000) AS BIGINT) AS q1_e6,
        CAST(floor(s2 / greatest(q, 1) * 1000000) AS BIGINT) AS q2_e6,
        CAST(floor(s3 / greatest(q, 1) * 1000000) AS BIGINT) AS q3_e6,
        CAST(floor(s4 / greatest(n - 3*q, 1) * 1000000) AS BIGINT) AS q4_e6
      FROM t ORDER BY doc_id""",
    "x01_sessionize" -> """
      WITH e AS (SELECT user_id, date_trunc('second', ts) AS tss FROM events),
      m AS (SELECT user_id, tss,
              CASE WHEN lag(tss) OVER w IS NULL
                     OR tss - lag(tss) OVER w >= INTERVAL 5 MINUTE
                   THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss)),
      s AS (SELECT user_id, tss, sum(new_s) OVER
              (PARTITION BY user_id ORDER BY tss
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM m)
      SELECT user_id,
        strftime(min(tss), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(max(tss), '%Y-%m-%d %H:%M:%S') AS session_end,
        count(*) AS n_events
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start""",
    // mirrors the Spark window formulation step-for-step so the funnel
    // semantics ("each step at or after the previous") can't drift
    "x02_funnel" -> """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
              OVER (PARTITION BY user_id) AS v1 FROM e),
      b AS (SELECT *, min(CASE WHEN event_type = 'click' AND us >= v1 THEN us END)
              OVER (PARTITION BY user_id) AS c1 FROM a),
      c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= c1 THEN us END)
              OVER (PARTITION BY user_id) AS p1 FROM b)
      SELECT user_id,
        coalesce(min(v1), -1) AS view_us,
        coalesce(min(c1), -1) AS click_us,
        coalesce(min(p1), -1) AS purchase_us,
        CASE WHEN min(p1) IS NOT NULL THEN 3
             WHEN min(c1) IS NOT NULL THEN 2
             WHEN min(v1) IS NOT NULL THEN 1 ELSE 0 END AS depth
      FROM c GROUP BY user_id ORDER BY user_id""",
    // per-type freshness card; gaps from an ordered window, span/mean
    // in exact micros integers
    "x17_freshness" -> """
      WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us
                 FROM events),
      g AS (SELECT event_type, us,
              us - lag(us) OVER (PARTITION BY event_type
                ORDER BY us, event_id) AS gap
            FROM e)
      SELECT event_type, count(*) AS n_events,
        CAST(min(us) AS BIGINT) AS first_us,
        CAST(max(us) AS BIGINT) AS last_us,
        CAST(max(gap) AS BIGINT) AS max_gap_us,
        CAST(CASE WHEN count(*) = 1 THEN 0
          ELSE (max(us) - min(us)) // (count(*) - 1) END AS BIGINT)
          AS mean_gap_us
      FROM g GROUP BY event_type ORDER BY event_type""",
    // weekly retention matrix: cohort = first-active epoch week,
    // all-integer day/week floors (positive, so // == Spark's div)
    "x16_retention_cohorts" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
                 FROM events),
      f AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY user_id),
      c AS (SELECT DISTINCT e.user_id, d0 // 7 AS cohort_week,
              (day - d0) // 7 AS week_offset
            FROM e JOIN f USING (user_id))
      SELECT cohort_week, week_offset, count(*) AS n_active
      FROM c GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset""",
    // quality rule = t02's (same e6 floors), dedup = d01's md5 winner,
    // split = t07's hash rule — the composed pipeline
    "x03_pipeline" -> s"""
      WITH f AS (SELECT doc_id, lower(text) AS t FROM documents),
      g AS (SELECT doc_id, t, length(t) AS n_chars,
              length(regexp_replace(t, '[a-z0-9\\s]', '', 'g')) AS n_punct,
              string_split_regex(t, '\\s+') AS tk FROM f),
      h AS (SELECT doc_id, t, n_chars, len(tk) AS n_toks,
              CAST(floor(1000000 * (n_punct / n_chars)) AS BIGINT) AS pr,
              CAST(floor(1000000 * (len(list_distinct(tk)) / len(tk))) AS BIGINT) AS ttr
            FROM g),
      kept AS (SELECT * FROM h
               WHERE n_chars >= 100 AND n_toks >= 20
                 AND pr < 100000 AND ttr > 150000),
      winners AS (SELECT md5(t) AS m, min(doc_id) AS doc_id
                  FROM kept GROUP BY 1),
      en AS (SELECT w.doc_id, k.n_toks, ${rh("k.t", 1000000007L)} % 100 AS h_mod
             FROM winners w JOIN kept k USING (doc_id))
      SELECT CASE WHEN h_mod < 80 THEN 'train'
                  WHEN h_mod < 90 THEN 'val' ELSE 'test' END AS split,
        count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tokens_total
      FROM en GROUP BY 1 ORDER BY split""",
    // concat-and-cut packing: per-source running token sum, bins of 256
    // positional hits of the s08/i03 query terms; window scoring via
    // a per-doc positional range join; leftmost-best tiebreak; the
    // snippet text re-sliced from the token array
    "i05_snippets" -> s"""
      WITH $tkCte,
      hx AS (SELECT doc_id, unnest([{'pos': i - 1, 'term': tk[i]}
               for i in generate_series(1, len(tk))]) AS h FROM tk),
      h2 AS (SELECT doc_id, h.pos AS pos, h.term AS term FROM hx
             WHERE h.term IN ${Similarity.HybridQueryTerms
      .map(t => s"'$t'").mkString("(", ", ", ")")}),
      win AS (SELECT a.doc_id, a.pos AS start_pos,
                count(DISTINCT b.term) AS n_terms, count(*) AS n_hits
              FROM h2 a JOIN h2 b ON a.doc_id = b.doc_id
                AND b.pos >= a.pos
                AND b.pos <= a.pos + ${TextAnalysis.SnippetWindow - 1}
              GROUP BY 1, 2),
      best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY n_terms DESC, n_hits DESC, start_pos) AS rk
               FROM win)
      SELECT b.doc_id, b.start_pos, b.n_terms, b.n_hits,
        array_to_string(t.tk[b.start_pos + 1 :
          b.start_pos + ${TextAnalysis.SnippetWindow}], ' ') AS snippet
      FROM best b JOIN tk t USING (doc_id)
      WHERE rk = 1 ORDER BY b.doc_id""",
    // s04's exact-integer coordinate sums per label, then d15's fixed
    // float tree over the centroid dot/norms
    "s17_label_centroids" -> s"""
      WITH ex AS (SELECT label, d AS dim,
               CAST(floor(embedding[d+1]::DOUBLE * 1000000) AS BIGINT)
                 AS v_e6
             FROM embeddings,
               generate_series(0, ${Similarity.EmbeddingDims - 1}) t(d)),
      cent AS (SELECT label, dim, count(*) AS n,
                 CAST(floor(CAST(sum(v_e6) AS DOUBLE) / count(*))
                   AS BIGINT) AS m_e6
               FROM ex GROUP BY label, dim),
      norms AS (SELECT label, max(n) AS n_vecs,
                  CAST(sum(m_e6 * m_e6) AS BIGINT) AS n2
                FROM cent GROUP BY label),
      dots AS (SELECT a.label AS la, b.label AS lb,
                 CAST(sum(a.m_e6 * b.m_e6) AS BIGINT) AS dot
               FROM cent a JOIN cent b ON a.dim = b.dim
                 AND a.label < b.label
               GROUP BY 1, 2)
      SELECT la, lb, na.n_vecs AS n_a, nb.n_vecs AS n_b,
        CAST(floor((dot::DOUBLE * 1000000.0) /
          (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))) AS BIGINT)
          AS cos_e6
      FROM dots JOIN norms na ON la = na.label
        JOIN norms nb ON lb = nb.label
      ORDER BY la, lb""",
    // s17's integer centroids grouped by the joined documents.source,
    // plus the corpus centroid, a per-source nearest-other argmax and
    // the join-free algebraic dispersion (Σv²−2mΣv+n·m² on HUGEINT,
    // mirroring Spark's DECIMAL(38,0)) — same fixed float tree both
    "s29_source_embedding_drift" -> s29Oracle,
    // s01's exact cosine restricted to the query's label partition —
    // the filter is an equi-join predicate, so both engines pre-filter
    "s19_filtered_ann" -> s"""
      WITH q AS (SELECT vec_id AS query_id, label, embedding AS qv
                 FROM embeddings WHERE vec_id < 10),
      scored AS (SELECT query_id, q.label AS label,
                   c.vec_id AS neighbor_id,
                   ${cos("qv", "c.embedding")} AS cs
                 FROM embeddings c JOIN q
                   ON q.label = c.label AND query_id <> c.vec_id)
      SELECT query_id, label, neighbor_id, CAST(rnk AS INTEGER) AS rank,
        CAST(floor(cs * 1000000) AS BIGINT) AS cs_e6
      FROM (SELECT query_id, label, neighbor_id, cs, row_number() OVER
              (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
            FROM scored) t
      WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // SQ8: per-dim [min,max] grid learned corpus-wide, reconstruction
    // arithmetic interpolated from Similarity.sq8DecSql (one
    // definition both engines), exact ground truth = s01's cosine
    "s20_sq8_recall" -> s"""
      WITH dims AS (SELECT i, min(embedding[i]::DOUBLE) AS mn,
                      max(embedding[i]::DOUBLE) AS mx
                    FROM embeddings,
                      generate_series(1, ${Similarity.EmbeddingDims}) g(i)
                    GROUP BY i),
      mm AS (SELECT list(mn ORDER BY i) AS mns,
               list(mx ORDER BY i) AS mxs FROM dims),
      dc AS (SELECT vec_id,
               ${Similarity.sq8DecSql("embedding", "mns", "mxs")} AS dec
             FROM embeddings, mm),
      q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 10),
      sq AS (SELECT query_id, d.vec_id AS neighbor_id,
               ${dot("qv", "d.dec")} /
                 (sqrt(${dot("qv", "qv")}) * sqrt(${dot("d.dec", "d.dec")}))
                 AS cs
             FROM dc d JOIN q ON query_id <> d.vec_id),
      ak AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
                     AS r FROM sq) z WHERE r <= ${Similarity.RecallK}),
      esc AS (SELECT query_id, c.vec_id AS neighbor_id,
                ${cos("qv", "c.embedding")} AS cs
              FROM embeddings c JOIN q ON query_id <> c.vec_id),
      e5 AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
                     AS r FROM esc) z WHERE r <= ${Similarity.RecallK}),
      hits AS (SELECT query_id, count(*) AS sq8_hits
               FROM e5 JOIN ak USING (query_id, neighbor_id)
               GROUP BY query_id)
      SELECT query_id,
        CAST(coalesce(sq8_hits, 0) AS BIGINT) AS sq8_hits,
        CAST(coalesce(sq8_hits, 0) * ${1000000L / Similarity.RecallK} AS BIGINT) AS sq8_recall_e6
      FROM q LEFT JOIN hits USING (query_id) ORDER BY query_id""",
    // Matryoshka sweep: per prefix width m the top-5 by prefix cosine
    // (dotM — same fold order as Spark's float_dot over slice),
    // overlap vs the full-width exact top-5; one UNION ALL arm per
    // operating point, widths interpolated from MatryoshkaDims
    "s21_matryoshka_recall" -> s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 10),
      esc AS (SELECT query_id, c.vec_id AS neighbor_id,
                ${cos("qv", "c.embedding")} AS cs
              FROM embeddings c JOIN q ON query_id <> c.vec_id),
      e5 AS (SELECT query_id, neighbor_id
             FROM (SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
                     AS r FROM esc) z WHERE r <= ${Similarity.RecallK}),
      arms AS (${Similarity.MatryoshkaDims.map { m =>
        s"""SELECT $m AS dims, query_id, neighbor_id
             FROM (SELECT query_id, c.vec_id AS neighbor_id, row_number()
                     OVER (PARTITION BY query_id ORDER BY
                       ${cosM("qv", "c.embedding", m)} DESC, c.vec_id) AS r
                   FROM embeddings c JOIN q ON query_id <> c.vec_id) z
             WHERE r <= ${Similarity.RecallK}"""
      }.mkString("\n        UNION ALL\n        ")}),
      hits AS (SELECT dims, query_id, count(*) AS hits
               FROM e5 JOIN arms USING (query_id, neighbor_id)
               GROUP BY dims, query_id)
      SELECT dims, query_id,
        CAST(coalesce(hits, 0) AS BIGINT) AS hits,
        CAST(coalesce(hits, 0) * ${1000000L / Similarity.RecallK} AS BIGINT) AS recall_e6
      FROM (SELECT m.dims, query_id FROM q CROSS JOIN (
              SELECT unnest(${Similarity.MatryoshkaDims
                .mkString("[", ", ", "]")}) AS dims) m) g
      LEFT JOIN hits USING (dims, query_id)
      ORDER BY dims, query_id""",
    // one aggregation over the s09 graph: kth cosine = min over the
    // ranked list; isolated vectors get the -1 sentinel
    "s23_knn_outliers" -> s"""
      WITH $mutualKnnCtes,
      agg AS (SELECT vec_id, count(*) AS n_neighbors,
                max(CAST(floor(cs * 1000000) AS BIGINT)) AS best_cs_e6,
                min(CAST(floor(cs * 1000000) AS BIGINT)) AS kth_cs_e6
              FROM g GROUP BY vec_id)
      SELECT e.vec_id,
        CAST(coalesce(n_neighbors, 0) AS BIGINT) AS n_neighbors,
        CAST(coalesce(best_cs_e6, -1) AS BIGINT) AS best_cs_e6,
        CAST(coalesce(kth_cs_e6, -1) AS BIGINT) AS kth_cs_e6,
        CAST(CASE WHEN coalesce(n_neighbors, 0) < 3
              OR coalesce(kth_cs_e6, -1) < ${Similarity.OutlierCsE6}
            THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
      FROM embeddings e LEFT JOIN agg USING (vec_id)
      ORDER BY e.vec_id""",
    // source-pair Jaccard over DISTINCT (source, shingle-hash): d02's
    // 5-gram shingles + rolling hash, inclusion-exclusion union
    "t31_source_similarity" -> s"""
      WITH $tkCte, $shCte,
      hv AS (SELECT doc_id, [${rh("s", 1000000007L)} for s in shs] AS hv
             FROM sh),
      sp AS (SELECT DISTINCT d.source, h
             FROM (SELECT doc_id, unnest(hv) AS h FROM hv) x
             JOIN documents d USING (doc_id)),
      sizes AS (SELECT source, count(*) AS n FROM sp GROUP BY 1),
      i AS (SELECT a.source AS source_a, b.source AS source_b,
              count(*) AS inter
            FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2)
      SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
        CAST(sa.n + sb.n - inter AS BIGINT) AS union_sz,
        CAST((1000000 * inter) // (sa.n + sb.n - inter) AS BIGINT)
          AS jac_e6
      FROM i JOIN sizes sa ON source_a = sa.source
      JOIN sizes sb ON source_b = sb.source
      ORDER BY source_a, source_b""",
    // mergeable MinHash estimate of t31: per-source component-wise min
    // of the d03 signature algebra (k=32), matched-component estimator.
    // Docs with no shingles (< 5 tokens) carry no signature in either
    // engine (WHERE n_sh > 0 here = the Spark-side filter).
    "t32_source_minhash" -> t32Oracle,
    // ordered-wedge triangle closure over the mutual edges (a<b<c,
    // wedges at the lowest vertex), per-corner counts, exact-integer
    // coefficient floored at the same point as the Spark side
    "s24_knn_triangles" -> s"""
      WITH $mutualKnnCtes,
      m AS (SELECT ida, idb FROM mpairs),
      tri AS (SELECT e1.ida AS a, e1.idb AS b, e2.idb AS c
              FROM m e1 JOIN m e2
                ON e1.ida = e2.ida AND e1.idb < e2.idb
              JOIN m e3 ON e3.ida = e1.idb AND e3.idb = e2.idb),
      tv AS (SELECT a AS vec_id FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri),
      tcnt AS (SELECT vec_id, count(*) AS triangles FROM tv GROUP BY 1),
      dv AS (SELECT ida AS vec_id FROM m UNION ALL SELECT idb FROM m),
      degs AS (SELECT vec_id, count(*) AS deg FROM dv GROUP BY 1)
      SELECT d.vec_id, CAST(d.deg AS BIGINT) AS deg,
        CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
        CAST(CASE WHEN d.deg >= 2 THEN
            (2000000 * coalesce(t.triangles, 0)) // (d.deg * (d.deg - 1))
          ELSE 0 END AS BIGINT) AS lc_e6
      FROM degs d LEFT JOIN tcnt t USING (vec_id)
      ORDER BY d.vec_id""",
    // unrolled 3-step integer PageRank over the s09 graph `g`;
    // teleport 0.15e9 div n, damp 85//100, every division floored at
    // the same point as the Spark side; dangling mass dropped
    "s22_pagerank" -> s"""
      WITH $mutualKnnCtes,
      nodes AS (SELECT vec_id FROM embeddings),
      nn2 AS (SELECT count(*) AS n FROM embeddings),
      od AS (SELECT vec_id AS src, count(*) AS out_deg FROM g GROUP BY 1),
      p0 AS (SELECT vec_id, 1000000000 // n AS pr FROM nodes, nn2),
      ${(1 to Similarity.PageRankIters).map { i =>
        s"""c$i AS (SELECT g.neighbor_id AS dst,
                 sum(p.pr // od.out_deg) AS inflow
               FROM g JOIN od ON g.vec_id = od.src
                 JOIN p${i - 1} p ON p.vec_id = g.vec_id GROUP BY 1),
      p$i AS (SELECT nodes.vec_id, (150000000 // n) +
                 (${Similarity.PageRankDampE2} * coalesce(inflow, 0)) // 100
                 AS pr
               FROM nodes CROSS JOIN nn2
               LEFT JOIN c$i ON c$i.dst = nodes.vec_id)"""
      }.mkString(",\n      ")}
      SELECT p.vec_id, CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg,
        CAST(p.pr AS BIGINT) AS pr_e9
      FROM p${Similarity.PageRankIters} p
      LEFT JOIN od ON od.src = p.vec_id
      ORDER BY p.vec_id""",
    // full join of the capped-postings exact-Jaccard universe (d02's
    // chain, threshold OFF) with d03's confirmed pairs, bucketed by
    // Jaccard decile — capture rate per bucket
    "d18_lsh_recall" -> s"""
      WITH $minhashPairCtes,
      dhv AS (SELECT doc_id, list_distinct(hv) AS dh, n_sh FROM hv),
      ex0 AS (SELECT doc_id, unnest(dh) AS h FROM dhv),
      ex AS (SELECT doc_id, h FROM ex0
             QUALIFY count(*) OVER (PARTITION BY h) <= ${Dedup.JaccardDfCap}),
      common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
                 FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
      truth AS (SELECT ida, idb,
                  (1000000 * common) // (sa.n_sh + sb.n_sh - common)
                    AS jac_e6
                FROM common JOIN dhv sa ON ida = sa.doc_id
                JOIN dhv sb ON idb = sb.doc_id),
      u AS (SELECT coalesce(t.jac_e6, 0) AS jac_e6,
              CASE WHEN p.ida IS NOT NULL THEN 1 ELSE 0 END AS c
            FROM truth t FULL JOIN pairs p
              ON t.ida = p.ida AND t.idb = p.idb)
      SELECT CAST(jac_e6 // 100000 AS INTEGER) AS bucket,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(c) AS BIGINT) AS n_cand,
        CAST((1000000 * sum(c)) // count(*) AS BIGINT) AS cap_e6
      FROM u GROUP BY 1 ORDER BY 1""",
    // d03's pairs CTE rolled up by normalized source pair; diagonal
    // rows are intra-source duplication
    "d17_dup_source_matrix" -> d17Oracle,
    // Lloyd k-means unrolled KmeansRounds times: first-K init, argmin
    // integer squared distance (ties → smallest bucket), floor(sum/n)
    // means, empty clusters carry the previous centroid
    "s26_kmeans_lloyd" -> s"""
      WITH $kmeansCtes
      SELECT bucket, CAST(dim AS INTEGER) AS dim, n_vectors, mean_e6
      FROM st${Similarity.KmeansRounds} ORDER BY bucket, dim""",
    // the evaluation half of s26: per final-assignment bucket the
    // member count, scaled inertia (d2 // 1000 per member before the
    // sum — same element-wise floor as the Spark side), and the
    // tightest/loosest member; empty clusters report zeros
    "s27_kmeans_quality" -> s"""
      WITH $kmeansCtes,
      pb AS (SELECT bucket, count(*) AS n_vectors,
               sum(d2 // 1000) AS inertia_k,
               min(d2) AS min_d2, max(d2) AS max_d2
             FROM a${Similarity.KmeansRounds} GROUP BY bucket)
      SELECT CAST(t.bucket AS INTEGER) AS bucket,
        CAST(coalesce(n_vectors, 0) AS BIGINT) AS n_vectors,
        CAST(coalesce(inertia_k, 0) AS BIGINT) AS inertia_k,
        CAST(coalesce(min_d2, 0) AS BIGINT) AS min_d2,
        CAST(coalesce(max_d2, 0) AS BIGINT) AS max_d2
      FROM (SELECT DISTINCT bucket FROM st0) t
      LEFT JOIN pb ON pb.bucket = t.bucket
      ORDER BY bucket""",
    // SemDeDup: the s26 final assignment (a{KmeansRounds}) bucket-
    // partitions the pair space, each cluster split into hash-assigned
    // chunks of ~ChunkTarget members (same LCG arithmetic as the Spark
    // side); exact sequential-fold cosine within (bucket, chunk) only,
    // one row per evicted (non-lowest) member
    "d21_semantic_dedup" -> s"""
      WITH $kmeansCtes,
      ee AS (SELECT e.vec_id, a.bucket, e.embedding
             FROM embeddings e
             JOIN a${Similarity.KmeansRounds} a USING (vec_id)),
      bsz AS (SELECT bucket, count(*) AS bn FROM ee GROUP BY bucket),
      ec AS (SELECT ee.vec_id, ee.bucket, ee.embedding,
               ((ee.vec_id % 1000000007) * 2654435761) % 1000000007
                 % ((bsz.bn + ${Similarity.SemDedupChunkTarget - 1})
                    // ${Similarity.SemDedupChunkTarget}) AS chunk
             FROM ee JOIN bsz USING (bucket)),
      pr AS (SELECT a.bucket, a.vec_id AS ida, b.vec_id AS idb,
               ${cos("a.embedding", "b.embedding")} AS cs
             FROM ec a JOIN ec b
               ON a.bucket = b.bucket AND a.chunk = b.chunk
                AND a.vec_id < b.vec_id),
      ok AS (SELECT bucket, ida, idb,
               floor(cs * 1000000)::BIGINT AS cs_e6
             FROM pr WHERE cs >= ${Similarity.SemDedupTau})
      SELECT idb AS vec_id, CAST(bucket AS INTEGER) AS bucket,
        min(ida) AS dup_of, CAST(count(*) AS BIGINT) AS n_dups,
        CAST(max(cs_e6) AS BIGINT) AS max_cs_e6
      FROM ok GROUP BY idb, bucket ORDER BY vec_id""",
    // per-source TV drift: e9-floored integer probabilities over the
    // corpus top-V terms + rest bucket, same integer divisions as the
    // Spark side (all dividends non-negative, so // == div)
    "t33_source_drift" -> t33Oracle,
    // synchronous LPA unrolled LpaIters times: per round, each vertex
    // adopts the most frequent neighbor label (ties → smallest label)
    "s25_label_propagation" -> s"""
      WITH $mutualKnnCtes,
      e AS (SELECT ida AS src, idb AS dst FROM mpairs
            UNION ALL SELECT idb AS src, ida AS dst FROM mpairs),
      l0 AS (SELECT DISTINCT src AS vec_id, src AS lab FROM e),
      ${(1 to Similarity.LpaIters).map { i =>
        s"""l$i AS (SELECT vec_id, lab FROM (
             SELECT vec_id, lab, row_number() OVER
               (PARTITION BY vec_id ORDER BY n DESC, lab) AS rn
             FROM (SELECT e.dst AS vec_id, l.lab, count(*) AS n
                   FROM e JOIN l${i - 1} l ON e.src = l.vec_id
                   GROUP BY 1, 2)) WHERE rn = 1)"""
      }.mkString(",\n      ")}
      SELECT vec_id, CAST(lab AS BIGINT) AS comm,
        CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS comm_n
      FROM l${Similarity.LpaIters}
      ORDER BY vec_id""",
    // partitioned bloom mirrored lane-for-lane: set bits are DISTINCT
    // (lane, hash) pairs, probes are the anti-joined absent keys, and
    // depth-k positivity is the AND of the first k lane hits
    "z03_bloom_report" -> s"""
      WITH members AS (SELECT DISTINCT o_custkey AS x FROM orders),
      lanes AS (SELECT DISTINCT i, ${Layout.laneHashSql("i", "x")} AS h
                FROM members, generate_series(0, ${Layout.BloomK - 1}) t(i)),
      probes AS (SELECT c_custkey + (SELECT max(x) FROM members) AS x
                 FROM customer),
      ph AS (SELECT p.x, t.i,
               CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS hit
             FROM probes p
             CROSS JOIN generate_series(0, ${Layout.BloomK - 1}) t(i)
             LEFT JOIN lanes b ON b.i = t.i
               AND b.h = ${Layout.laneHashSql("t.i", "p.x")}),
      flags AS (SELECT x,
          max(CASE WHEN i = 0 THEN hit END) AS h0,
          max(CASE WHEN i = 1 THEN hit END) AS h1,
          max(CASE WHEN i = 2 THEN hit END) AS h2,
          max(CASE WHEN i = 3 THEN hit END) AS h3
        FROM ph GROUP BY x),
      counts AS (SELECT count(*) AS n_probes,
          CAST(sum(CASE WHEN h0 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp1,
          CAST(sum(CASE WHEN h0 = 1 AND h1 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp2,
          CAST(sum(CASE WHEN h0 = 1 AND h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp3,
          CAST(sum(CASE WHEN h0 = 1 AND h1 = 1 AND h2 = 1 AND h3 = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS fp4
        FROM flags),
      bc AS (SELECT
          CAST(sum(CASE WHEN i < 1 THEN nb ELSE 0 END) AS BIGINT) AS bits1,
          CAST(sum(CASE WHEN i < 2 THEN nb ELSE 0 END) AS BIGINT) AS bits2,
          CAST(sum(CASE WHEN i < 3 THEN nb ELSE 0 END) AS BIGINT) AS bits3,
          CAST(sum(CASE WHEN i < 4 THEN nb ELSE 0 END) AS BIGINT) AS bits4
        FROM (SELECT i, count(*) AS nb FROM lanes GROUP BY i) ln),
      mem AS (SELECT count(*) AS n_members FROM members),
      all1 AS (SELECT * FROM counts, bc, mem)
      SELECT k, n_members, n_probes, n_bits_set, n_false_pos,
        n_false_pos * 1000000 // n_probes AS fp_e6
      FROM (
        SELECT 1 AS k, n_members, n_probes, bits1 AS n_bits_set,
               fp1 AS n_false_pos FROM all1
        UNION ALL SELECT 2, n_members, n_probes, bits2, fp2 FROM all1
        UNION ALL SELECT 3, n_members, n_probes, bits3, fp3 FROM all1
        UNION ALL SELECT 4, n_members, n_probes, bits4, fp4 FROM all1)
      ORDER BY k""",
    // broadcast-roster delete mark mirrored as a LEFT JOIN; sums cast
    // to BIGINT so DuckDB's HUGEINT never reaches pandas as float
    "x18_delete_propagation" -> """
      WITH roster AS (SELECT DISTINCT user_id FROM events
                      WHERE user_id % 97 = 0),
      m AS (SELECT e.event_type, e.user_id,
              CASE WHEN r.user_id IS NOT NULL THEN 1 END AS del
            FROM events e LEFT JOIN roster r ON e.user_id = r.user_id)
      SELECT event_type, count(*) AS n_total,
        CAST(coalesce(sum(del), 0) AS BIGINT) AS n_deleted,
        count(*) - CAST(coalesce(sum(del), 0) AS BIGINT) AS n_retained,
        count(DISTINCT CASE WHEN del = 1 THEN user_id END)
          AS n_users_deleted
      FROM m GROUP BY event_type ORDER BY event_type""",
    // one scan builds every per-row rule aggregate; the UNION ALL
    // unpivot mirrors Spark's stack; NULL predicate hits fall to the
    // ELSE/violation branch in both engines
    "x19_dq_rules" -> s"""
      WITH a AS (SELECT count(*) AS n,
        CAST(sum(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS v_value,
        CAST(sum(CASE WHEN event_type IN ('click', 'error', 'purchase',
            'signup', 'view') THEN 0 ELSE 1 END) AS BIGINT) AS v_type,
        CAST(sum(CASE WHEN regexp_matches(props,
            '^\\{"k": [0-9]+\\}$$') THEN 0 ELSE 1 END) AS BIGINT) AS v_props,
        CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
        CAST(sum(CASE WHEN user_id IS NULL OR user_id <= 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS v_user,
        count(*) - count(DISTINCT event_id) AS v_unique
        FROM events)
      SELECT rule, n_checked, n_violations,
        (n_checked - n_violations) * 1000000 // n_checked AS pass_e6
      FROM (
        SELECT 'event_id_unique' AS rule, n AS n_checked,
               v_unique AS n_violations FROM a
        UNION ALL SELECT 'props_schema', n, v_props FROM a
        UNION ALL SELECT 'ts_nonnull', n, v_ts FROM a
        UNION ALL SELECT 'type_domain', n, v_type FROM a
        UNION ALL SELECT 'user_id_positive', n, v_user FROM a
        UNION ALL SELECT 'value_nonneg', n, v_value FROM a)
      ORDER BY rule""",
    // term-count vectors with the df > cap stop list removed; integer
    // dot/norms, one fixed float expression tree for the e6 floor
    "d15_cosine_pairs" -> s"""
      WITH k AS (SELECT (count(*) + ${Dedup.MaxExhaustiveCosineDocs - 1})
                   // ${Dedup.MaxExhaustiveCosineDocs} AS k
                 FROM documents),
      sdocs AS (SELECT d.* FROM documents d, k WHERE doc_id % k.k = 0),
      ${cosineVecCtesFrom("sdocs")},
      dots AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                 CAST(sum(a.c * b.c) AS BIGINT) AS dot
               FROM tc a JOIN tc b ON a.w = b.w AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
      $cosineScoreSelect""",
    // d15's candidate join restricted to each doc's 8 rarest terms
    // (df asc, term asc); full exact dot rerank at the same threshold
    "d16_cosine_prefix" -> s"""
      WITH $cosineVecCtes,
      dfq AS (SELECT w, count(*) AS df FROM tc GROUP BY w),
      pre0 AS (SELECT doc_id, w FROM (
                SELECT t.doc_id, t.w, row_number() OVER (
                  PARTITION BY t.doc_id ORDER BY d.df, t.w) AS prk
                FROM tc t JOIN dfq d USING (w)) z
              WHERE prk <= ${Dedup.PrefixK}),
      pl AS (SELECT w FROM pre0 GROUP BY w
             HAVING count(*) <= ${Dedup.PrefixBucketCap}),
      pre AS (SELECT pre0.* FROM pre0 JOIN pl USING (w)),
      cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
               FROM pre a JOIN pre b ON a.w = b.w
                 AND a.doc_id < b.doc_id),
      dots AS (SELECT c.ida, c.idb,
                 CAST(sum(ta.c * tb.c) AS BIGINT) AS dot
               FROM cand c JOIN tc ta ON c.ida = ta.doc_id
                 JOIN tc tb ON c.idb = tb.doc_id AND ta.w = tb.w
               GROUP BY c.ida, c.idb)
      $cosineScoreSelect""",
    // tf/df/N all exact integers; linear idf (N/df) keeps the score
    // integral; term string is the in-doc rank tiebreak
    "t27_keywords" -> s"""
      WITH $tkCte,
      tf AS (SELECT doc_id, w, count(*) AS tf
             FROM (SELECT doc_id, unnest(tk) AS w FROM tk) z
             WHERE length(w) >= 2 GROUP BY doc_id, w),
      dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      sc AS (SELECT t.doc_id, t.w, t.tf, d.df,
               t.tf * nn.n_docs * 100 // d.df AS score_e2,
               row_number() OVER (PARTITION BY t.doc_id
                 ORDER BY t.tf * nn.n_docs * 100 // d.df DESC, t.w) AS rk
             FROM tf t JOIN dfq d USING (w), nn)
      SELECT doc_id, rk, w AS term, tf, CAST(df AS BIGINT) AS df,
        CAST(score_e2 AS BIGINT) AS score_e2
      FROM sc WHERE rk <= 3 ORDER BY doc_id, rk""",
    // each doc = one ingest file; greedy running-sum cut at the
    // target size mirrors the Spark window text
    "x20_compaction_plan" -> s"""
      WITH files AS (SELECT source, doc_id AS file_id, n_chars AS bytes
                     FROM documents),
      planned AS (SELECT source, count(*) AS n_small,
          CAST(sum(bytes) AS BIGINT) AS bytes_moved,
          count(DISTINCT grp) AS n_groups
        FROM (SELECT source,
                (sum(bytes) OVER (PARTITION BY source ORDER BY file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                  // ${Layout.CompactTargetBytes} AS grp, bytes
              FROM files WHERE bytes < ${Layout.SmallFileBytes}) g
        GROUP BY source),
      totals AS (SELECT source, count(*) AS n_files,
          CAST(sum(bytes) AS BIGINT) AS bytes_total
        FROM files GROUP BY source)
      SELECT t.source, t.n_files, t.bytes_total,
        coalesce(p.n_small, 0) AS n_small,
        coalesce(p.bytes_moved, 0) AS bytes_moved,
        coalesce(p.n_groups, 0) AS n_groups,
        t.n_files - coalesce(p.n_small, 0) + coalesce(p.n_groups, 0)
          AS n_files_after
      FROM totals t LEFT JOIN planned p USING (source)
      ORDER BY t.source""",
    // partial-aggregate merge (base ⊕ delta) vs full recompute;
    // count/sum are algebraic so the audit must return 1 everywhere
    "x21_incremental_agg" -> """
      WITH ev AS (SELECT user_id, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS v_e6 FROM events),
      base AS (SELECT user_id, count(*) AS n_base,
               CAST(sum(v_e6) AS BIGINT) AS s_base
               FROM ev WHERE event_id % 10 <> 7 GROUP BY user_id),
      delta AS (SELECT user_id, count(*) AS n_delta,
               CAST(sum(v_e6) AS BIGINT) AS s_delta
               FROM ev WHERE event_id % 10 = 7 GROUP BY user_id),
      fullagg AS (SELECT user_id, count(*) AS n_full,
               CAST(sum(v_e6) AS BIGINT) AS s_full
               FROM ev GROUP BY user_id),
      m AS (SELECT d.user_id,
              coalesce(b.n_base, 0) AS n_before, d.n_delta,
              coalesce(b.n_base, 0) + d.n_delta AS n_after,
              coalesce(b.s_base, 0) + coalesce(d.s_delta, 0)
                AS sum_after_e6
            FROM delta d LEFT JOIN base b USING (user_id))
      SELECT m.user_id, m.n_before, m.n_delta, m.n_after, m.sum_after_e6,
        CAST(CASE WHEN m.n_after = f.n_full
          AND m.sum_after_e6 = coalesce(f.s_full, 0)
          THEN 1 ELSE 0 END AS INTEGER) AS consistent
      FROM m JOIN fullagg f USING (user_id)
      ORDER BY m.user_id""",
    // (user, hour) grain distinct, ordered-window gap runs, rollup
    "x22_gap_report" -> """
      WITH h AS (SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hr
                 FROM events),
      g AS (SELECT user_id, hr,
              hr - lag(hr) OVER (PARTITION BY user_id ORDER BY hr) - 1
                AS gap
            FROM h)
      SELECT user_id, count(*) AS n_present,
        max(hr) - min(hr) + 1 AS span_hours,
        max(hr) - min(hr) + 1 - count(*) AS n_missing,
        CAST(coalesce(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS n_gaps,
        coalesce(max(gap), 0) AS max_gap
      FROM g GROUP BY user_id ORDER BY user_id""",
    // data-derived cutoff (80% of span) + embargo gap (5%) in pure
    // long math; census per (split, event_type)
    "x23_embargo_split" -> """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                 FROM events),
      c AS (SELECT min(us) + (max(us) - min(us)) * 8 // 10 AS cut_us,
              min(us) + (max(us) - min(us)) * 85 // 100 AS test_us
            FROM e)
      SELECT CASE WHEN us < cut_us THEN 'train'
                  WHEN us < test_us THEN 'embargo'
                  ELSE 'test' END AS split,
        event_type, count(*) AS n_events,
        count(DISTINCT user_id) AS n_users,
        min(us) AS min_us, max(us) AS max_us
      FROM e, c GROUP BY 1, 2 ORDER BY 1, 2""",
    // d06's cluster chain + the salted-P2 keep hash; singletons join
    // through as cluster_sz 1. Integer keep rule h%1e6·sz < 1e6.
    "x24_soft_dedup" -> s"""
      WITH RECURSIVE $ccCtes,
      cl AS (SELECT id AS doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
             FROM lab),
      hx AS (SELECT doc_id,
               ${rh(s"('${DupCluster.SoftDedupSalt}' || lower(text))",
                 graft.operators.TextHash.P2)} AS h
             FROM documents),
      jn AS (SELECT hx.doc_id, hx.h,
               coalesce(cl.cluster_id, hx.doc_id) AS cid,
               coalesce(cl.cluster_sz, 1) AS cluster_sz
             FROM hx LEFT JOIN cl USING (doc_id))
      SELECT CAST(cluster_sz AS BIGINT) AS cluster_sz,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
        CAST(sum(CASE WHEN (h % 1000000) * cluster_sz < 1000000
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN (h % 1000000) * cluster_sz < 1000000
            THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
          AS keep_rate_e6
      FROM jn GROUP BY cluster_sz ORDER BY cluster_sz""",
    // sqrt-damped (floor(sqrt·1000), x14's convention) token-budget
    // split with the 4-epoch cap; every ratio is integer div
    "x25_epoch_allocation" -> x25Oracle,
    // postings of query-term docs only reach the co-occurrence
    // groupBy; lift in exact-integer e6
    "i06_query_expansion" -> s"""
      WITH $tkCte,
      dt AS (SELECT DISTINCT doc_id, term
             FROM (SELECT doc_id, unnest(tk) AS term FROM tk) u
             WHERE length(term) > 0),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
      df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
      qd AS (SELECT term AS q_term, doc_id FROM dt
             WHERE list_contains($qTermsList, term)),
      nq AS (SELECT q_term, count(*) AS n_q FROM qd GROUP BY q_term),
      joint AS (SELECT q_term, term, count(*) AS df_joint
                FROM qd JOIN dt USING (doc_id)
                WHERE NOT list_contains($qTermsList, term)
                GROUP BY q_term, term
                HAVING count(*) >= ${TextAnalysis.ExpansionMinJoint}),
      sc AS (SELECT q_term, term AS exp_term, df_joint,
               df.df AS df_exp,
               (df_joint * n_docs * 1000000) // (n_q * df.df) AS lift_e6
             FROM joint JOIN df USING (term) JOIN nq USING (q_term), n)
      SELECT q_term, exp_term, CAST(rnk AS INTEGER) AS rank,
        df_joint, df_exp, lift_e6
      FROM (SELECT *, row_number() OVER (PARTITION BY q_term
              ORDER BY lift_e6 DESC, exp_term) AS rnk FROM sc) z
      WHERE rnk <= 2 ORDER BY q_term, rnk""",
    // query-by-document tf·idf: probe terms' postings only, i03's
    // exact-integer idf, per-(probe, cand, term) contribution floored
    // at the same div-1000 point as the Spark side
    "i07_more_like_this" -> s"""
      WITH $tkCte,
      post AS (SELECT doc_id, term
               FROM (SELECT doc_id, unnest(tk) AS term FROM tk) u
               WHERE length(term) > 0),
      nn AS (SELECT count(*) AS nn FROM documents),
      ptf AS (SELECT doc_id AS probe_id, term, count(*) AS tf_p
              FROM post WHERE doc_id % ${TextAnalysis.MoreLikeThisProbeMod} = 0
              GROUP BY 1, 2),
      ctf AS (SELECT doc_id, term, count(*) AS tf_c FROM post
              WHERE term IN (SELECT DISTINCT term FROM ptf)
              GROUP BY 1, 2),
      dfr AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
      sel AS (SELECT probe_id, term, tf_p, df
              FROM (SELECT probe_id, term, tf_p, df, row_number() OVER
                      (PARTITION BY probe_id ORDER BY df, term) AS trk
                    FROM ptf JOIN dfr USING (term)) t
              WHERE trk <= ${TextAnalysis.MoreLikeThisMaxQueryTerms}),
      sc AS (SELECT probe_id, c.doc_id AS neighbor_id,
               count(*) AS n_shared,
               sum((tf_p * tf_c *
                    ((2 * (nn - df) + 1) * 1000000 // (2 * df + 1)))
                   // 1000) AS score_e3
             FROM sel CROSS JOIN nn
             JOIN ctf c USING (term)
             WHERE c.doc_id <> probe_id
             GROUP BY 1, 2)
      SELECT probe_id, neighbor_id, CAST(rnk AS INTEGER) AS rank,
        CAST(n_shared AS BIGINT) AS n_shared,
        CAST(score_e3 AS BIGINT) AS score_e3
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY score_e3 DESC, neighbor_id) AS rnk FROM sc) z
      WHERE rnk <= ${TextAnalysis.MoreLikeThisK}
      ORDER BY probe_id, rnk""",
    // t07's exact split rule builds the train vocab; membership is
    // one term-key join over the eval token stream
    "t30_oov_rate" -> s"""
      WITH f AS (SELECT doc_id, source, lower(text) AS t,
              string_split_regex(lower(text), '\\s+') AS tk
            FROM documents),
      g AS (SELECT doc_id, source, tk,
              CASE WHEN (${rh("t", 1000000007L)} % 100) < 80 THEN 'train'
                   WHEN (${rh("t", 1000000007L)} % 100) < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM f),
      tv AS (SELECT DISTINCT term FROM (
               SELECT unnest(tk) AS term FROM g WHERE split = 'train') u
             WHERE length(term) > 0),
      ev AS (SELECT split, source, term,
               (term IN (SELECT term FROM tv)) AS in_vocab
             FROM (SELECT split, source, unnest(tk) AS term FROM g
                   WHERE split <> 'train') u
             WHERE length(term) > 0)
      SELECT split, source,
        CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        CAST(count(DISTINCT CASE WHEN NOT in_vocab THEN term END) AS BIGINT)
          AS n_oov_types,
        CAST((1000000 * sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END))
          // count(*) AS BIGINT) AS oov_rate_e6
      FROM ev GROUP BY 1, 2 ORDER BY split, source""",
    // BM25 shortlist scored against the standing query vector
    // (doc_id = vec_id identity, s08's convention); ascending cosine
    "i11_hard_negatives" -> s"""
      WITH $bm25Ctes,
      short AS (SELECT doc_id, n_matched, score_e6,
                  row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS r
                FROM sc QUALIFY r <= 100),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (SELECT s.doc_id, s.n_matched, s.score_e6,
                   CAST(floor(${cos("qv", "e.embedding")} * 1000000)
                     AS BIGINT) AS cs_e6
                 FROM short s JOIN embeddings e ON e.vec_id = s.doc_id
                 CROSS JOIN q
                 WHERE e.vec_id <> 0)
      SELECT CAST(row_number() OVER (ORDER BY cs_e6 ASC, doc_id)
          AS INTEGER) AS rank,
        doc_id, n_matched, score_e6, cs_e6
      FROM scored QUALIFY rank <= ${TextAnalysis.HardNegK}
      ORDER BY rank""",
    // symmetric-deletion (SymSpell) match: both sides' 1-deletion
    // neighborhoods from the same textual rule; df prior ranks
    "i10_fuzzy_match" -> s"""
      WITH $tkCte,
      vocab AS (SELECT term, count(*) AS df
                FROM (SELECT doc_id, unnest(list_distinct(tk)) AS term
                      FROM tk) u
                WHERE length(term) > 0 GROUP BY term),
      vk AS (SELECT term, df, unnest(list_distinct(list_prepend(term,
               [substr(term, 1, j - 1) || substr(term, j + 1, length(term))
                for j in generate_series(1, length(term))]))) AS k
             FROM vocab),
      pk AS (SELECT probe, unnest(list_distinct(list_prepend(probe,
               [substr(probe, 1, j - 1) || substr(probe, j + 1, length(probe))
                for j in generate_series(1, length(probe))]))) AS k
             FROM (SELECT unnest([${TextAnalysis.FuzzyProbes
                 .map(p => s"'$p'").mkString(", ")}]) AS probe)),
      m AS (SELECT DISTINCT probe, term, df FROM vk JOIN pk USING (k))
      SELECT probe, term, CAST(df AS BIGINT) AS df,
        CAST(row_number() OVER (PARTITION BY probe ORDER BY df DESC, term)
          AS INTEGER) AS rank
      FROM m QUALIFY rank <= ${TextAnalysis.FuzzyTopK}
      ORDER BY probe, rank""",
    // facet cells over query-term hits; share denominator is the
    // term-level doc total, exact integer div
    "i08_facets" -> s"""
      WITH $tkCte,
      hits AS (SELECT d.doc_id, d.source, d.lang, u.q_term,
                 count(*) AS tf
               FROM documents d JOIN (
                 SELECT doc_id, unnest(list_filter(tk,
                     x -> list_contains($qTermsList, x))) AS q_term
                 FROM tk) u USING (doc_id)
               GROUP BY 1, 2, 3, 4),
      cells AS (SELECT q_term, source, lang,
                  count(*) AS n_docs, sum(tf) AS tf_sum
                FROM hits GROUP BY 1, 2, 3)
      SELECT q_term, source, lang,
        CAST(n_docs AS BIGINT) AS n_docs,
        CAST(tf_sum AS BIGINT) AS tf_sum,
        CAST((1000000 * n_docs) //
          (sum(n_docs) OVER (PARTITION BY q_term)) AS BIGINT) AS share_e6
      FROM cells ORDER BY q_term, source, lang""",
    // adjacent char pairs inside distinct words, weighted by word
    // frequency; the unique (l, r) key makes the top-32 cut exact
    "t26_bpe_merges" -> s"""
      WITH $tkCte,
      w AS (SELECT unnest(tk) AS w FROM tk),
      wc AS (SELECT w, count(*) AS c FROM w
             WHERE length(w) >= 2 GROUP BY w),
      p AS (SELECT unnest([{'l': w[i], 'r': w[i+1]}
              for i in generate_series(1, length(w) - 1)]) AS pr, c
            FROM wc)
      SELECT pr.l AS l, pr.r AS r, CAST(sum(c) AS BIGINT) AS pair_count
      FROM p GROUP BY pr.l, pr.r
      ORDER BY pair_count DESC, l, r LIMIT 32""",
    // two (mine -> greedy apply) rounds on the char-symbol vocabulary,
    // then per-doc token counts through the word -> n_sym map
    "t34_bpe_tokenize" -> t34Oracle,
    // x04's packing arithmetic over the t34 body (embedded verbatim,
    // the x26 discipline), budget interpolated from the Spark constant
    "x28_bpe_packing" -> s"""
      WITH t34 AS (SELECT doc_id, n_bpe FROM ($t34Oracle) z),
      c AS (SELECT d.doc_id, d.source, t.n_bpe,
              sum(t.n_bpe) OVER (PARTITION BY d.source ORDER BY d.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
            FROM documents d JOIN t34 t ON d.doc_id = t.doc_id)
      SELECT doc_id, source, n_bpe,
        CAST(end_tok - n_bpe AS BIGINT) AS start_tok,
        CAST((end_tok - n_bpe) // ${Curation.BpePackBudget} AS BIGINT)
          AS bin_first,
        CAST((end_tok - 1) // ${Curation.BpePackBudget} AS BIGINT)
          AS bin_last
      FROM c ORDER BY doc_id""",
    "x04_packing" -> s"""
      WITH $tkCte,
      n AS (SELECT d.doc_id, d.source, len(tk.tk)::BIGINT AS n_toks
            FROM documents d JOIN tk ON d.doc_id = tk.doc_id),
      c AS (SELECT doc_id, source, n_toks,
              sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
            FROM n)
      SELECT doc_id, source, n_toks,
        CAST(end_tok - n_toks AS BIGINT) AS start_tok,
        CAST((end_tok - n_toks) // 256 AS BIGINT) AS bin_first,
        CAST((end_tok - 1) // 256 AS BIGINT) AS bin_last
      FROM c ORDER BY doc_id""",
    // hash-shuffle sharding: metadata-only key (doc_id string + epoch
    // 1), data-derived shard count, per-shard balance vs the ideal
    "x30_shard_manifest" -> s"""
      WITH $tkCte,
      b AS (SELECT doc_id, len(tk)::BIGINT AS n_toks,
              ${rh("concat(doc_id::VARCHAR, ':1')", 1000000007L)} AS key
            FROM tk),
      tt AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total_toks FROM b),
      a AS (SELECT b.*, total_toks,
              CAST((total_toks + ${Curation.ShardBudget - 1})
                // ${Curation.ShardBudget} AS BIGINT) AS n_shards
            FROM b, tt),
      g AS (SELECT a.*, key % n_shards AS shard, row_number() OVER
              (PARTITION BY key % n_shards ORDER BY key, doc_id) AS rn
            FROM a),
      m AS (SELECT shard, n_shards, total_toks, count(*) AS n_docs,
              sum(n_toks) AS n_tokens
            FROM g GROUP BY shard, n_shards, total_toks),
      fd AS (SELECT shard, doc_id AS first_doc FROM g WHERE rn = 1)
      SELECT m.shard, CAST(n_shards AS BIGINT) AS n_shards, n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST((n_tokens * 1000000) // (total_toks // n_shards)
          AS BIGINT) AS dev_e6,
        fd.first_doc
      FROM m JOIN fd USING (shard)
      ORDER BY m.shard""",
    // final assembly: keep = t35's oracle body (embedded verbatim);
    // spans = the d19 CTE chain; n_bpe = the t34 tokenizer chain
    // applied to the kept token stream; shard/offset = x30's key rule
    // + x28's running-sum arithmetic within the shard
    "x32_final_assembly" -> assemblyOracle(
      s"SELECT doc_id FROM ($t35Oracle) tz WHERE keep_cls = 1"),
    // x33: the same assembly chain under t36's TRAINED weights
    // (margin > 0) instead of t35's placeholder table
    "x33_assembly_trained" -> assemblyOracle(
      s"SELECT doc_id FROM ($clsTrainedMarginSql) tz WHERE m > 0"),
    // the card embeds the x25/t33/t32/d17/t02/t19 oracle bodies
    // verbatim — six standalone gates composed on the source key
    "x26_pretrain_card" -> s"""
      WITH ep AS (SELECT * FROM ($x25Oracle)),
      dr AS (SELECT source, tv_e6, drift_term FROM ($t33Oracle)),
      ed AS (SELECT source, cos_corpus_e6 AS emb_drift_e6,
               nearest_source AS emb_confusion_src,
               nearest_cos_e6 AS emb_confusion_e6 FROM ($s29Oracle)),
      ovp AS (SELECT source_a, source_b, est_jac_e6 FROM ($t32Oracle)),
      ovs AS (SELECT source_a AS source, source_b AS partner, est_jac_e6
              FROM ovp
              UNION ALL
              SELECT source_b, source_a, est_jac_e6 FROM ovp),
      ov AS (SELECT source, partner AS top_overlap_src,
               est_jac_e6 AS top_overlap_e6
             FROM (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY est_jac_e6 DESC, partner) AS rn FROM ovs) z
             WHERE rn = 1),
      dmm AS (SELECT source_a, source_b, n_pairs FROM ($d17Oracle)),
      intra AS (SELECT source_a AS source, n_pairs AS intra_dup_pairs
                FROM dmm WHERE source_a = source_b),
      crs0 AS (SELECT source_a AS source, n_pairs FROM dmm
               WHERE source_a <> source_b
               UNION ALL
               SELECT source_b, n_pairs FROM dmm
               WHERE source_a <> source_b),
      crs AS (SELECT source, sum(n_pairs) AS cross_dup_pairs
              FROM crs0 GROUP BY source),
      qk AS (SELECT d.source,
               sum(CASE WHEN q.keep = 1 THEN 1 ELSE 0 END) AS n_keep
             FROM ($t02Oracle) q JOIN documents d USING (doc_id)
             GROUP BY d.source),
      nvd AS (SELECT d.source, n.novelty_e6
              FROM ($t19Oracle) n JOIN documents d USING (doc_id)),
      nv AS (SELECT source, novelty_e6 AS med_novelty_e6 FROM (
               SELECT source, novelty_e6,
                 row_number() OVER (PARTITION BY source
                   ORDER BY novelty_e6) AS rn,
                 count(*) OVER (PARTITION BY source) AS cnt FROM nvd) z
             WHERE rn = (cnt + 1) // 2)
      SELECT ep.source, ep.n_docs, ep.tokens, ep.share_e6, ep.epochs_e3,
        dr.tv_e6, dr.drift_term, ed.emb_drift_e6, ed.emb_confusion_src,
        ed.emb_confusion_e6, ov.top_overlap_src, ov.top_overlap_e6,
        CAST(coalesce(intra.intra_dup_pairs, 0) AS BIGINT)
          AS intra_dup_pairs,
        CAST(coalesce(crs.cross_dup_pairs, 0) AS BIGINT)
          AS cross_dup_pairs,
        CAST((coalesce(qk.n_keep, 0) * 1000000) // ep.n_docs AS BIGINT)
          AS keep_rate_e6,
        CAST(coalesce(nv.med_novelty_e6, -1) AS BIGINT)
          AS med_novelty_e6
      FROM ep LEFT JOIN dr USING (source) LEFT JOIN ed USING (source)
      LEFT JOIN ov USING (source)
      LEFT JOIN intra USING (source) LEFT JOIN crs USING (source)
      LEFT JOIN qk USING (source) LEFT JOIN nv USING (source)
      ORDER BY ep.source""",
    // cumulative filter funnel: every stage embeds the standalone
    // oracle body (t02 / t06 / t35) or rule (d01's md5 winner), so the
    // funnel and the single-stage gates cannot drift
    "x27_filter_funnel" -> s"""
      WITH base AS (SELECT doc_id, source,
              len(string_split_regex(lower(text), '\\s+')) AS n_toks
            FROM documents),
      q AS (SELECT doc_id, keep FROM ($t02Oracle) z),
      r AS (SELECT doc_id, CASE WHEN dup3_e6 < ${Pipeline.FunnelMaxDup3E6}
              THEN 1 ELSE 0 END AS rep_ok FROM ($t06Oracle) z),
      c AS (SELECT doc_id, keep_cls FROM ($t35Oracle) z),
      u AS (SELECT min(doc_id) AS doc_id, 1 AS is_winner
            FROM documents GROUP BY md5(lower(text))),
      j AS (SELECT b.source, b.n_toks, q.keep, r.rep_ok, c.keep_cls,
              coalesce(u.is_winner, 0) AS is_winner
            FROM base b JOIN q USING (doc_id) JOIN r USING (doc_id)
            JOIN c USING (doc_id) LEFT JOIN u USING (doc_id))
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(keep) AS BIGINT) AS n_quality,
        CAST(sum(keep * rep_ok) AS BIGINT) AS n_clean,
        CAST(sum(keep * rep_ok * keep_cls) AS BIGINT) AS n_cls,
        CAST(sum(keep * rep_ok * keep_cls * is_winner) AS BIGINT)
          AS n_unique,
        CAST(sum(n_toks * keep * rep_ok * keep_cls * is_winner) AS BIGINT)
          AS tokens_kept,
        CAST((sum(keep * rep_ok * keep_cls * is_winner) * 1000000)
          // count(*) AS BIGINT) AS keep_rate_e6
      FROM j GROUP BY source ORDER BY source""",
    // normalize → blocklist → split → decontaminate → sample → pack,
    // each stage the same rule as its standalone query (t08, t09,
    // t07, t11, t13, x04)
    "x05_curation_card" -> s"""
      WITH f AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
      g AS (SELECT doc_id, lang, t,
              list_filter(string_split_regex(t, '\\s+'), x -> length(x) > 1) AS tkn
            FROM f),
      h AS (SELECT doc_id, lang, t, tkn, len(tkn) AS n,
              len(list_filter(tkn, x -> list_contains(['slow','big','bad'], x))) AS nb
            FROM g),
      k AS (SELECT doc_id, lang, tkn, n,
              ${rh("t", 1000000007L)} % 100 AS h_mod,
              ${rh("t", 998244353L)} % 1000 AS h2
            FROM h WHERE n >= 20 AND floor(1000000 * (nb / n)) < 80000),
      ks AS (SELECT *, CASE WHEN h_mod < 80 THEN 'train'
                WHEN h_mod < 90 THEN 'val' ELSE 'test' END AS split FROM k),
      sh AS (SELECT doc_id, split, CASE WHEN len(tkn) >= 5 THEN list_distinct(
               [array_to_string(tkn[i:i+4], ' ') for i in generate_series(1, len(tkn)-4)])
             ELSE [] END AS shs FROM ks),
      ex AS (SELECT doc_id, split, unnest([${rh("s", 1000000007L)} for s in shs]) AS hh
             FROM sh),
      tests AS (SELECT DISTINCT hh FROM ex WHERE split = 'test'),
      contam AS (SELECT DISTINCT e.doc_id FROM ex e JOIN tests USING (hh)
                 WHERE e.split = 'train'),
      kept AS (SELECT * FROM ks
               WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      samp AS (SELECT * FROM kept
               WHERE h2 < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 300
                 WHEN 'es' THEN 500 WHEN 'fr' THEN 700
                 WHEN 'zh' THEN 900 ELSE 50 END)
      SELECT split, lang, count(*) AS n_docs,
        CAST(sum(n) AS BIGINT) AS tokens_total,
        CAST((sum(n) + 255) // 256 AS BIGINT) AS n_bins
      FROM samp GROUP BY 1, 2 ORDER BY split, lang""",
    // hourly resample + forward fill: last event per (user, hour) by
    // (us, event_id) desc; per-user grid from first to last hour
    "x06_resample_ffill" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
              CAST(floor(value * 1000000) AS BIGINT) AS v_e6,
              epoch_us(ts) // 3600000000 AS hr
            FROM events),
      lastv AS (SELECT user_id, hr, v_e6 FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, hr
            ORDER BY us DESC, event_id DESC) AS rn FROM e) z
        WHERE rn = 1),
      hourly AS (SELECT e.user_id, e.hr, count(*) AS n_events
                 FROM e GROUP BY 1, 2),
      h2 AS (SELECT h.user_id, h.hr, h.n_events, l.v_e6 AS last_v
             FROM hourly h JOIN lastv l
               ON h.user_id = l.user_id AND h.hr = l.hr),
      grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hr
               FROM (SELECT user_id, min(hr) AS mn, max(hr) AS mx
                     FROM h2 GROUP BY 1) t),
      j AS (SELECT g.user_id, g.hr, coalesce(h.n_events, 0) AS n_events,
              h.last_v
            FROM grid g LEFT JOIN h2 h
              ON g.user_id = h.user_id AND g.hr = h.hr)
      SELECT user_id, hr, n_events,
        last_value(last_v IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS ffill_v_e6
      FROM j ORDER BY user_id, hr""",
    // trailing z-score in pure integer arithmetic:
    // (v − mean)² > 9·var ⟺ (n·v − Σx)² > 9·(n·Σx² − (Σx)²) over the
    // previous ≤100 events — no division/sqrt, so no float boundary
    "x07_anomaly" -> x07Oracle,
    // MERGE/SCD-1 upsert: latest value per user on each side of a
    // data-derived cutoff (max us − 24 h), full-outer joined;
    // (us, event_id) is unique so "latest" is deterministic
    "x08_upsert" -> x08Oracle,
    // SCD-2: hourly last-value series compressed to change points;
    // each version valid until the hour before the next change
    "x09_scd2" -> x09Oracle,
    // the card embeds the x08/x09/x07 oracle bodies verbatim — the
    // composed stages cannot drift from the standalone gates
    "x10_serving_card" -> s"""
      SELECT m.user_id, m.action, m.v_e6,
        coalesce(v.n_versions, 0) AS n_versions,
        coalesce(a.n_anomalies, 0) AS n_anomalies
      FROM ($x08Oracle) m
      LEFT JOIN (SELECT user_id, count(*) AS n_versions
                 FROM ($x09Oracle) s GROUP BY 1) v USING (user_id)
      LEFT JOIN (SELECT user_id, count(*) AS n_anomalies
                 FROM ($x07Oracle) z GROUP BY 1) a USING (user_id)
      ORDER BY m.user_id""",
    // Morton/Z-order key: identical bit-interleave arithmetic text
    // runs on both engines (Layout.zkeyExpr)
    "z01_zorder" -> s"""
      WITH h AS (SELECT event_id, epoch_us(ts) // 3600000000 AS hr,
              greatest(0, least(CAST(floor(coalesce(value, 0.0)) AS BIGINT), 1023)) AS vb
            FROM events),
      b AS (SELECT event_id,
              (hr - (SELECT min(hr) FROM h)) % 1024 AS tb, vb FROM h)
      SELECT event_id, tb, vb, ${Layout.zkeyExpr("tb", "vb")} AS zkey
      FROM b ORDER BY event_id""",
    // 64 equal-width key-range files per layout; a file is scanned
    // when its [min,max] box intersects the (time × value) query box
    "z02_pruning_report" -> s"""
      WITH $layoutLayCtes,
      fs AS (SELECT layout, f, min(tb) AS tb_min, max(tb) AS tb_max,
               min(vb) AS vb_min, max(vb) AS vb_max, count(*) AS n_rows,
               sum(CASE WHEN tb BETWEEN ${Layout.PruneTbLo} AND ${Layout.PruneTbHi}
                     AND vb BETWEEN ${Layout.PruneVbLo} AND ${Layout.PruneVbHi}
                   THEN 1 ELSE 0 END) AS n_box
             FROM lay GROUP BY layout, f)
      SELECT layout, count(*) AS n_files,
        CAST(sum(CASE WHEN tb_max >= ${Layout.PruneTbLo} AND tb_min <= ${Layout.PruneTbHi}
              AND vb_max >= ${Layout.PruneVbLo} AND vb_min <= ${Layout.PruneVbHi}
            THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
        CAST(sum(CASE WHEN tb_max >= ${Layout.PruneTbLo} AND tb_min <= ${Layout.PruneTbHi}
              AND vb_max >= ${Layout.PruneVbLo} AND vb_min <= ${Layout.PruneVbHi}
            THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_scanned,
        CAST(sum(n_box) AS BIGINT) AS n_rows_box
      FROM fs GROUP BY layout ORDER BY layout""",
    // 16 mid-band time probes against per-file [tb_min, tb_max];
    // depth = containing files; clustered slab = depth <= 1
    "z04_clustering_depth" -> s"""
      WITH $layoutLayCtes,
      fr AS (SELECT layout, f, min(tb) AS tb_min, max(tb) AS tb_max
             FROM lay GROUP BY layout, f),
      pr AS (SELECT (j * ${Layout.DepthProbeStride} +
                ${Layout.DepthProbeStride / 2}) AS p
             FROM generate_series(0, ${Layout.DepthProbes - 1}) t(j)),
      dp AS (SELECT ls.layout, pr.p, count(fr.f) AS depth
             FROM pr CROSS JOIN (SELECT DISTINCT layout FROM fr) ls
             LEFT JOIN fr ON fr.layout = ls.layout
               AND fr.tb_min <= pr.p AND pr.p <= fr.tb_max
             GROUP BY ls.layout, pr.p)
      SELECT layout,
        CAST(count(*) AS BIGINT) AS n_probes,
        CAST((1000000 * sum(depth)) // count(*) AS BIGINT) AS avg_depth_e6,
        CAST(max(depth) AS BIGINT) AS max_depth,
        CAST(sum(CASE WHEN depth <= 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clustered
      FROM dp GROUP BY layout ORDER BY layout""",
    // α=0.5 temperature over the (skewed) language mix: integer weight
    // w=floor(√n·1000) per lang, rate_e6 = min(1e6,
    // (1e6·(N div 2)·w) div (Σw·n)); keep when the decorrelated P3
    // content hash mod 1e6 clears the rate
    "x14_temperature_sample" -> s"""
      WITH d AS (SELECT doc_id, lang,
              ${rh("lower(text)", 754974721L)} % 1000000 AS hm FROM documents),
      ps AS (SELECT lang, count(*) AS n_lang FROM d GROUP BY lang),
      pw AS (SELECT lang, n_lang,
               CAST(floor(sqrt(n_lang) * 1000) AS BIGINT) AS w FROM ps),
      tt AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
               CAST(sum(w) AS BIGINT) AS sw FROM pw),
      rt AS (SELECT lang, n_lang, least(1000000,
               (1000000 * (n_total // 2) * w) // (sw * n_lang)) AS rate_e6
             FROM pw, tt)
      SELECT d.lang, CAST(max(rt.n_lang) AS BIGINT) AS n_docs,
        CAST(max(rt.rate_e6) AS BIGINT) AS rate_e6,
        CAST(sum(CASE WHEN d.hm < rt.rate_e6 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sampled
      FROM d JOIN rt USING (lang) GROUP BY d.lang ORDER BY d.lang""",
    // equal per-source quota = (N div 2) div n_sources; smallest
    // decorrelated content hash (P2) wins within each source
    "x11_mixture_sample" -> s"""
      WITH d AS (SELECT doc_id, source,
              ${rh("lower(text)", 998244353L)} AS h2 FROM documents),
      q AS (SELECT (count(*) // 2) // count(DISTINCT source) AS quota FROM d),
      r AS (SELECT doc_id, source, row_number() OVER
              (PARTITION BY source ORDER BY h2, doc_id) AS rk FROM d)
      SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM r, q
      WHERE rk <= quota ORDER BY source, rk""",
    // overlapping 64-token windows every 48 tokens; n_chunks =
    // 1 + ceil(max(n-64, 0)/48) so the last window reaches the end
    "x12_chunking" -> s"""
      WITH $tkCte,
      nn AS (SELECT doc_id, tk, len(tk) AS n FROM tk),
      ch0 AS (SELECT doc_id, unnest([{'ci': k,
               'ck': tk[(k*${Curation.ChunkStride})+1:(k*${Curation.ChunkStride})+${Curation.ChunkToks}]}
             for k in generate_series(0, CASE WHEN n > ${Curation.ChunkToks}
               THEN (n - ${Curation.ChunkToks} + ${Curation.ChunkStride - 1})//${Curation.ChunkStride}
               ELSE 0 END)]) AS u FROM nn),
      ch AS (SELECT doc_id, u.ci AS chunk_idx, u.ck AS ck FROM ch0)
      SELECT doc_id, chunk_idx, chunk_idx * ${Curation.ChunkStride} AS start_tok,
        len(ck) AS n_toks, md5(array_to_string(ck, ' ')) AS chunk_md5
      FROM ch ORDER BY doc_id, chunk_idx""",
    // version diff over the deterministically-derived old/new order
    // snapshots (drop ≡3, ≡7 (mod 10) resp.; ≡0 (mod 5) +500 cents);
    // integer-cents comparison, unchanged rows excluded
    "x13_snapshot_diff" -> """
      WITH o AS (SELECT o_orderkey,
              CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
            FROM orders),
      old AS (SELECT * FROM o WHERE o_orderkey % 10 <> 3),
      nw AS (SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN price_c + 500
                    ELSE price_c END AS price_c
             FROM o WHERE o_orderkey % 10 <> 7),
      d AS (SELECT COALESCE(old.o_orderkey, nw.o_orderkey) AS o_orderkey,
              old.price_c AS old_price_c, nw.price_c AS new_price_c,
              CASE WHEN old.price_c IS NULL THEN 'added'
                   WHEN nw.price_c IS NULL THEN 'removed'
                   WHEN old.price_c <> nw.price_c THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM old FULL OUTER JOIN nw ON old.o_orderkey = nw.o_orderkey)
      SELECT * FROM d WHERE status <> 'unchanged' ORDER BY o_orderkey""",
  )
}
