package graft.queries

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression specs: the scale-critical physical-plan
  * properties (`PushedFilters` on the parquet scan, pruned
  * `ReadSchema`, broadcast joins on dimensions, no nested-loop
  * fallback for the theta joins) must survive refactors — a correct
  * but non-pushed plan is a 100 TB regression that row-level tests
  * cannot see. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q02 filter reaches the parquet scan and projection is pruned") {
    val p = plan(Relational.q02_filter_project(spark, dir))
    assert(raw"PushedFilters: \[[^\]]".r.findFirstIn(p).isDefined,
      s"no non-empty PushedFilters in:\n$p")
    // only the referenced lineitem columns may be read
    assert(!p.contains("l_comment") && !p.contains("l_receiptdate"),
      "scan reads columns the query never references")
  }

  test("money queries keep every decimal within a long (precision <= 18)") {
    // a DECIMAL wider than 18 digits updates a java.math.BigDecimal per
    // row; the money sums run as BIGINT cents (Relational.cents/money)
    val moneyQueries = Seq("q01_pricing_summary", "q03_join_inner",
      "q09_join_broadcast", "q10_join_theta", "q11_union_all",
      "q15_case_when", "q19_subquery_from", "q20_scalar_subquery",
      "q23_window", "q26_star_join", "q35_having", "q43_cte",
      "q49_skew_salted")
    val wide = moneyQueries.flatMap { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val types = collectWithSubqueries(df.queryExecution.executedPlan) {
        case p => (p.expressions ++ p.output)
          .flatMap(_.flatMap(e => Try(e.dataType).toOption))
      }.flatten.collect {
        case d: DecimalType if d.precision > Decimal.MAX_LONG_DIGITS => d
      }
      if (types.isEmpty) None else Some(s"$name: ${types.distinct.mkString(", ")}")
    }
    assert(wide.isEmpty, s"wide decimals in executed plans:\n${wide.mkString("\n")}")
  }

  test("q09 MAPJOIN analog is a broadcast hash join") {
    val p = plan(Relational.q09_join_broadcast(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("theta-OR joins extract the equi conjunct (no nested loop)") {
    for (q <- Seq(Relational.q10_join_theta _, Relational.q27_sql25_analog _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"theta join fell back to a non-equi physical join:\n$p")
    }
  }

  test("q01 aggregates partially before the shuffle") {
    val p = plan(Relational.q01_pricing_summary(spark, dir))
    assert(p.contains("HashAggregate"), s"no hash aggregate in:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair, got $aggs")
  }

  test("q51 recursion depth stays bounded at 10 levels") {
    // the pos < 10 literal is q51's scale guard: an unbounded chain
    // walk costs max-chain-length join stages (measured 24 levels /
    // 11.5 s vs ~3 s bounded at sf0.1). A data or query change must
    // not silently unbound it.
    import org.apache.spark.sql.functions.max
    val maxPos = Relational.q51_recursive(spark, dir)
      .agg(max("pos")).collect()(0).getInt(0)
    assert(maxPos <= 10, s"recursion walked $maxPos levels; bound lost")
    // ...and with depth as the real guard, the engine's accumulated-row
    // valve must be lifted past the query's own bound (its 1e6 default
    // killed q51 at sf1: rows grow linearly with |orders| even at
    // fixed depth) — but SCOPED, not disarmed: the session limit after
    // building the frame must cover 11×|orders| for the caller's
    // action, yet stay finite so a later runaway recursive query in
    // the same session still trips the backstop.
    val nOrders = graft.engine.Tables.t(spark, dir, "orders").count()
    val rowLimit = spark.conf.get("spark.sql.cteRecursionRowLimit").toLong
    assert(rowLimit >= 11L * nOrders,
      s"cteRecursionRowLimit=$rowLimit re-arms below q51's " +
        s"${11L * nOrders}-row bound")
    assert(rowLimit < Int.MaxValue.toLong || 11L * nOrders >= Int.MaxValue,
      s"cteRecursionRowLimit=$rowLimit disarms the valve session-wide")
  }

  test("d11 probes the index with a broadcast of the batch bands") {
    // the incremental-dedup contract: per ingest, only the (small) new
    // batch's band rows move — the corpus index is probed in place. A
    // refactor that lets the band join shuffle BOTH sides re-creates
    // d03's full-corpus cost on every ingest.
    val p = plan(graft.operators.Dedup.incrementalNearDups(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"batch↔index band join is not broadcast:\n$p")
  }

  test("x06 grid is an explode + equi-join, never a calendar cross join") {
    // sf1 telemetry: x06 is the one genuinely data-bound x-family
    // query (1.05M grid rows at sf0.1 → 10.5M at sf1, ×7.2 wall on
    // ×10 rows). That stays sub-linear only while the grid comes from
    // per-user explode(sequence(mn, mx)) joined back by (user, hr)
    // hash equi-join — a refactor to a calendar-table cross join or a
    // nested-loop fallback would be quadratic at 100 TB.
    val p = plan(graft.operators.TimeSeries.resampleFfill(spark, dir))
    assert(p.contains("Generate"), s"grid lost its explode shape:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"x06 grid join fell back to a non-equi physical join:\n$p")
  }

  test("KMV top-k plans as TakeOrdered, never a full global sort") {
    // orderBy(h).limit(K) must compile to per-partition local top-K +
    // a driver merge of P·K longs; a global Sort before the limit
    // would shuffle every distinct shingle hash at 100 TB
    val p = plan(graft.operators.Sketches.kmvDistinctShingles(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"KMV kth-hash selection lost its TakeOrdered shape:\n$p")
  }

  test("capped jaccard applies the stop-shingle list as a broadcast anti-join") {
    val p = plan(graft.operators.Dedup.jaccardPairs(spark, dir,
      maxShingleDf = Some(graft.operators.Dedup.JaccardDfCap)))
    assert(p.contains("LeftAnti"),
      s"df cap must subtract stop-shingles via an anti-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "capped jaccard must keep equi-join candidate generation")
  }

  /** The plan of a memo's build before its checkpoint: the gated
    * entries hand out the memo's checkpoint scan, so a memo frame's
    * shape is pinned on `lazyBuild`, explained inside the scope that
    * frees the build's persists. */
  private def memoPlan[V](m: graft.operators.Memo[V])(
      frame: V => DataFrame): String =
    graft.engine.Caches.scoped(plan(frame(m.lazyBuild(spark, dir))))

  test("bucketed near-dup candidates come from an equi-join, not a cross join") {
    import graft.operators.{Dedup, Similarity}
    for (p <- Seq(
        memoPlan(Similarity.embeddingNearDupsBucketedMemo)(identity),
        memoPlan(Similarity.knnGraphMemo)(identity),
        memoPlan(Dedup.minhashLshPairsMemo)(identity))) {
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"),
        s"banded candidate generation lost its equi-join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"banded candidate generation must never plan an all-pairs join:\n$p")
    }
  }

  // FormattedMode prints each Exchange's partitioning on a detail line:
  //   Arguments: hashpartitioning(user_id#39L, 4), ENSURE_REQUIREMENTS, ...
  private def hashExchanges(p: String): Int =
    "Arguments: hashpartitioning".r.findAllIn(p).size

  test("as-of join costs exactly one hash shuffle, with type pushdown") {
    val p = plan(graft.operators.AsofJoin.purchaseClickAsof(spark, dir))
    assert(hashExchanges(p) == 1,
      s"as-of join must shuffle once on the key, got:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "as-of join must not plan as a range/cross join")
    // both branch scans push their event_type equality into parquet
    assert("EqualTo\\(event_type,purchase\\)".r.findFirstIn(p).isDefined &&
      "EqualTo\\(event_type,click\\)".r.findFirstIn(p).isDefined,
      s"event_type filters not pushed to the scans:\n$p")
  }

  test("funnel reuses one exchange across its three windows") {
    val p = plan(graft.operators.Funnel.viewClickPurchase(spark, dir))
    assert(hashExchanges(p) == 1,
      s"funnel windows + aggregate must share the user_id shuffle:\n$p")
    // formatted-mode detail headers look like "(10) Window"
    assert("\\(\\d+\\) Window".r.findAllIn(p).size >= 3)
  }

  test("range join broadcasts the band table") {
    val p = plan(graft.operators.RangeJoin.eventValueBands(spark, dir))
    assert(p.contains("BroadcastExchange"),
      s"band table must broadcast (fact side must not shuffle to join):\n$p")
  }

  test("percentiles rank the value-domain census, never raw rows") {
    // round 16: q41's rank window partitioned by the THREE return
    // flags — the last few-huge-groups corpus sort in the census
    // (three tasks each sorting a third of the corpus at 100 TB).
    // The census form shuffles (flag, cents) COUNTS — bounded by the
    // price domain, not the corpus — then windows over distinct
    // values only. Pin both halves: every Window sits above an
    // Aggregate (the x26 pin shape), and the shuffles are the census
    // groupBy + the flag-keyed window exchange, nothing more.
    val df = graft.operators.Sketches.percentileRanks(spark, dir)
    val p = plan(df)
    assert(hashExchanges(p) <= 2,
      s"expected census groupBy + flag window shuffles only:\n$p")
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val wins = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: LW => w
    }
    assert(wins.nonEmpty, "expected the census prefix-sum windows")
    wins.foreach(w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"q41 windows raw corpus rows again (the 3-task sort):\n$w"))
  }

  test("lateral top-k decorrelates to a window, not a per-row rescan") {
    val p = plan(Relational.q45_lateral(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"lateral subquery must not plan as a cross/nested-loop join:\n$p")
    assert("\\(\\d+\\) Window".r.findFirstIn(p).isDefined,
      s"expected ORDER BY/LIMIT lateral to become a ranked window:\n$p")
  }

  test("packing cumulative sum is sharded, never a single global order") {
    val p = plan(graft.operators.Curation.packing(spark, dir))
    assert(p.contains("hashpartitioning(source"),
      s"packing window must partition by shard (source):\n$p")
  }

  test("null-safe equality plans as a hash join, not a nested loop") {
    val p = plan(Relational.q47_null_safe(spark, dir))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"<=> is an equi-key and must hash-join:\n$p")
  }

  test("histogram quantiles shuffle bounded bucket counts, agg partially") {
    val p = plan(graft.operators.Sketches.histogramQuantiles(spark, dir))
    assert(hashExchanges(p) <= 2,
      s"expected (flag,bucket) agg + per-flag window only:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined ||
      "Functions \\[partial".r.findFirstIn(p).isDefined,
      s"bucket counts must combine map-side before the shuffle:\n$p")
  }

  test("pq encoding is a narrow projection — no hash shuffle at all") {
    val p = plan(graft.operators.Similarity.pqCodes(spark, dir))
    assert(hashExchanges(p) == 0,
      s"pq encode must not shuffle (per-row compress only):\n$p")
  }

  test("pq-adc search broadcasts queries; corpus carries only codes") {
    val p = plan(graft.operators.Similarity.annPqTopK(spark, dir))
    assert(p.contains("BroadcastExchange"),
      s"query side must broadcast (corpus must not shuffle to join):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"broadcast NLJ on the tiny query side expected, not a cartesian:\n$p")
  }

  test("salted join shuffles on (key, salt) so no reducer owns a hot key") {
    // at sf0.001 the dimension auto-broadcasts and nothing shuffles
    // (salting is then a no-op by construction); force the shuffled
    // path the salt exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Relational.q49_skew_salted(spark, dir))
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"salted join must stay an equi hash join:\n$p")
      // the join exchange must partition by the composite (key, salt)
      assert(raw"hashpartitioning\((o_custkey|c_custkey)#\d+L?, __salt"
        .r.findFirstIn(p).isDefined,
        s"join shuffle must include __salt in its partitioning key:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ivf-pq routes by coarse cell and broadcasts the probe side") {
    val p = plan(graft.operators.Similarity.annIvfPqTopK(spark, dir))
    assert(p.contains("BroadcastExchange"),
      s"probe side must broadcast (corpus must not shuffle to join):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bucket equi-join expected, not a cartesian:\n$p")
  }

  test("anomaly detection costs exactly one hash shuffle (user_id)") {
    val p = plan(graft.operators.TimeSeries.anomalies(spark, dir))
    assert(hashExchanges(p) == 1,
      s"trailing-window anomalies must shuffle once on user_id:\n$p")
  }

  test("inverted index ranks postings before any list materializes") {
    val p = plan(graft.operators.TextAnalysis.invertedIndex(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"df/heads join must be an equi join on term:\n$p")
    // collect_list may only aggregate rows that survived the rank
    // filter (rn <= 5): the Window node must sit BELOW the list
    // aggregate. FormattedMode numbers nodes leaf-first, so "below"
    // means the Window's node number is smaller than every
    // collect_list aggregate's.
    val winNum = raw"\((\d+)\) Window".r.findFirstMatchIn(p)
      .map(_.group(1).toInt)
    val aggNums = raw"\((\d+)\) ObjectHashAggregate".r.findAllMatchIn(p)
      .map(_.group(1).toInt).toSeq
    assert(winNum.isDefined && aggNums.nonEmpty,
      s"expected both a window rank and a list aggregate:\n$p")
    assert(winNum.get < aggNums.min,
      s"the rank window must run before the posting-list aggregate " +
        s"(win=${winNum.get}, aggs=$aggNums):\n$p")
  }

  test("i07 broadcasts only the pruned probe-term roster") {
    // round-8 regression target: the candidate semi-join broadcast the
    // UN-pruned probe-term set — corpus-proportional (Heaps-bounded
    // but uncapped) and the sf1 census's most expensive query. The
    // fix derives df from the corpus-level (term, df) aggregate
    // (i01's shape) and cuts each probe to its rarest
    // MoreLikeThisMaxQueryTerms terms BEFORE anything is broadcast.
    // Pin both halves: the roster semi-join stays an explicit
    // broadcast, and the roster is executably query-budget-bounded.
    val ta = graft.operators.TextAnalysis
    val p = plan(ta.moreLikeThis(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"pruned-roster semi-join lost its broadcast:\n$p")
    import org.apache.spark.sql.functions.{count, countDistinct, lit}
    val r = ta.moreLikeThisSelection(spark, dir)
      .agg(countDistinct("probe_id").as("probes"),
        countDistinct("term").as("roster"),
        count(lit(1)).as("rows")).collect()(0)
    val (probes, roster, rows) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(probes > 0, "probe roster is empty — the pin checks nothing")
    assert(roster <= probes * ta.MoreLikeThisMaxQueryTerms,
      s"broadcast roster $roster outgrew |probes|·max_query_terms " +
        s"(${probes * ta.MoreLikeThisMaxQueryTerms})")
    assert(rows <= probes * ta.MoreLikeThisMaxQueryTerms,
      s"selection carries $rows rows past the per-probe term budget")
  }

  test("s08 shortlists are distributed TakeOrdered, not global sorts") {
    // the hybrid fusion's scale contract: each retrieval side reduces
    // the corpus via per-partition top-N (TakeOrderedAndProject, P·N
    // rows to the driver-side merge) — a global Sort before the limit
    // would serialize the corpus at 100 TB. Window rank assignment is
    // allowed only AFTER the shortlist cut (over ≤100 rows).
    val p = plan(graft.operators.Similarity.hybridTopK(spark, dir))
    val takeOrdered = p.linesIterator
      .count(l => l.contains("TakeOrderedAndProject"))
    assert(takeOrdered >= 2,
      s"expected both shortlist cuts as TakeOrderedAndProject:\n$p")
  }

  test("nested-loop inventory: d05 is the only corpus-scale non-equi join") {
    // Sweep EVERY gated query's physical plan. A BroadcastNestedLoopJoin
    // is only ever acceptable when one side is provably tiny:
    //   - a 1-row data-derived scalar (crossJoin(broadcast(aggRow)))
    //   - the broadcast ≤10-row ANN query side (s01/s06 =!= joins)
    //   - d05's documented O(n²) exact baseline, now guarded by
    //     Similarity.MaxBruteForceVectors
    // Anything outside this allowlist is a corpus-scale nested loop —
    // a 100 TB regression this inventory exists to catch. A raw
    // CartesianProduct is never acceptable.
    val nljAllowed = Set(
      "d05_embedding_neardup", // guarded exact baseline (corpus²)
      "s01_ann_topk", "s06_pq_adc", // broadcast ≤10-row query side
      "s28_mmr_rerank", // s01's broadcast ≤10-row query-side scorer
      "x28_bpe_packing", // t34's 1-row merge-table crossJoin
      "s14_ann_recall", // composes s01's broadcast ≤10-row query side
      "s18_ivf_pq_recall", // same: s01 ground truth inside the sweep
      "x14_temperature_sample", // 1-row (N, Σw) totals scalar crossJoin
      "z02_pruning_report", // 1-row min-hour + max-key scalar crossJoins
      "s08_hybrid_rrf", // broadcast 1-row query-vector crossJoin
      "i02_phrase_search", // broadcast 1-row phrase crossJoin
      "i04_proximity_search", // same 1-row phrase crossJoin as i02
      "x11_mixture_sample", // 1-row data-derived quota scalar
      "t05_kmv_distinct", // 1-row exact-count scalar crossJoin
      "t29_zipf_octaves", // ≤64·ZipfRankSubBuckets-row rank-bucket
                          // offset self-join — bounded by construction
                          // (deterministic octave×sub buckets), never
                          // corpus-proportional; the dedicated t29 pin
                          // asserts the census bound executably
      "x04_packing", // 1-row data-derived bucket-width scalar (the
                     // round-15 BucketedWindow prefix sum) — x28's
                     // sibling
      "x08_upsert", "x09_scd2", // 1-row watermark-cutoff scalar
      "z01_zorder", // 1-row min-hour scalar
      "q20_scalar_subquery", "q43_cte", // 1-row aggregate scalar compare
      "q40_range_join", // broadcast static band dim, range condition
      "x10_serving_card", // 1-row card-stats scalar
      "i03_bm25", // 1-row corpus-stats (N, L) scalar crossJoin
      "t22_collocations", // 1-row bigram-total scalar crossJoin
      "z03_bloom_report", // 1-row max-member + card-stats scalar crossJoins
      "t27_keywords", // 1-row corpus-size (N_docs) scalar crossJoin
      "d15_cosine_pairs", // 1-row corpus-size scalar in the df-cap rule
      "d16_cosine_prefix", // same 1-row corpus-size scalar as d15
      "x23_embargo_split", // 1-row span-bounds (cutoff, gap) scalar
      "i06_query_expansion", // 1-row corpus-size (n_docs) scalar
      "i07_more_like_this", // 1-row corpus-size (nn) scalar crossJoin
      "s20_sq8_recall", // 1-row quantizer state + ≤10-row query side
      "s21_matryoshka_recall", // s01 ground truth + ≤10-row query side
      "x25_epoch_allocation", // 1-row corpus-totals scalar crossJoin
      "x30_shard_manifest", // 1-row total-tokens scalar crossJoin
      "s22_pagerank", // 1-row corpus-size scalar per iteration
      "i09_diversified_search", // i03's 1-row corpus-stats scalar
      "z04_clustering_depth", // static 16-probe grid × file METADATA rows
      "i11_hard_negatives", // 1-row query vector + i03's stats scalar
      "t33_source_drift", // |sources| × broadcast top-V (≤200-row) grid
                          // + 1-row corpus-total scalar — both bounded
      "s26_kmeans_lloyd", // 1-row centroid-ARRAY scalar per round (the
                          // round-13 map-side argmin; the gated plan is
                          // a checkpoint scan — shape pinned on the
                          // lloyd_state memo's lazyBuild below)
      "s27_kmeans_quality", // same 1-row centroid array (shared memo)
      "d21_semantic_dedup", // same 1-row Lloyd centroid array + the
                            // 1-row chunk-cap guard scalar; the pair
                            // stage is an equi-join on (bucket, chunk),
                            // never a nested loop
      "i12_rocchio_feedback", // i03's 1-row corpus-stats scalar, both rounds
      "i13_retrieval_eval", // i03's 1-row corpus-stats scalar
      "i14_index_pruning", // same 1-row corpus-stats scalar as i03
      "t34_bpe_tokenize", // 1-row ≤32-struct merge-table crossJoin per round
      "x26_pretrain_card", // composes x25's + t33's 1-row totals scalars
      "s29_source_embedding_drift", // 1-row corpus-centroid-norm scalar
      "x32_final_assembly", // t34's 1-row merge-table crossJoins + the
                           // 1-row total-mass scalar (x30's idiom)
      "t36_classifier_train", // 1-row label-guard scalar crossJoin
      "t37_classifier_eval", // the same 1-row label-guard scalar
      "x33_assembly_trained" // x32's scalars under the trained filter
    )
    // Broadcast-HINT inventory (swept in the same loop so the census
    // walk is paid once): an unconditional broadcast() hint is only
    // ever acceptable on a frame BOUNDED by construction — a 1-row
    // data-derived scalar, a K-row/top-K cut, a vocab- or query-
    // budget-capped roster, or d11's increment-bounded batch side.
    // A hint on a corpus-PROPORTIONAL frame (round 9's d17 confirmed-
    // pair set, x15's 10%-of-corpus test split) turns a green query
    // into a driver OOM at 100×; those hints are gone and this sweep
    // keeps the invariant: any NEW hint must be enrolled here with its
    // bound, or the test fails. AQE-chosen broadcasts (no hint in the
    // analyzed plan) are exempt by construction — they degrade to a
    // shuffle when the runtime size outgrows the threshold.
    val hintAllowed: Set[String] = Set(
      // 1-row data-derived scalars (aggregate totals / cutoffs /
      // query vectors / quantizer state) crossJoined back over a scan
      "i03_bm25", "i06_query_expansion", "q20_scalar_subquery",
      "s08_hybrid_rrf", "s20_sq8_recall", "s22_pagerank",
      "t22_collocations", "t27_keywords", "x08_upsert",
      "x10_serving_card", "x11_mixture_sample", "x14_temperature_sample",
      "x23_embargo_split", "x25_epoch_allocation", "x30_shard_manifest",
      "z01_zorder",
      "x04_packing", // 1-row bucket-width scalar + the ≤4096-row-per-
                     // source BucketedWindow offset histogram (both
                     // construction-bounded; round 15). x11/x26/x28
                     // gained the same offset-histogram hint and were
                     // already enrolled for their other bounded sides.
      "z02_pruning_report", "z03_bloom_report", "i02_phrase_search",
      "i04_proximity_search", "i09_diversified_search", "t33_source_drift",
      "x26_pretrain_card", // composes x25's 1-row + t33's top-V hints
      "i12_rocchio_feedback", // + R-doc/E-term capped rosters
      "d15_cosine_pairs", "d16_cosine_prefix", // 1-row n + permille-cap
                          // stop list (≤ avg_len·1000/permille terms —
                          // corpus-INDEPENDENT, unlike d02's absolute cap)
      // fixed-cardinality dimension sides (TPC-H nation/region/part
      // dims; q09 IS the MAPJOIN semantic under test)
      "q09_join_broadcast", "q26_star_join", "q27_sql25_analog",
      "q40_range_join", // static band dimension
      // ≤10-row ANN query sides / K-row centroid or probe grids
      "s01_ann_topk", "s28_mmr_rerank", "s06_pq_adc", "s07_ivf_pq", "s14_ann_recall",
      "s18_ivf_pq_recall", "s19_filtered_ann", "s21_matryoshka_recall",
      "s26_kmeans_lloyd", "s27_kmeans_quality", "z04_clustering_depth",
      "d21_semantic_dedup", // s26's 1-row centroid-array hint + the
                            // 1-row chunk-cap guard scalar; the
                            // corpus-scale frames (assignment, pairs)
                            // carry NO hint — AQE decides
      "s30_residual_pq", // K-row (16) IVF cell-centroid side

      "s29_source_embedding_drift", // 1-row corpus-centroid-norm scalar
      // (the member→centroid dispersion join carries NO hint — source
      // cardinality grows with the corpus, AQE decides)
      // top-K / limit cuts (bounded by the literal K)
      "d14_hot_ngrams", "t24_vocab_coverage",
      "t29_zipf_octaves", // ≤64·ZipfRankSubBuckets-row bucket-offset
                          // and bucket-total sides — construction-
                          // bounded, corpus-independent
      "t34_bpe_tokenize", // 1-row collect_list of the ≤32-pair merge table
      "x28_bpe_packing", // composes t34's 1-row merge-table hint
      "t36_classifier_train", // ≤ClsBuckets+1-row weight state per
                              // round + the ≤2·ClsHardK-row hard-
                              // example selection + the 1-row label
                              // guard (bounded BY CONSTRUCTION — the
                              // s26 K-row-centroid broadcast class)
      "t37_classifier_eval", // the same bounded sides as t36 (split
                             // model) + the final scoring pass
      "x33_assembly_trained", // the ClsBuckets+1-row trained-weight
                              // artifact + x32's bounded sides
      "x32_final_assembly", // t34's merge-table hint + the 1-row
                            // total-mass scalar; the kept-stream nsym
                            // join and the span/keep joins carry NO
                            // hint (corpus-proportional — AQE decides)
      // fixed probe lists (literal query workloads)
      "i10_fuzzy_match", "i11_hard_negatives",
      "i13_retrieval_eval", // ≤8-row truth/df rosters + 1-row stats,
                            // all bounded by the literal probe list
      "i14_index_pruning", // ≤7-row df roster + 1-row stats (i03's
                           // shapes); the postings frame and its
                           // top-P window carry NO hint
      // increment-bounded batch side — THE documented d11 exception
      "d11_dedup_incremental",
      // ClsBuckets-row (4096) model-weight artifact — bounded by
      // construction, independent of corpus size (x27 composes t35)
      "t35_classifier_score", "x27_filter_funnel",
      // query-workload-bounded pruned roster (the round-8 adjudicated
      // fix; the dedicated i07 pin asserts the per-probe term budget)
      "i07_more_like_this")
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val hintOffenders = scala.collection.mutable.ListBuffer[String]()
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = q(spark, dir)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — never acceptable:\n$p")
      if (p.contains("BroadcastNestedLoopJoin") && !nljAllowed(name))
        offenders += name
      val hints = df.queryExecution.analyzed.collectWithSubqueries {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }
      if (hints.nonEmpty && !hintAllowed(name)) hintOffenders += name
    }
    assert(offenders.isEmpty,
      s"unexpected nested-loop joins in: ${offenders.mkString(", ")}")
    assert(hintOffenders.isEmpty,
      s"un-enrolled broadcast hints in: ${hintOffenders.mkString(", ")} — " +
        "enroll in hintAllowed ONLY if the hinted frame is bounded by " +
        "construction (1-row scalar / K-row cut / capped roster / " +
        "increment), never if it grows with the corpus")
  }

  test("contamination join shuffles shingle hashes, not document text") {
    val p = plan(graft.operators.Curation.contamination(spark, dir))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"contamination must be a hash join on shingle hashes:\n$p")
    // No HASH exchange (join/agg shuffle) may carry the raw text
    // column — only shingle-hash longs. FormattedMode puts an
    // exchange's columns on the "Input [n]: [...]" line of its detail
    // block, so match the block, not the header line. (The one
    // roundrobin exchange is fanOut spreading the single-file scan
    // for per-row hashing; it exists only at toy scale.)
    val hashExchangeInputs =
      raw"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning"
        .r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashExchangeInputs.nonEmpty,
      s"expected hash exchanges in the contamination plan:\n$p")
    hashExchangeInputs.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text must never shuffle through a join: [$cols]")
    }
  }

  private def hashExchangeCols(p: String): Seq[String] =
    raw"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning"
      .r.findAllMatchIn(p).map(_.group(1)).toSeq

  test("t31/t32 source-overlap pair shuffles hashes only, never text") {
    // the d02 posture extended to the source level: every hash
    // exchange in both plans carries (source, hash/sig component)
    // longs — a text column appearing in a shuffle would make the
    // pair stage corpus-bandwidth-bound at 100 TB
    for ((name, q) <- Seq(
        "t31" -> graft.operators.TextAnalysis.sourceSimilarity _,
        "t32" -> graft.operators.TextAnalysis.sourceSimilaritySketch _)) {
      val p = plan(q(spark, dir))
      val cols = hashExchangeCols(p)
      assert(cols.nonEmpty, s"$name: expected hash exchanges in:\n$p")
      cols.foreach(c => assert(!c.contains("text"),
        s"$name shuffles document text: [$c]"))
    }
  }

  test("t32 sketch reduce combines map-side before the shuffle") {
    // mergeability only pays if the |docs|·k explode is partially
    // aggregated per input partition: the plan must show the
    // partial/final HashAggregate pair around the (source, i) min
    val p = plan(
      graft.operators.TextAnalysis.sourceSimilaritySketch(spark, dir))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2,
      s"expected partial+final aggregate pair in the sketch reduce:\n$p")
  }

  test("d19 shuffles window hashes only — never text, never pairwise") {
    // the exact-substring chain's scale contract: the stride-1 explode
    // reduces to (doc_id, pos, h) longs BEFORE any exchange; a text
    // column in a shuffle would be corpus-bandwidth-bound, and any
    // pair join would make duplication density quadratic
    // the gated d19 entry reads the span memo's checkpoint scan, so
    // the shuffle contract is pinned on the memo's lazyBuild
    val p = memoPlan(graft.operators.Dedup.substringSpansMemo)(identity)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"d19 must stay hash-keyed:\n$p")
    val cols = hashExchangeCols(p)
    assert(cols.nonEmpty, s"expected hash exchanges in the d19 plan:\n$p")
    cols.foreach(c => assert(!c.contains("text"),
      s"d19 shuffles document text: [$c]"))
  }

  test("Lloyd assignment is a map-side argmin — no window, no n·K frame") {
    // the round-12 verdict's one 100-TB killer: the assignment stage
    // crossJoined the K-ROW centroid frame (n·K rows) and picked the
    // argmin with row_number over partitionBy(vec_id) — an exchange +
    // sort of n·K rows per Lloyd round (n²/256 under the data-derived
    // K). The fix folds the argmin per vector over a 1-row bucket-
    // sorted centroid ARRAY: one output row per vector, no Window,
    // no vec_id exchange. The gated s26/s27/d21 entries ride the
    // build-once memo (checkpoint scan), so the shape is pinned on
    // the memo's lazyBuild, as for d19.
    val p = memoPlan(graft.operators.Similarity.lloydStateMemo)(_._2)
    assert(!raw"\(\d+\) Window".r.findFirstIn(p).isDefined,
      s"Lloyd assignment regressed to a window argmin:\n$p")
    // the only exchanges the loop may plan are the (bucket, dim)
    // M-step partial aggregate and the centroid collapse — never a
    // vec_id-keyed exchange (that IS the n·K shuffle)
    hashExchangeCols(p).foreach(c => assert(!c.contains("vec_id"),
      s"Lloyd loop shuffles on vec_id — the n·K frame is back: [$c]"))
  }

  test("t29 ranks the vocabulary without any unpartitioned window") {
    // the round-13 verdict's one weak: t29 ranked the FULL vocabulary
    // through one global row_number window — a single-reducer sort of
    // 10⁸–10⁹ (term, freq) rows at web-corpus scale (Heaps' law). The
    // rework never ranks a term: the corpus collapses to the
    // distinct-frequency census, each frequency group's rank interval
    // comes from a two-level prefix sum over deterministic
    // (octave × sub) buckets, and octave membership is interval
    // arithmetic. Pin both halves: ZERO unpartitioned Window
    // operators anywhere in the plan (the in-bucket prefix sum
    // partitions by pid), and the bucket census executably inside its
    // corpus-independent 64·ZipfRankSubBuckets construction bound.
    val ta = graft.operators.TextAnalysis
    val df = ta.zipfOctaves(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the in-bucket prefix-sum window")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"t29 regressed to an unpartitioned (single-reducer) window:\n$w"))
    val pids = ta.zipfFreqGroups(spark, dir).select("pid").distinct().count()
    assert(pids > 0 && pids <= 64L * ta.ZipfRankSubBuckets,
      s"t29 bucket census $pids outside (0, 64·${ta.ZipfRankSubBuckets}]")
  }

  test("i14 prunes the index without any per-term contribution rank") {
    // the round-14 verdict's one contract gap: i14's per-term top-P
    // cut was a row_number window partitioned by term and ORDERED BY
    // THE CONTRIBUTION — the partition is a whole posting list, so a
    // stop term's Θ(corpus) df meant one task sorting one 100-TB
    // posting list (survivable only by the refusal guard). The
    // round-15 rework finds the exact threshold value by a 7-level
    // radix walk over per-term histograms (driver-side since round
    // 16); the only windows left order by doc_id over the
    // guard-capped threshold tie set or rank the ≤k-row report. Pin
    // it structurally: no Window in the plan may SORT on the
    // contribution.
    val df = graft.operators.TextAnalysis.indexPruning(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the tie-set and report-rank windows")
    wins.foreach(w => assert(
      !w.orderSpec.exists(_.child.references.exists(
        _.name == "contrib_e6")),
      s"i14 regressed to a per-term contribution rank window:\n$w"))
  }

  test("x04/x11/x26/x28 never window a whole source in one task") {
    // round 15's generalization of the t29/i14 single-reducer kill: a
    // Window partitioned ONLY by source holds a Θ(corpus)-row
    // partition (sources are few). After the BucketedWindow rework,
    // the only legal per-source-ONLY windows run over AGGREGATED
    // frames (the ≤4096-row bucket histograms, the value-domain
    // novelty census, the |sources|²-row overlap table) — pin that
    // structurally: every single-column `source` window partition
    // must sit above an Aggregate, never directly on document rows.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    for (q <- Seq("x04_packing", "x11_mixture_sample",
        "x26_pretrain_card", "x28_bpe_packing")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val wins = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case w: LW => w
      }
      wins.foreach { w =>
        val srcOnly = w.partitionSpec.size == 1 &&
          w.partitionSpec.head.references.exists(_.name == "source")
        if (srcOnly)
          assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
            s"$q windows a whole source over raw rows:\n$w")
      }
    }
  }

  test("per-query ANN rank cuts keep their partial WindowGroupLimit") {
    // the round-15 verdict's one unpinned scale dependency: the
    // per-query rank family (s01 and every consumer that windows
    // corpus-scored rows by query_id) is scale-safe ONLY because
    // Spark's InferWindowGroupLimit inserts a PARTIAL WindowGroupLimit
    // below the exchange — each map task keeps its own top-k before
    // anything shuffles, so no task ever sorts corpus-scale scored
    // rows even though |query_id| groups is ≤10. Nothing pinned that:
    // a filter moved off the rank column, a rank k above
    // spark.sql.optimizer.windowGroupLimitThreshold, or a rule change
    // would silently revert the family to ≤10 tasks each sorting a
    // corpus shard. This census sweep makes the reversion a test
    // failure: EVERY rank window partitioned by query_id, in every
    // gated plan, must carry a Partial-mode WindowGroupLimitExec
    // below it.
    //
    // Scope note (round-16 full-census probe): the per-ENTITY rank
    // windows (s25 per-vec_id argmax, d16 per-doc_id, i01 per-term,
    // i05/i07/i10/t12/t27/q45) also get the group limit today, but
    // their groups are many and small — losing it there is a perf
    // nick, not the ≤10-task corpus-sort cliff this pin guards. The
    // rank windows WITHOUT a group limit are all construction-
    // bounded: i14's tie window (rank ≤ a COLUMN bound — the rule
    // can't fire; the tie set is guard-capped instead), the ≤k-row
    // post-shortlist rank assignments (s08/i03/i11/i12/t15,
    // unpartitioned over ≤100 rows), and BucketedWindow's in-bucket
    // windows (rank ≤ quota column; one bucket per task by
    // construction).
    import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
    def familyWindows(df: DataFrame): Seq[(Boolean, String)] =
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec
            if w.partitionSpec.exists(_.references.exists(_.name == "query_id")) &&
              w.windowExpression.exists(_.toString.contains("row_number")) =>
          (w.collectFirst {
            case g: WindowGroupLimitExec if g.mode == Partial => g
          }.isDefined, w.simpleString(200))
      }
    def offendingWindows(df: DataFrame): Seq[String] =
      familyWindows(df).collect { case (false, w) => w }
    val family = (for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1))
      yield familyWindows(q(spark, dir)).map(name -> _)).flatten
    val offenders = family.collect { case (n, (false, w)) => (n, w) }
    assert(offenders.isEmpty,
      s"per-query rank windows without a partial group limit:\n" +
        offenders.map { case (n, w) => s"  $n: $w" }.mkString("\n"))
    // the sweep must actually SEE the family (s01 + its consumers) —
    // an empty census would mean the detector's shape test rotted,
    // not that the engine got safer
    assert(family.map(_._1).distinct.size >= 8,
      s"query_id rank-window census shrank to ${family.map(_._1).distinct}")
    // the k constants the family filters on must stay under the
    // engine threshold the optimization gates on — a bump past it
    // silently disables the rule for every consumer of the constant
    val thr = spark.sessionState.conf.windowGroupLimitThreshold
    assert(graft.operators.Similarity.MmrShortlist < thr,
      "MmrShortlist crossed windowGroupLimitThreshold — the s28 " +
        "shortlist window loses its map-side group limit")
    // ...and the detector itself must catch a deliberately broken
    // shape: the same window with the filter moved OFF the rank
    // column gets no group limit and must be reported
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val e = spark.range(100).selectExpr("id as neighbor_id",
      "cast(id % 7 as double) as cs", "id % 5 as query_id")
    val broken = e.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cs").desc, col("neighbor_id"))))
      .filter(col("cs") > 0.5) // not a rank bound — rule can't fire
    assert(offendingWindows(broken).nonEmpty,
      "detector no longer catches a rank window without a group limit")
  }

  test("t34 rewrites stay narrow: no shuffle carries symbol arrays") {
    // the BPE apply pass is a per-row fold over the vocabulary; only
    // (word, count) aggregations and the final doc_id re-aggregate may
    // shuffle — a syms array in an exchange means the rewrite stopped
    // being narrow
    val p = plan(graft.operators.Curation.bpeTokenize(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"t34 must not plan a cartesian:\n$p")
    hashExchangeCols(p).foreach(c => assert(!c.contains("syms"),
      s"t34 shuffles a symbol array: [$c]"))
  }

  test("s25 LPA rounds stay equi-join + window — no label-frame blowup") {
    // each synchronous round is one equi-join of the n·k edge list
    // against the n-row label frame; a nested-loop or cartesian here
    // would be quadratic per ROUND. (The census-wide inventory also
    // sweeps this; the dedicated pin keeps the failure local.)
    val p = plan(
      graft.operators.Similarity.labelPropagation(spark, dir))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"LPA round joined non-equi:\n$p")
    // LpaIters windows: one per-vertex argmax per round, plus the
    // final community-size window
    val windows = raw"\(\d+\) Window\n".r.findAllIn(p).size
    assert(windows >= graft.operators.Similarity.LpaIters,
      s"expected a per-round window argmax, found $windows in:\n$p")
  }
}
