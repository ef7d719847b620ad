package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}
import graft.operators.TextHash._

/** Deduplication operators over the `documents` table — the core of an
  * LLM-training-data pipeline (exact, MinHash+LSH, SimHash, n-gram
  * Jaccard; embedding near-dup lives in [[Similarity]]).
  *
  * Scale design (100 TB): every variant reduces documents to compact
  * integer keys/signatures *before* any shuffle, and candidate
  * generation always goes through an equi-join on a bucket key (LSH
  * band, SimHash band, shingle hash) — never an O(n²) cross join. The
  * only exact-pairwise step runs on LSH candidates, whose cardinality
  * is near-linear in n for any realistic near-dup density.
  *
  * All checked outputs are integers (counts, ids) so the DuckDB oracle
  * matches bit-for-bit.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** Exact dedup: hash-groupBy on md5 of normalized text; keeps the
    * smallest doc_id of each duplicate class. Shuffles 16-byte digests,
    * not document bodies. */
  def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(lower(col("text"))).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  /** Exact n-gram Jaccard near-dup pairs (word 5-gram shingles,
    * J ≥ 0.5), via an inverted-index self-join on shingle *hashes*:
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Output is integer
    * (common, union_sz) — the threshold test 2·common ≥ union is
    * float-free.
    *
    * `maxShingleDf`: the 100 TB guard. A shingle shared by d docs
    * contributes d² join rows, so one boilerplate phrase ("all rights
    * reserved …") makes the self-join quadratic; capping shingle
    * document frequency drops those stop-shingles from CANDIDATE
    * GENERATION only (intersection counts shrink by high-df shingles
    * on both sides — a slight recall, never precision, trade;
    * JaccardCapSpec pins the containment).
    *
    * The DRIVER-GATED configuration is `Some(JaccardDfCap)`: the
    * scale-safe capped path is what the correctness gate exercises
    * (the oracle applies the identical QUALIFY df cap). The cap (64)
    * is ~16× the max observed shingle df at the gate SFs (3–4 at
    * sf0.001/0.01/0.1), so it never binds on checked data — the gate
    * proves the capped plan computes exact Jaccard whenever no
    * shingle is a stop-shingle, while the plan itself survives a
    * boilerplate-heavy corpus. */
  val JaccardDfCap = 64L

  /** Distinct (doc_id, shingle-hash) postings + per-doc sizes, shared
    * by the symmetric (d02) and asymmetric (d12) shingle-overlap
    * dedups so the df-cap rule cannot drift between them.
    *
    * The signature frame feeds 4 plan branches (both join sides, both
    * size lookups); without persist each branch re-reads + re-hashes
    * the corpus (no exchange reuse across differing projections). At
    * 100 TB this is the "materialize signatures" pipeline stage.
    * Returns (postings, sizes). */
  private def shinglePostings(s: SparkSession, dir: String,
      maxShingleDf: Option[Long]): (DataFrame, DataFrame) = {
    // memoized checkpoint — already materialized, no persist needed
    val sh = shingleHashesMemo(s, dir)
    val ex = maxShingleDf match {
      case None =>
        sh.select(col("doc_id"), explode(col("hv")).as("h")).distinct()
      case Some(cap) =>
        // the exploded postings feed three consumers here (df count +
        // both self-join sides); persist them so the cap costs one
        // partial-aggregated count + an anti-join against the stop-
        // shingle list, not a re-explode per branch. The stop list is
        // usually tiny but its worst case is postings/cap — corpus-
        // proportional — so it carries no broadcast hint: AQE
        // broadcasts it while small (it is, at every gate SF) and
        // degrades to a shuffle anti-join on a boilerplate-heavy
        // corpus instead of failing the driver.
        val exAll = sh.select(col("doc_id"), explode(col("hv")).as("h"))
          .distinct().transform(Caches.persist)
        val stop = exAll.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("h")
        exAll.join(stop, Seq("h"), "left_anti")
    }
    (ex, sh.select(col("doc_id"), col("n_sh")))
  }

  /** Pairwise shared-shingle counts from a postings frame: (ida < idb,
    * common). The equi-join on the 8-byte shingle hash is the only
    * corpus-scale shuffle in both overlap dedups. */
  private def commonCounts(ex: DataFrame): DataFrame =
    ex.as("a")
      .join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("common"))

  def jaccardPairs(s: SparkSession, dir: String,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val (ex, sizes) = shinglePostings(s, dir, maxShingleDf)
    commonCounts(ex)
      .join(sizes.as("sa"), col("ida") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("idb") === col("sb.doc_id"))
      .select(col("ida"), col("idb"), col("common"),
        (col("sa.n_sh") + col("sb.n_sh") - col("common")).as("union_sz"))
      .filter(col("common") * 2 >= col("union_sz"))
      .orderBy("ida", "idb")
  }

  /** d15's vector-space constants: terms appearing in more than
    * [[CosineDfPermille]]‰ of the corpus are pruned from the
    * bag-of-words space (the sparse analogue of d02's stop-shingle
    * cap — it bounds posting-list fanout AND removes the function
    * words that would otherwise dominate every dot product). The cap
    * is RELATIVE, unlike d02's absolute one, because word df grows
    * with the corpus while shingle df stays flat: an absolute word
    * cap that keeps topic terms at one scale prunes the entire
    * vocabulary at 10× (measured: the df ≤ 64 variant emits 300
    * pairs at sf0.01 and zero at sf0.1). Pairs scoring below
    * [[CosineThresholdE6]]/1e6 are dropped. */
  val CosineDfPermille = 100L
  val CosineThresholdE6 = 800000L

  /** The df-capped term-count vectors of `base` documents, shared by
    * d15/d16 (persisted). */
  private def termVectors(base: DataFrame): DataFrame = {
    val tc0 = base
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .transform(Caches.persist) // feeds the df count + the capped frame
    val nd = tc0.agg(countDistinct(col("doc_id")).as("n_docs"))
    val stop = tc0.groupBy("w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") * 1000L > lit(CosineDfPermille) * col("n_docs"))
      .select("w")
    tc0.join(broadcast(stop), Seq("w"), "left_anti")
      .transform(Caches.persist) // feeds norms + postings-join sides
  }

  /** Norm-join + fixed float expression tree + threshold, shared by
    * d15/d16 so the score can't drift between the exact and
    * prefix-filtered paths. */
  private def scoreCosine(dots: DataFrame, tc: DataFrame): DataFrame = {
    val norms = tc.groupBy("doc_id").agg(sum(col("c") * col("c")).as("n2"))
    dots
      .join(norms.as("na"), col("ida") === col("na.doc_id"))
      .join(norms.as("nb"), col("idb") === col("nb.doc_id"))
      .select(col("ida"), col("idb"), col("dot"),
        floor(col("dot").cast("double") * 1000000.0 /
          (sqrt(col("na.n2").cast("double")) *
            sqrt(col("nb.n2").cast("double")))).cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= CosineThresholdE6)
      .orderBy("ida", "idb")
  }

  /** d15's corpus guard, d05's treatment applied to the sparse
    * modality: the relative df cap keeps d15's SEMANTICS stable
    * across scales but admits postings up to 0.1·N, so the join
    * fanout grows ~quadratically — measured: seconds at 5,000 docs
    * (sf0.1), >25 min and unfinished at 50,000 (the sf1-equivalent).
    * Above this bound the exhaustive plan is refused outright;
    * [[cosinePairsPrefix]] is the same-contract scale path. */
  val MaxExhaustiveCosineDocs = 10000L

  /** d15: sparse bag-of-words cosine near-dup — the TF-vector
    * similarity between d02's set-overlap (ignores counts entirely)
    * and d05/d08's dense-embedding cosine (needs an embedder): two
    * documents are near-dups when their pruned term-count vectors
    * point the same way. cos = Σ cₐc_b / (‖a‖·‖b‖) with integer dot
    * and sum-of-squares; the only floating math is two
    * correctly-rounded sqrts, one multiply, one divide — the same
    * fixed expression tree both engines evaluate, so the e6 floor is
    * engine-exact.
    *
    * Scale shape: identical to d02 — signatures (term counts) built
    * once and persisted, a broadcast anti-join applies the df cap,
    * and the single corpus-scale shuffle is the postings equi-join on
    * the term, whose fanout the cap bounds by df² per term. The
    * corpus size enters the cap as a 1-row broadcast scalar.
    *
    * Fanout honesty: a RELATIVE cap admits postings up to 0.1·N, so
    * worst-case join fanout grows with N² on a corpus whose
    * mid-frequency band thickens (measured growth here is ×100 pairs
    * for ×10 docs at the 0.8 threshold — the extra pairs are real
    * near-dups the tighter absolute cap was missing, not noise). A
    * production deployment layers prefix filtering (only a vector's
    * rarest-k terms generate candidates; the full dot still scores
    * them) on this exact plan to pull the candidate volume back to
    * near-linear. */
  def cosinePairs(s: SparkSession, dir: String,
      maxDocs: Long = MaxExhaustiveCosineDocs): DataFrame = {
    val n = Tables.t(s, dir, "documents").count() // parquet metadata count
    require(n <= maxDocs,
      s"cosinePairs is the exhaustive all-pairs baseline and is capped " +
        s"at $maxDocs documents (corpus has $n); use cosinePairsPrefix " +
        "at scale")
    val tc = termVectors(docs(s, dir))
    val dots = tc.as("a")
      .join(tc.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    scoreCosine(dots, tc)
  }

  /** The gated d15 shape: [[cosinePairs]]'s exhaustive semantics over
    * a deterministic 1-in-k doc_id stride sample, k = ⌈N/bound⌉ — the
    * whole corpus at every driver SF (k = 1 below `bound` docs), a
    * bounded-size eval slice beyond it. This is the standard
    * recall-baseline pattern at scale: an exhaustive answer over a
    * sample the quadratic can afford, with the sample treated AS the
    * corpus (the df cap is relative to the sample) so the operator is
    * self-consistent at any N. Round-8 sf1 measurement that forced
    * this shape: the FULL exhaustive census at 50k docs is 4.7M pairs
    * (the global-relative df cap stops capping per-shard stopwords
    * once the corpus is a union of decorrelated shards — each shard's
    * stopwords sit at df ≈ shard size ≪ 0.1·N), so "fall back to the
    * capped prefix path" silently changes the answer while a sampled
    * exhaustive baseline keeps exactly the semantics it claims.
    * One 1-row stride scalar broadcasts back over the scan (the
    * allowlisted idiom); the sample filter is a narrow predicate. */
  def cosinePairsSampled(s: SparkSession, dir: String,
      bound: Long = MaxExhaustiveCosineDocs): DataFrame = {
    val base = docs(s, dir)
    val k = base.agg(
      expr(s"(count(1) + ${bound - 1}L) div ${bound}L").as("k"))
    val sampled = base.crossJoin(broadcast(k))
      .filter(pmod(col("doc_id"), col("k")) === 0)
      .drop("k")
    val tc = termVectors(sampled)
    val dots = tc.as("a")
      .join(tc.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    scoreCosine(dots, tc)
  }

  /** d16's prefix length: each document's [[PrefixK]] globally rarest
    * terms (df asc, term asc) are its candidate-generating prefix. */
  val PrefixK = 8

  /** d16's bucket valve: a prefix-posting bucket larger than this
    * generates no candidates (d02's stop-shingle treatment applied to
    * prefix postings). Why it must exist — measured at the
    * sf1-equivalent, round 8: a SHORT document ranks even mid-
    * frequency terms inside its top-[[PrefixK]], so a hot term's
    * prefix bucket grows WITH THE CORPUS (250 members at sf0.1 →
    * 3,839 at sf1), and Σ C(n,2) over buckets went 31k → 645M — a
    * single 20-minute straggler task and a 100 GB oracle. The cap is
    * FIXED, not scale-relative, because the two populations it
    * separates scale differently: true near-dup groups are bounded by
    * real duplication (scale-invariant group size — the sf0.1 corpus'
    * planted 250-clique), while accidental shared-term buckets grow
    * linearly with N. Recall vs the exhaustive baseline stays pinned
    * by DedupSpec and the gate-scale equality measurements. */
  val PrefixBucketCap = 512L

  /** d16: prefix-filtered cosine near-dup — d15's scale path, the
    * all-pairs-similarity trick (Chaudhuri/Bayardo prefix filtering):
    * only a document's [[PrefixK]] RAREST terms generate candidate
    * pairs; every candidate is then scored by the FULL exact dot
    * product at d15's threshold. Rare terms are where near-dups are
    * obliged to overlap (two documents sharing none of each other's
    * rarest terms differ in exactly the content that identifies
    * them), so recall against exhaustive d15 stays high — measured,
    * not assumed: DedupSpec pins containment (d16 ⊆ d15) and the
    * recall floor on the fixture corpus.
    *
    * Scale shape: the candidate join runs on prefix postings whose
    * per-term length is the number of documents RANKING that term in
    * their top-k rarest — far below raw df — pulling candidate
    * volume to near-linear where d15's full postings join is the
    * measured ×100-per-×10 quadratic. The rerank is two doc-keyed
    * equi-joins re-assembling only candidate pairs' vectors. */
  def cosinePairsPrefix(s: SparkSession, dir: String): DataFrame = {
    val tc = termVectors(docs(s, dir))
    val dfq = tc.groupBy("w").agg(count(lit(1)).as("df"))
    val prefixW = Window.partitionBy("doc_id").orderBy(col("df"), col("w"))
    val prefix0 = tc.join(dfq, Seq("w"))
      .withColumn("prk", row_number().over(prefixW))
      .filter(col("prk") <= PrefixK)
      .select("doc_id", "w")
    // the bucket valve ([[PrefixBucketCap]]): a corpus-growing hot
    // bucket is dropped whole — one narrow count per term, then an
    // equi-join filter, same plan shape as d02's stop-shingle prune
    val smallBuckets = prefix0.groupBy("w")
      .agg(count(lit(1)).as("pn"))
      .filter(col("pn") <= PrefixBucketCap)
      .select("w")
    val prefix = prefix0.join(smallBuckets, Seq("w"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    val dots = cand
      .join(tc.as("ta"), col("ida") === col("ta.doc_id"))
      .join(tc.as("tb"),
        col("idb") === col("tb.doc_id") && col("ta.w") === col("tb.w"))
      .groupBy(col("ida"), col("idb"))
      .agg(sum(col("ta.c") * col("tb.c")).as("dot"))
    scoreCosine(dots, tc)
  }

  /** d12: asymmetric containment dedup — the near-dup class symmetric
    * Jaccard structurally misses: a document whose shingle set is
    * ≥ 80 % contained in a LONGER document (an excerpt page, a quoted
    * core wrapped in boilerplate, a chapter inside the full book).
    * J(A,B) = |A∩B|/|A∪B| is dragged down by the big doc's size, so a
    * perfect 10-shingle excerpt of a 1000-shingle book scores J ≈ 0.01
    * and survives d02/d03; containment(A→B) = |A∩B|/|A| scores 1.0.
    *
    * Same capped postings + one hash equi-join as [[jaccardPairs]]
    * (the `maxShingleDf` guard carries over unchanged — candidate
    * generation is identical), then the 0.8 threshold is tested per
    * DIRECTION in exact integer math (5·common ≥ 4·|A|). A pair of
    * mutual 80 % containments (i.e. a high-Jaccard dup) emits both
    * directions — containment subsumes, never contradicts, d02.
    * Output: (contained_id, container_id, common, n_contained). */
  def containmentPairs(s: SparkSession, dir: String,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val (ex, sizes) = shinglePostings(s, dir, maxShingleDf)
    val sized = commonCounts(ex)
      .join(sizes.as("sa"), col("ida") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("idb") === col("sb.doc_id"))
      .select(col("ida"), col("idb"), col("common"),
        col("sa.n_sh").cast("long").as("n_a"),
        col("sb.n_sh").cast("long").as("n_b"))
    val aInB = sized.filter(col("common") * 5 >= col("n_a") * 4)
      .select(col("ida").as("contained_id"), col("idb").as("container_id"),
        col("common"), col("n_a").as("n_contained"))
    val bInA = sized.filter(col("common") * 5 >= col("n_b") * 4)
      .select(col("idb").as("contained_id"), col("ida").as("container_id"),
        col("common"), col("n_b").as("n_contained"))
    aInB.union(bInA).orderBy("contained_id", "container_id")
  }

  val MinhashK = 32
  val MinhashBands = 8 // 4 rows per band

  /** The d03 pair frame: the gated d03 entry always rebuilds (its
    * bench cost stays honest) and refreshes it; [[DupCluster]]'s d06
    * fixpoint consumes it instead of re-deriving the identical
    * signature/band/rerank pipeline. */
  private[graft] val minhashLshPairsMemo =
    Memo("minhash_pairs") { (s, dir) =>
      // persisted for the build: feeds band explosion + both
      // signature-compare sides
      minhashPairsFrom(minhashSignatures(s, dir).transform(Caches.persist))
    }

  /** MinHash(k=32) + LSH(8 bands × 4 rows): candidate pairs from band
    * equality, then signature agreement ≥ 50 %. The full pipeline is
    * deterministic integer math, so it is oracle-checkable — unusual
    * for MinHash implementations, which normally bake in an engine
    * hash. At 100 TB only (band_idx, band_key) pairs shuffle. */
  def minhashLshPairs(s: SparkSession, dir: String): DataFrame =
    minhashLshPairsMemo.refresh(s, dir)

  /** (doc_id, sig): the MinHash signature of every document with at
    * least one shingle — the input of d03, d11 and x15. */
  private def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    shingleHashesMemo(s, dir)
      .filter(col("n_sh") > 0)
      .select(col("doc_id"), expr(minhashExpr("hv", MinhashK)).as("sig"))

  /** The LSH band rule over any (doc_id, sig, …) frame: one
    * (doc_id, band_idx, band_key) row per band of
    * [[MinhashBands]] × 4 signature slots. */
  private def minhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${MinhashBands - 1}), " +
          "b -> array_join(slice(sig, b * 4 + 1, 4), '-'))")))
      .toDF("doc_id", "band_idx", "band_key")

  /** The signature re-check over a candidate frame whose id columns
    * are `a` and `b`: keeps the pairs whose signatures agree on at
    * least half of their [[MinhashK]] slots, as (a, b, n_match)
    * ordered by the pair. */
  private def signatureAgreement(cand: DataFrame, sigs: DataFrame,
      a: String, b: String): DataFrame =
    cand
      .join(sigs.as("sa"), col(a) === col("sa.doc_id"))
      .join(sigs.as("sb"), col(b) === col("sb.doc_id"))
      .select(col(a), col(b),
        expr("size(filter(zip_with(sa.sig, sb.sig, (x, y) -> x = y), v -> v))")
          .as("n_match"))
      .filter(col("n_match") * 2 >= MinhashK)
      .orderBy(a, b)

  private def minhashPairsFrom(sigs: DataFrame): DataFrame = {
    val bands = minhashBands(sigs)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    signatureAgreement(cand, sigs, "ida", "idb")
  }

  /** d11: incremental ingest dedup — the steady-state production shape
    * at 100 TB, where a small new batch arrives against a large
    * existing corpus and re-mining the whole corpus (d03's self-join)
    * would redo work proportional to the INDEX, not the increment.
    *
    * The batch here is the deterministic split `doc_id % 5 = 0` (so
    * the DuckDB oracle can reproduce it); in production it is the
    * day's ingest. Same signature algebra as [[minhashLshPairs]]
    * (MinHash k=32, 8×4 bands, ≥50 % signature agreement), but the
    * candidate join is batch-bands ⨝ index-bands with the BATCH side
    * broadcast (pinned in PlanSpec): the index's band table — at
    * production scale a materialized, bucketed table that amortizes
    * across ingests — is probed in place and never shuffles; per
    * ingest only |batch| band rows move. The signature-verify joins
    * touch candidate ids only, which AQE broadcasts at batch scale.
    * Output: (new_id, index_id, n_match) — which index doc each new
    * doc duplicates. */
  def incrementalNearDups(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir).transform(Caches.persist)
    val isBatch = pmod(col("doc_id"), lit(5)) === 0
    val cand = broadcast(minhashBands(sigs.filter(isBatch))).as("a")
      .join(minhashBands(sigs.filter(!isBatch)).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("index_id"))
      .distinct()
    signatureAgreement(cand, sigs, "new_id", "index_id")
  }

  /** d13 block width: 8 whitespace tokens per block. */
  val BlockToks = 8

  /** d13: block-level dedup — the C4/RefinedWeb "remove any line that
    * occurs in more than one document" rewrite, the span-granular
    * class that document-level dedup (d01–d04) structurally misses: a
    * license header or navigation chrome repeated across thousands of
    * otherwise-distinct pages never pushes whole-document similarity
    * over any threshold, yet is exactly what corpus curation must
    * strip. Production line-dedup splits on newline/sentence
    * boundaries; this corpus has no punctuation, so the splitting rule
    * is fixed-width [[BlockToks]]-token blocks — the rule is a
    * parameter, the rewrite algebra is the operator. (Fixed-width
    * blocks make recall alignment-sensitive: an insertion shifts all
    * later blocks. Sentence-boundary splitting has the same property
    * against mid-sentence edits; d02/d03 cover the shifted class.)
    *
    * Shape: per-row block split (narrow) → block-hash df groupBy
    * (8-byte longs only) → the df≥2 "boilerplate set" (small in
    * practice: the DISTINCT repeated spans, 153 of 3.4k blocks at
    * sf0.01, but corpus-proportional in the worst case — hence no
    * broadcast hint; AQE broadcasts it while it fits) joined back →
    * one groupBy(doc_id) reassembles the kept text in block order.
    * That reassembly is the only shuffle carrying text, and it
    * carries ≤ the operator's own output (the rewritten corpus) — the
    * irreducible cost of a rewrite, not an analysis overhead. If a
    * pathological corpus outgrows the broadcast threshold, the mark
    * join degrades to a shuffle hash join on the same key — semantics
    * unchanged.
    *
    * Output per doc: block counts and the md5 of the kept
    * (boilerplate-stripped, order-preserved) text — integers + a
    * 32-char hex string, so the oracle compares bit-for-bit. */
  def blockDedup(s: SparkSession, dir: String): DataFrame = {
    // persisted: feeds the df count and the mark join (re-splitting
    // the corpus per branch would double the dominant narrow stage)
    val bl = fanOut(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(tk) - 1) div $BlockToks), " +
          s"i -> array_join(slice(tk, i * $BlockToks + 1, $BlockToks), ' '))"))
        .as(Seq("bi", "b")))
      .withColumn("h", expr(rollingHashExpr("b", P)))
      .transform(Caches.persist)
    val boiler = bl.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") >= 2)
      .select(col("h"), lit(1).as("is_boiler"))
    bl.join(boiler, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("is_boiler") === 1, 1L).otherwise(0L)).as("n_shared"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN is_boiler IS NULL " +
            "THEN struct(bi, b) END)), x -> x.b)"), " ")).as("kept_md5"))
      .orderBy("doc_id")
  }

  val SimhashBucketCap = 500

  /** SimHash(32-bit, token-level, tf-weighted) near-dup pairs: bucket
    * by 4 bands of 8 bits (any shared band ⇒ candidate — guarantees
    * recall for hamming ≤ 3 by pigeonhole, here threshold ≤ 6), then
    * exact hamming via bit_count(xor). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = fanOut(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        expr(hashArrayExpr("tk", 4294967296L)).as("hv"))
      .select(col("doc_id"), expr(simhashExpr("hv")).as("simhash"))
    val bands0 = fp.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> shiftright(simhash, b * 8) & 255)")))
      .toDF("doc_id", "simhash", "band_idx", "band_key")
    // Dense-bucket skip (standard production SimHash dedup): a band
    // value shared by thousands of docs is a stop-feature — pairing
    // inside it is quadratic (16M+ candidate pairs at sf0.1 on this
    // same-vocab corpus) and its pairs are recoverable via their other
    // bands. Cap chosen so it never binds at the sf0.01 correctness
    // gate (500 docs); the oracle applies the same rule.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_key"))
    // persisted: the self-join would otherwise run tokenize + simhash +
    // the bucket-count window twice
    val bands = bands0
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= SimhashBucketCap)
      .drop("bucket_n")
      .transform(Caches.persist)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("ida", "idb")
  }

  /** d14 hot-n-gram geometry: 8-token grams, reported when they occur
    * in ≥ 3 distinct documents; top 20 by document frequency. */
  val HotNgramToks = 8
  val HotNgramMinDf = 3L
  val HotNgramTopK = 20

  /** d14: hot n-gram report — the most-duplicated 8-token sequences
    * across the corpus (boilerplate headers, license blocks, template
    * sentences). This is the diagnostic that tells a curation team
    * WHAT is duplicated, where d13 only strips it; the selection rule
    * (df ≥ [[HotNgramMinDf]], top [[HotNgramTopK]] by df, then total
    * occurrences, then hash) is fully deterministic for the oracle.
    *
    * Two-phase scale shape: the stats pass shuffles only (hash,
    * doc_id) longs — never gram text — and cuts to the top K via
    * TakeOrdered (per-partition top-K, no global sort); the string
    * recovery pass re-derives grams per-row and keeps only those
    * matching the K hot hashes via a broadcast join, so gram text
    * crosses the wire for ~K rows total. The persisted frame holds
    * token arrays (same mass as the d02/d03 persists). */
  def hotNgrams(s: SparkSession, dir: String): DataFrame = {
    val grams = fanOut(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), expr(ngramsExpr("tk", HotNgramToks)).as("gs"))
      // gram arrays feed the stats pass and the recovery pass
      .transform(Caches.persist)
    val top = grams
      .select(col("doc_id"), explode(expr(hashArrayExpr("gs", P))).as("h"))
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("total"))
      .filter(col("df") >= HotNgramMinDf)
      .orderBy(col("df").desc, col("total").desc, col("h"))
      .limit(HotNgramTopK)
    grams.select(explode(col("gs")).as("gram"))
      .select(col("gram"), expr(rollingHashExpr("gram", P)).as("h"))
      .join(broadcast(top), "h")
      .groupBy(col("h"), col("df"), col("total"))
      .agg(min(col("gram")).as("gram")) // hash collisions resolve
      .select(col("gram"), col("df"), col("total")) //   deterministically
      .orderBy(col("df").desc, col("total").desc, col("gram"))
  }

  /** x15: train/test leakage audit — near-duplicate pairs that
    * STRADDLE the t07 content-hash split (a test document whose
    * near-copy sits in train), the self-decontamination check every
    * training-data release runs before measuring eval loss (t11
    * checks against an EXTERNAL eval set; this checks the pipeline's
    * own split). Same signature algebra as d03/d11 (MinHash k=32,
    * 8×4 bands, ≥50 % agreement); the candidate join is
    * test-bands ⨝ train-bands on (band_idx, band_key). The test side
    * is 10 % of the CORPUS (the split rule is a hash percentage, not
    * a fixed benchmark), so it grows linearly and carries no
    * broadcast hint — AQE broadcasts it while it fits and falls back
    * to a shuffle join at scale, unlike d11 whose batch side is
    * genuinely bounded by the increment. Output: which train doc
    * leaks into which test doc, with signature-agreement strength. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir).transform(Caches.persist)
    // the t07 split rule verbatim (TextAnalysis.hashSplit): P-hash of
    // lowered text mod 100, <80 train / <90 val / else test
    val split = fanOut(docs(s, dir))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        splitOf(expr(rollingHashExpr("t", P)) % 100).as("split"))
    val withSplit = sigs.join(split, "doc_id")
    val cand = minhashBands(withSplit.filter(col("split") === "test"))
      .as("a")
      .join(minhashBands(withSplit.filter(col("split") === "train")).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("test_id"), col("b.doc_id").as("train_id"))
      .distinct()
    signatureAgreement(cand, sigs, "test_id", "train_id")
  }

  /** d18: LSH banding recall/precision report — the s14-style
    * evaluation culture applied to the dedup family: how much of the
    * exact capped-postings Jaccard truth (d02's standard) does d03's
    * MinHash+LSH banding actually capture, per Jaccard decile? The
    * universe is every pair sharing a capped shingle (d02's candidate
    * population, threshold OFF) FULL-joined with d03's confirmed
    * pairs; per bucket = floor(jac_e6/1e5): the pair count, how many
    * d03 captured, and the capture rate. Buckets ≥ 5 read as recall
    * of true near-dups (the theory curve for 8×4 banding at J=0.5 is
    * 1−(1−0.5⁴)⁸ ≈ 0.42, rising steeply — the report shows where the
    * measured curve sits); buckets < 5 read as the false-positive
    * rate the ≥50 % signature re-check lets through. The tuning
    * diagnostic a dedup owner reads before moving MinhashBands.
    *
    * Scale shape: the truth side is d02's plan with the same df cap
    * (candidate fanout bounded per stop-shingle rule); the candidate
    * side is the memoized d03 frame; the report is ≤ 11 rows. */
  def lshRecallReport(s: SparkSession, dir: String): DataFrame = {
    val (ex, sizes) = shinglePostings(s, dir, Some(JaccardDfCap))
    val truth = commonCounts(ex)
      .join(sizes.as("sa"), col("ida") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("idb") === col("sb.doc_id"))
      .select(col("ida"), col("idb"),
        expr("(1000000L * common) div (sa.n_sh + sb.n_sh - common)")
          .as("jac_e6"))
    val cand = minhashLshPairsMemo(s, dir)
      .select(col("ida"), col("idb"), lit(1L).as("c"))
    truth.join(cand, Seq("ida", "idb"), "full")
      .na.fill(0L, Seq("jac_e6", "c"))
      .withColumn("bucket", expr("cast(jac_e6 div 100000 as int)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("c").as("n_cand"))
      .withColumn("cap_e6", expr("(1000000L * n_cand) div n_pairs"))
      .orderBy("bucket")
  }

  /** d17: duplicate-provenance matrix — d03's confirmed near-dup
    * pairs aggregated by (source, source): WHO duplicates WHOM. The
    * companion diagnostic to t31/t32: those measure raw shingle
    * overlap between sources; this counts the pairs the production
    * dedup path actually confirms, so a mixture designer can see
    * whether "src5 mirrors src8" survives the ≥50 % signature bar or
    * was only boilerplate-level overlap. Diagonal rows
    * (source_a = source_b) are intra-source duplication — the feed
    * re-posting itself.
    *
    * Scale shape: consumes the memoized d03 pair frame (checkpoint-
    * materialized); confirmed pairs grow LINEARLY with the corpus
    * (the planted-dup populations measure exactly ×10 at sf1, ×30 at
    * sf3 — BASELINE.md), so the provenance joins carry no broadcast
    * hint: AQE picks broadcast while the pair frame is small and
    * degrades to a shuffle join when it isn't (the x18 precedent,
    * Merge.scala). The output is at most |sources|² rows. */
  def dupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val p = minhashLshPairsMemo(s, dir)
    p
      .join(d.select(col("doc_id").as("ida"), col("source").as("sa")), "ida")
      .join(d.select(col("doc_id").as("idb"), col("source").as("sb")), "idb")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("n_match"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("n_match").as("sum_match"))
      .orderBy("source_a", "source_b")
  }

  /** d19 window width: 16 whitespace tokens per stride-1 window. */
  val SubstrToks = 16

  /** d19: exact-substring duplicate spans — the Lee et al. (2022)
    * "Deduplicating Training Data Makes Language Models Better"
    * class: find every maximal token run that appears VERBATIM in
    * more than one document, at ANY alignment. d13 (fixed
    * [[BlockToks]]-token blocks) only catches block-aligned
    * boilerplate and d12 only whole-document containment; this closes
    * the gap with a rolling window at every token position: a window
    * is duplicated when its hash occurs in ≥ 2 distinct documents,
    * and overlapping/adjacent duplicated windows merge into maximal
    * spans (gaps-and-islands, break at gap > [[SubstrToks]]). The
    * reported [span_start, span_end] token ranges are what a
    * span-level rewrite would cut — the production form of this
    * operator is Lee et al.'s suffix-array pass; the rolling-window
    * chain is its shuffle-friendly equivalent at window granularity.
    *
    * Hashing is two-level so the corpus streams ONCE at O(chars) +
    * O(16·positions) integer folds: per-token rolling hashes (the
    * shared [[TextHash]] primitive), then each window hash folds the
    * 16 token-hash longs (seed 7, base 31, mod P) — never re-reading
    * the window's characters. Hash collisions (1-in-1e9) are treated
    * as matches by BOTH engines — the d14 convention: the decision is
    * deterministic and identical cross-engine.
    *
    * Scale shape: the stride-1 explode is |tokens| skinny
    * (doc_id, pos, h) rows — the irreducible cost of the exact class
    * (Lee et al. pay the same in suffix-array construction); the df
    * pass is a partial-agg'd groupBy on 8-byte hashes; the match join
    * is hash-keyed with NO broadcast hint (the duplicated-window set
    * is corpus-proportional under heavy duplication — AQE decides);
    * the island merge shuffles matched positions once on doc_id.
    * Nothing is pairwise: a window shared by d documents costs d
    * rows, not d².
    *
    * EAGER ON CONSTRUCTION: the first call per (session, dir) — like
    * d20/x32, which share [[substringSpansMemo]] — runs the
    * corpus-scale span build at CONSTRUCTION time (the memo's
    * checkpoint), not at the first action; merely building this frame
    * for an EXPLAIN or a plan census pays the build (plan specs read
    * the memo's `lazyBuild` instead). */
  def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansMemo(s, dir).orderBy("doc_id", "span_start")

  /** Build-once span table — the d19 chain without the presentation
    * sort, materialized per (session, dir): the chain that d19
    * (report), d20 (rewrite) and x32 (final assembly) each consume, so
    * the span definition cannot drift between the report and the
    * rewrites — exactly as a production pipeline materializes the span
    * table once and every rewrite stage reads it from storage. The
    * span frame is 4 integers per maximal duplicated span — orders of
    * magnitude smaller than the window stream that derives it. */
  private[graft] val substringSpansMemo =
    Memo("substring_spans") { (s, dir) =>
      // persisted for the build: the df pass and the match join share
      // the window stream
      substringSpansFrom(substringWins(s, dir).transform(Caches.persist))
    }

  /** The stride-1 window-hash stream: token hashes once per token
    * (narrow), then the O(16) fold per position — (doc_id, pos, h)
    * skinny longs, the d19 cost class. */
  private def substringWins(s: SparkSession, dir: String): DataFrame =
    fanOut(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), expr(hashArrayExpr("tk", P)).as("hv"))
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(hv) >= $SubstrToks THEN " +
          s"transform(sequence(1, size(hv) - ${SubstrToks - 1}), " +
          s"i -> aggregate(slice(hv, i, $SubstrToks), 7L, " +
          s"(a, x) -> (a * 31 + x) % ${P}L)) " +
          "ELSE cast(array() as array<bigint>) END")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("h"))

  /** The d19 span algebra over a window stream: duplicated-hash df
    * pass, match join, gaps-and-islands merge. */
  private def substringSpansFrom(wins: DataFrame): DataFrame = {
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("wdf"))
      .filter(col("wdf") >= 2)
      .select("h")
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    wins.join(dup, "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("brk", when(col("prev").isNull ||
        col("pos") - col("prev") > SubstrToks, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(SubstrToks - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** d20: exact-substring REWRITE — d19's detection applied, the d13
    * rewrite discipline at rolling-window granularity: every token
    * covered by a duplicated span is stripped, and each document
    * reports its token count, the stripped mass, and the md5 of the
    * kept (order-preserved) text. This is the operation Lee et al.
    * actually run on the corpus (their result is that REMOVING the
    * spans improves the model); d19 is its audit report.
    *
    * Scale shape: the span table explodes into covered positions —
    * linear in the stripped mass, never in span count × length
    * algebra (spans are disjoint per doc, so positions are unique);
    * the strip is one (doc_id, pos) anti-join of skinny longs; the
    * only text-carrying shuffle is the kept-text reassembly, bounded
    * by the operator's own output (d13's argument verbatim).
    * EAGER ON CONSTRUCTION: first call per (session, dir) runs the
    * span build via [[substringSpansMemo]] — see [[substringSpans]]. */
  def substringRewrite(s: SparkSession, dir: String): DataFrame = {
    val cov = substringSpansMemo(s, dir)
      .select(col("doc_id"),
        explode(expr("sequence(span_start, span_end)")).as("pos"))
    val toks = fanOut(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .transform(Caches.persist) // n_toks projection + the kept reassembly share it
    val tp = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("tok"))
    val keptAgg = tp.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(md5(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
        " ")).as("kept_md5_nn"))
    val covAgg = cov.groupBy("doc_id").agg(count(lit(1)).as("n_covered_nn"))
    toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"))
      .join(covAgg, Seq("doc_id"), "left")
      .join(keptAgg, Seq("doc_id"), "left")
      .withColumn("n_covered", coalesce(col("n_covered_nn"), lit(0L)))
      .withColumn("kept_md5", coalesce(col("kept_md5_nn"), md5(lit(""))))
      .select("doc_id", "n_toks", "n_covered", "kept_md5")
      .orderBy("doc_id")
  }

  /** x29 n-gram width: 8 whitespace tokens — the GPT-3 appendix-C
    * decontamination unit scaled to this corpus's document lengths
    * (GPT-3 used 13-grams against much longer web pages; the
    * principle — any verbatim n-gram shared with an eval set marks
    * the training document — is length-invariant). */
  val DecontamN = 8

  /** x29: benchmark decontamination — the exact-overlap complement of
    * x15's LSH leakage audit and the step every serious pretraining
    * pipeline runs before training (GPT-3 appendix C, PaLM, Llama):
    * treat the t07 `test` split as the held-out benchmark and flag
    * every `train` document that shares ANY verbatim word
    * [[DecontamN]]-gram with it. x15 answers "which train docs are
    * NEAR-duplicates of test docs" (MinHash bands, ≥ 50 % signature
    * agreement); this answers the stricter published criterion —
    * exact n-gram collision at any alignment, which catches a single
    * quoted benchmark sentence inside an otherwise-novel document
    * that no whole-document signature would ever surface.
    *
    * Output: one row per CONTAMINATED train document (the actionable
    * removal list): its distinct-gram count, how many of those grams
    * hit the benchmark, and the hit ratio — floor((1e6·n_hit)/
    * n_grams), the severity a curation owner thresholds on (1.0 = a
    * verbatim benchmark copy, epsilon = one quoted line).
    *
    * Grams are compared as rolling hashes (collisions merge
    * identically in both engines — the d14/d19 convention).
    *
    * Scale shape: per-doc distinct gram hashes are |tokens| skinny
    * longs (the d19 cost class, paid once); the benchmark side
    * reduces to DISTINCT 8-byte hashes before the probe; the hit join
    * is hash-keyed with NO broadcast hint — the benchmark gram set is
    * corpus-proportional under the 10 % split rule (the d17/x15
    * lesson: AQE broadcasts it while a real benchmark is small —
    * MMLU-sized sets are a few MB — and degrades to a shuffle join
    * when someone decontaminates against a second corpus). Nothing is
    * pairwise: a gram shared by d train docs costs d rows, not d·|test|.
    * EAGER ON CONSTRUCTION: first call per (session, dir) runs the
    * tokenize+hash base build via [[decontamBaseMemo]] — shared with
    * x31. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val (train, hits) = decontamFrames(s, dir)
    train
      .join(hits, "doc_id") // inner: only contaminated docs are reported
      .select(col("doc_id"), col("source"), col("n_grams"), col("n_hit"),
        expr("(1000000L * n_hit) div n_grams").as("hit_ratio_e6"))
      .orderBy("doc_id")
  }

  /** Build-once decontamination base — the tokenize + distinct-8-gram-
    * hash pass of [[decontamFrames]], materialized per (session, dir):
    * the census's single most expensive text pass, which x29 (removal
    * list) and x31 (per-source card) previously each rebuilt from the
    * raw text. The frame is (doc_id, source, split, gs) — ~8 B per
    * distinct corpus 8-gram, the d19 cost class paid ONCE. */
  private[operators] val decontamBaseMemo =
    Memo("decontam_base") { (s, dir) =>
      fanOut(docs(s, dir))
        .select(col("doc_id"), col("source"), lower(col("text")).as("t"),
          tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("source"),
          splitOf(expr(rollingHashExpr("t", P)) % 100).as("split"),
          expr(s"array_distinct(${hashArrayExpr(ngramsExpr("tk", DecontamN), P)})")
            .as("gs"))
        .filter(size(col("gs")) > 0)
    }

  /** The x29 chain up to (train docs with gram counts, per-doc hit
    * counts) — shared with the x31 card so the split rule, gram
    * width, and hit algebra cannot drift between the removal list
    * and its summary. */
  private def decontamFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = decontamBaseMemo(s, dir)
    val bench = base.filter(col("split") === "test")
      .select(explode(col("gs")).as("g")).distinct()
    val hits = base.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .join(bench, "g") // no hint: benchmark grams grow with the corpus
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"))
    val train = base.filter(col("split") === "train")
      .select(col("doc_id"), col("source"),
        size(col("gs")).cast("long").as("n_grams"))
    (train, hits)
  }

  /** x31: per-source decontamination card — x29's doc-level removal
    * list rolled up to the grain a curation owner reads before
    * signing a release: per source the train-doc census (x29's
    * universe: train docs with ≥ 1 gram), how many are contaminated,
    * the contamination rate, the worst offender's hit ratio and its
    * id. A source whose rate spikes is mirroring the eval set (or
    * the eval set leaked from it) and gets excluded wholesale rather
    * than doc-by-doc — the decision this grain exists for.
    *
    * Scale shape: x29's frames (shared — the chain is built once)
    * plus one partial-agg'd groupBy on the ~20-row source key; the
    * argmax doc is a struct-max inside the aggregate, not a window.
    * EAGER ON CONSTRUCTION: first call per (session, dir) runs the
    * base build via [[decontamBaseMemo]] — see [[decontaminate]]. */
  def decontaminationCard(s: SparkSession, dir: String): DataFrame = {
    val (train, hits) = decontamFrames(s, dir)
    val perDoc = train.join(hits, Seq("doc_id"), "left")
      .select(col("source"), col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("hr", expr("(1000000L * n_hit) div n_grams"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_train_docs"),
        sum((col("n_hit") >= 1).cast("long")).as("n_contaminated"),
        max(struct(col("hr").as("h"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("source"), col("n_train_docs"), col("n_contaminated"),
        expr("(1000000L * n_contaminated) div n_train_docs").as("rate_e6"),
        col("m.h").as("max_hit_ratio_e6"),
        (-col("m.nd")).as("worst_doc"))
      .orderBy("source")
  }
}
