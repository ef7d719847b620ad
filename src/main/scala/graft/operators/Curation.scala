package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}
import graft.operators.TextHash._

/** Corpus-curation operators — the remaining stages of a pre-training
  * data pipeline beyond dedup/quality (TextAnalysis, Dedup, Pipeline):
  * token normalization, blocklist filtering, domain-mix reporting,
  * train/test decontamination, per-doc salient terms, stratified
  * sampling, and sequence packing.
  *
  * Scale shape: t08/t09/t13 are narrow per-row projections; t10 is one
  * partial-agg groupBy on a low-cardinality key; t12 shuffles (doc,
  * term) pairs — bounded by corpus token count, the same cost class as
  * an inverted-index build; t11 joins shingle-hash longs (never text);
  * x04's cumulative sum is windowed per source shard so packing
  * parallelizes across shards instead of serializing on a global
  * order.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    fanOut(Tables.t(s, dir, "documents"))

  /** Blocklist shared by t09 and the x05 pipeline (SQL IN-list
    * fragment so both uses are literally the same rule). */
  val BlocklistSql = "('slow', 'big', 'bad')"

  /** Per-language sampling rates (permille), shared by t13 and x05. */
  def ratePermille(lang: Column): Column =
    when(lang === "en", 100).when(lang === "de", 300)
      .when(lang === "es", 500).when(lang === "fr", 700)
      .when(lang === "zh", 900).otherwise(50)

  /** t08: token-level normalization — lowercase, whitespace-split,
    * drop single-character tokens (boilerplate/noise cleanup), rejoin
    * canonically. Emits before/after token counts and the md5 of the
    * normalized text (the key an exact-dedup pass downstream would
    * group on). */
  def normalize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        expr("filter(tk, x -> length(x) > 1)").as("tkn"))
      .select(col("doc_id"),
        size(col("tk")).as("n_toks_raw"),
        size(col("tkn")).as("n_toks_norm"),
        md5(array_join(col("tkn"), " ")).as("norm_md5"))
      .orderBy("doc_id")

  /** t09: blocklist (badwords) filter — C4-style: count blocklisted
    * tokens, drop documents where they exceed 8% of tokens. */
  def badwords(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_toks"),
        expr(s"size(filter(tk, x -> x IN $BlocklistSql))").as("n_banned"))
      .withColumn("banned_ratio_e6", e6(col("n_banned") / col("n_toks")))
      .withColumn("keep", (col("banned_ratio_e6") < 80000).cast("int"))
      .orderBy("doc_id")

  /** Digit-run identifier pattern shared by the t20 scrub and its
    * oracle: 4+ consecutive digits is the classic account/phone/SSN
    * fragment shape (entity names here carry `#000000123`-style ids).
    * Plain character-class regex, identical semantics in Java
    * (Spark) and RE2 (DuckDB). */
  val IdRunRegex = "[0-9]{4,}"

  /** t20: PII scrub — redact identifier runs from entity names and
    * replace the identity with a deterministic pseudonym, the
    * pre-training-pipeline step that keeps cross-document linkage
    * (same entity → same token) without shipping the raw identifier.
    * md5 is the engine-portable stand-in for the keyed HMAC a
    * production scrub would use (swap the expression, same plan).
    *
    * Scale shape: map-only over a union of narrow projections — no
    * shuffle at all except the output sort; at 100 TB this is the
    * cheapest stage in the pipeline and fuses into one
    * WholeStageCodegen span per source. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer").select(
      lit("customer").as("src"), col("c_custkey").as("entity_id"),
      col("c_name").as("nm"))
    val supp = Tables.t(s, dir, "supplier").select(
      lit("supplier").as("src"), col("s_suppkey").as("entity_id"),
      col("s_name").as("nm"))
    cust.union(supp)
      .select(col("src"), col("entity_id"),
        regexp_count(col("nm"), lit(IdRunRegex)).cast("int").as("n_id_runs"),
        regexp_replace(col("nm"), IdRunRegex, "<ID>").as("redacted"),
        md5(col("nm")).as("pseudonym"))
      .orderBy("src", "entity_id")
  }

  /** The k of t21's k-anonymity bar. */
  val KAnonymityK = 5

  /** t21: k-anonymity audit — group every customer by its
    * quasi-identifier tuple (nation, market segment, account-balance
    * decile) and report each equivalence class's size plus whether it
    * meets [[KAnonymityK]]; rows in sub-k classes are re-identifiable
    * and a release pipeline must suppress or generalize them. The
    * decile is a fixed-width bucket (floor(bal/1000)), not a rank —
    * rank-based deciles would make every class size data-dependent on
    * the whole corpus and the audit non-reproducible across shards.
    *
    * Scale shape: one partial-agg groupBy on the quasi-identifier key
    * (map-side combine collapses each partition to its distinct
    * tuples); the flag is a projection over the aggregate. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
      .agg(count(lit(1)).as("class_sz"))
      .withColumn("k_anonymous", (col("class_sz") >= KAnonymityK).cast("int"))
      .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")

  /** t10: domain-mix report — per source (the stand-in for a crawl
    * domain): doc count, token mass, corpus share. One partial-agg
    * groupBy on a low-cardinality key; the share window runs over the
    * 20-row aggregate, not the corpus. */
  def domainStats(s: SparkSession, dir: String): DataFrame = {
    val agg = docs(s, dir)
      .select(col("source"), tokens(col("text")).as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("tk"))).as("toks_total"))
    agg
      .withColumn("share_e6",
        e6(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy())))
      .withColumn("avg_toks_e6", e6(col("toks_total") / col("n_docs")))
      .orderBy("source")
  }

  /** t11: train/test decontamination — train-split documents sharing a
    * word-5-gram shingle with any test-split document (the benchmark
    * leak check run before every training run). Split rule is t07's
    * content-hash split; only 8-byte shingle hashes move in the join,
    * never document text, and the test side is deduplicated before
    * joining. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    // split hash and shingle hashes in ONE projection — deriving them
    // separately and equi-joining on doc_id would shuffle the corpus
    // twice for values that are both functions of the same row.
    // persist: the train and test branches would otherwise each
    // re-read and re-hash the corpus (no exchange reuse across the
    // two filters).
    val ex = docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"),
        tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        (expr(rollingHashExpr("t", P)) % 100).as("h_mod"),
        expr(shingleExpr("tk")).as("shs"))
      .select(col("doc_id"), col("h_mod"),
        explode(expr(hashArrayExpr("shs", P))).as("h"))
      .transform(Caches.persist)
    val testHashes = ex.filter(col("h_mod") >= 90).select("h").distinct()
    ex.filter(col("h_mod") < 80)
      .join(testHashes, "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_shared_shingles"))
      .orderBy("doc_id")
  }

  /** t12: per-document salient terms — TF·IDF-shaped argmax kept in
    * exact integer math (score = tf·1e6 div df) so the oracle compare
    * can't drift on float log: the top term per doc by (score desc,
    * term asc). The (doc, term) shuffle is the inverted-index cost
    * class; df is a second partial-agg over distinct (doc, term). */
  def topTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score", expr("tf * 1000000L div df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "term", "tf", "df", "score")
      .orderBy("doc_id")
  }

  /** t13: stratified deterministic sampling — per-language target
    * rates (permille), membership by content hash, not rand(): the
    * sample is reproducible and stable under re-sharding. Emits the
    * per-stratum census. Uses the P2 hash so sampling stays
    * independent of the P-hash split decision when composed (x05). */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("lang"),
        (expr(rollingHashExpr("t", P2)) % 1000).as("h"))
      .withColumn("rate_permille", ratePermille(col("lang")))
      .withColumn("sampled", (col("h") < col("rate_permille")).cast("int"))
      .groupBy("lang")
      .agg(max(col("rate_permille")).as("rate_permille"),
        count(lit(1)).as("n_total"),
        sum(col("sampled")).as("n_sampled"))
      .orderBy("lang")

  /** x11: mixture balancing — compose a training mix with an EQUAL
    * per-domain quota (the "flatten the source distribution" curation
    * move: crawl dumps are power-law by domain, training mixes are
    * not). Target size is half the corpus, split evenly across
    * sources: quota = (N div 2) div n_sources; each source
    * contributes its `quota` docs with the smallest decorrelated
    * content hash (P2 — independent of the t07 split decision on the
    * same text), so the selection is deterministic, content-addressed
    * (stable under re-crawls reordering rows), and reproducible by
    * the oracle.
    *
    * Scale shape: the data-derived quota travels as a 1-row broadcast
    * scalar (the x-family convention); selection is the per-source
    * hash rank via [[BucketedWindow.rank]] (round 15 — through
    * round 14 this was a plain per-source window, i.e. ONE task
    * sorting a whole source's Θ(corpus) rows, the t29/i14
    * single-reducer class; the doc called the threshold form "the
    * 100 TB path" without mechanizing it). The bucket is the hash's
    * top 12 bits (h2 < P2 < 2^30 → ≤ 4096 buckets, static), so the
    * largest single task is one source's one hash-octile —
    * ~n_source/4096 rows — and the rank is exactly the old window's.
    * The report's rk column stays INT (the oracle's width); the
    * mechanism computes it as a long. */
  def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        expr(rollingHashExpr("t", P2)).as("h2"))
    val quota = d.agg(count(lit(1)).as("n_total"),
        countDistinct(col("source")).as("n_src"))
      .select(expr("(n_total div 2L) div n_src").as("quota"))
    BucketedWindow.rank(d, Seq("source"), shiftright(col("h2"), 18),
        Seq(col("h2"), col("doc_id")), "rk")
      .crossJoin(broadcast(quota))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"))
      .orderBy("source", "rk")
  }

  /** x14: temperature-based mixture sampling (α = 0.5) — the standard
    * multilingual rebalance: language ℓ keeps
    * rate_ℓ ∝ share_ℓ^α / share_ℓ, i.e. its allocation in the target
    * mix is proportional to √n_ℓ, boosting low-resource languages
    * without flattening completely (x11's equal quota is the α → 0
    * limit; the `lang` dimension is the skewed one in this corpus —
    * `source` is uniform by construction, which would make every rate
    * equal and the operator indistinguishable from a plain sample).
    * Target size is half the corpus, like x11.
    *
    * Everything is exact integer arithmetic for the oracle: the weight
    * is floor(√n_s · 1000) — `sqrt` is IEEE correctly-rounded in both
    * engines (the one transcendental this repo allows, precedent
    * s12's norm) and the floor makes it an integer before the
    * order-sensitive summation — so Σw is an associative integer sum,
    * and rate_e6 = min(1e6, (1e6·(N div 2)·w_s) div (Σw·n_s)) is one
    * integer expression. The keep decision `P3-hash(text) % 1e6 <
    * rate_e6` is content-addressed (stable under re-crawls) and
    * decorrelated from the t07 split and the x11 quota rank. The
    * numerator fits a long through ~1e9 docs; past that the same
    * expression runs in DECIMAL(38,0).
    *
    * Scale shape: per-source stats are a partial-agg groupBy on
    * ~|sources| keys; the rate table is a broadcast equi-join back on
    * `source`; the corpus-total pair travels as a 1-row broadcast
    * scalar (the x-family convention). One wide pass, no corpus
    * shuffle. */
  def temperatureSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("lang"),
        (expr(rollingHashExpr("t", P3)) % 1000000L).as("hm"))
    val perLang = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .withColumn("w", floor(sqrt(col("n_lang")) * 1000).cast("long"))
    val tot = perLang.agg(sum(col("n_lang")).as("n_total"),
      sum(col("w")).as("sw"))
    val rates = perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_lang"),
        least(lit(1000000L),
          expr("(1000000L * (n_total div 2L) * w) div (sw * n_lang)"))
          .as("rate_e6"))
    d.join(broadcast(rates), "lang")
      .withColumn("keep", (col("hm") < col("rate_e6")).cast("int"))
      .groupBy("lang")
      .agg(max(col("n_lang")).as("n_docs"), max(col("rate_e6")).as("rate_e6"),
        sum(col("keep")).cast("long").as("n_sampled"))
      .orderBy("lang")
  }

  /** t25: vocabulary-growth profile — per source: token mass, type
    * count (distinct terms), hapax legomena (terms seen once), and
    * the type/token + hapax/type ratios. The Heaps'-law corpus
    * statistic: a source whose type count keeps climbing with token
    * mass (high TTR, high hapax share) is lexically open — news,
    * user text — while a saturating one is template/boilerplate; the
    * pair drives both tokenizer sizing (with t24) and source-mix
    * decisions (with t10/x14).
    *
    * Scale shape: one (source, term) partial-agg groupBy — the same
    * cost class as the inverted-index build — then a per-source
    * rollup of the vocab-bound aggregate. Exact integer ratios. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_toks"), col("n_types"), col("n_hapax"),
        expr("(1000000L * n_types) div n_toks").as("ttr_e6"),
        expr("(1000000L * n_hapax) div n_types").as("hapax_share_e6"))
      .orderBy("source")

  /** x12 chunk geometry: 64-token windows advancing by 48 (16-token
    * overlap) — the RAG convention that no retrievable statement is
    * split across a chunk boundary without also appearing whole in a
    * neighbor. */
  val ChunkToks = 64
  val ChunkStride = 48

  /** x12: RAG chunking — split every document into overlapping
    * [[ChunkToks]]-token windows every [[ChunkStride]] tokens, the
    * corpus→chunk-table transform that retrieval embedding (s01–s08
    * operate per-vector) and context assembly consume. Chunk count is
    * the exact integer 1 + ceil(max(n−W, 0)/S), so the final window
    * always reaches the last token and a short document yields exactly
    * one chunk.
    *
    * Scale shape: pure per-row expansion (transform + posexplode) with
    * no join or aggregation — the output is ~W/S × the input token
    * mass and partitions wherever the input does; the presentation
    * sort is the only exchange. Each chunk carries its provenance span
    * (start_tok, n_toks) and content md5 — the identity downstream
    * chunk-level dedup/embedding keys on. */
  def chunks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CASE WHEN n > $ChunkToks THEN " +
          s"(n - $ChunkToks + $ChunkStride - 1) div $ChunkStride ELSE 0 END), " +
          s"k -> slice(tk, k * $ChunkStride + 1, $ChunkToks))"))
        .as(Seq("chunk_idx", "ck")))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("start_tok"),
        size(col("ck")).as("n_toks"),
        md5(array_join(col("ck"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** x04 packing budget: whitespace tokens per training sequence. */
  val PackBudget = 256L

  /** x04: sequence packing — GPT-style concat-and-cut: within each
    * source shard, documents are concatenated in doc_id order and cut
    * every [[PackBudget]] tokens; a document owns the token span
    * [start_tok, start_tok + n_toks) and so lands in context bins
    * [bin_first, bin_last].
    *
    * Scale shape (round 15): the per-source running sum is
    * [[BucketedWindow.runningSum]] — through round 14 it was a plain
    * per-source window, which "never serializes on a GLOBAL order"
    * but still serializes each Θ(corpus)-row source into one task
    * (the t29/i14 single-reducer class). Buckets are ≤4096 doc_id
    * ranges under a data-derived width (the 1-row scalar crossJoin
    * idiom), so the largest task is one source's one range and the
    * spans are bit-identical to the old window's. */
  def packing(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
    val wTab = base.agg(
      expr("(coalesce(max(doc_id), 0L) + 4096L) div 4096L").as("__wd"))
    BucketedWindow.runningSum(base.crossJoin(broadcast(wTab)),
        Seq("source"), expr("doc_id div __wd"), Seq(col("doc_id")),
        col("n_toks"), "end_tok")
      .withColumn("start_tok", col("end_tok") - col("n_toks"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("start_tok"),
        expr(s"start_tok div ${PackBudget}L").as("bin_first"),
        expr(s"(end_tok - 1) div ${PackBudget}L").as("bin_last"))
      .orderBy("doc_id")
  }

  /** x30 shard token budget — the target token mass per output shard.
    * Interpolated into the oracle. */
  val ShardBudget = 20000L

  /** The epoch x30 (and its streaming twin) folds into the shard key. */
  val ShardEpoch = 1

  /** x30: shuffled shard manifest — the WRITE step of a training-data
    * pipeline: assign every document to an output shard by a
    * deterministic hash shuffle and report each shard's balance. The
    * shard count is data-derived (ceil(total_tokens/[[ShardBudget]]))
    * and the assignment is `hash(doc_id) mod S` — the two-level form
    * a 100 TB job MUST use: a "global shuffle" via one corpus-wide
    * prefix sum (x04's window made global) would serialize the whole
    * corpus through a single ordering; hash sharding is one map pass
    * and one partial-agg'd groupBy, and its balance is exactly what
    * this manifest audits (dev_e6 = shard tokens / ideal tokens — the
    * dataloader reads this to know its per-shard variance). The
    * shuffle key hashes the doc_id STRING (metadata-only — the text
    * never enters the key, so re-sharding an epoch never re-reads
    * payload columns), with [[ShardEpoch]] folded in so another epoch
    * is a different deterministic permutation of the same corpus.
    *
    * Scale shape: one narrow scan computing (doc_id, n_toks, key),
    * a 1-row total-tokens scalar crossJoin (the x25 idiom) to derive
    * S, one partial-agg'd groupBy on the shard id. Output is S rows.
    * Nothing global-ordered, nothing driver-side. */
  def shardManifest(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        expr(rollingHashExpr(
          s"concat(cast(doc_id as string), ':$ShardEpoch')", P)).as("key"))
    val tot = base.agg(sum("n_toks").as("total_toks"))
    base.crossJoin(broadcast(tot))
      .withColumn("n_shards",
        expr(s"(total_toks + ${ShardBudget - 1}L) div ${ShardBudget}L"))
      .withColumn("shard", col("key") % col("n_shards"))
      .groupBy("shard", "n_shards", "total_toks")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        min(struct(col("key"), col("doc_id"))).as("f"))
      .select(col("shard"), col("n_shards"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 1000000L) div (total_toks div n_shards)")
          .as("dev_e6"),
        col("f.doc_id").as("first_doc"))
      .orderBy("shard")
  }

  /** t27: per-document keyword extraction — the top-3 terms by
    * tf·idf, the metadata tag every search/curation pipeline attaches
    * to a document. The score is the exact integer
    * `tf · N_docs · 100 div df` (linear idf — N/df — instead of the
    * usual log(N/df): same ranking within a document up to idf
    * monotonicity, and zero floating math to diverge on), with the
    * term string as the deterministic tiebreak.
    *
    * Scale shape: tf is one partial-aggregated shuffle on
    * (doc, term); df is a second on the term; the join back is
    * term-keyed. N_docs rides as a 1-row broadcast scalar, and the
    * top-3 cut is a per-doc window rank — no global sort. */
  def keywords(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .transform(Caches.persist) // feeds df count + the scored join
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("score_e2").desc, col("w"))
    tf.join(dfq, Seq("w"))
      .crossJoin(broadcast(n))
      .withColumn("score_e2", expr("tf * n_docs * 100 div df"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("w").as("term"),
        col("tf"), col("df"), col("score_e2"))
      .orderBy("doc_id", "rk")
  }

  /** t26: BPE merge-candidate mining — the first iteration of
    * byte-pair-encoding tokenizer training: corpus-weighted counts of
    * adjacent symbol pairs inside words, ranked; the top pair is what
    * BPE would merge first, and the ranked table is the signal a
    * tokenizer-sizing pass reads. Full BPE iterates (merge → recount)
    * sequentially; each iteration is exactly this plan over the
    * rewritten vocabulary, so the one-round operator is the scalable
    * unit.
    *
    * Scale shape: pair counting runs over the DISTINCT-word vocabulary
    * weighted by word frequency, not over the corpus — 100 TB of text
    * collapses to a Heaps-law-bounded vocab (t25 measures it) before
    * the per-character explode, so the expensive fan-out touches
    * |vocab|·avg_len rows, not corpus tokens. Two partial-aggregated
    * shuffles (word counts, pair sums) + a TakeOrdered top-32. */
  def bpeMergeCandidates(s: SparkSession, dir: String): DataFrame =
    bpeMine(charVocab(s, dir))

  /** One merge table per mining pass: top-[[BpeTopMerges]] adjacent
    * symbol pairs by corpus-weighted count, (count desc, l, r) as the
    * deterministic total order — t26's rule, factored out so the t34
    * application rounds re-mine with LITERALLY the same definition. */
  val BpeTopMerges = 32

  /** The corpus vocabulary as symbol sequences: distinct word,
    * corpus count, and the word's characters as the round-0 symbols.
    * Zero-length tokens are excluded on BOTH engines (Spark's
    * sequence(1, 0) counts DOWN — the TextHash gotcha — so an empty
    * word would diverge). */
  private def charVocab(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))

  /** Pair mining over a (w, c, syms) vocabulary: t26's plan shape —
    * the per-symbol explode touches |vocab|·avg_len rows (Heaps-
    * bounded), never corpus tokens; two partial-agg'd shuffles + a
    * TakeOrdered top-K. The size≥2 guard is t26's length≥2 word
    * filter expressed on symbol sequences. */
  private def bpeMine(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("c"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
        .as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"), col("c"))
      .groupBy("l", "r").agg(sum(col("c")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("l"), col("r"))
      .limit(BpeTopMerges)

  /** One greedy left-to-right merge pass: each symbol sequence is
    * rewritten in a single fold — at position i, if (sym_i, sym_i+1)
    * is in the merge table and sym_i was not consumed by the previous
    * position's merge, emit the concatenation and skip i+1; else emit
    * sym_i. This is BPE-apply at one-pass granularity (classic BPE
    * replays one merge at a time; the one-pass form is the unit that
    * parallelizes, and iterating passes converges to the same
    * fixed point for non-overlapping merge tables).
    *
    * Scale shape: the merge table rides as a 1-row collect_list
    * (≤ [[BpeTopMerges]] structs — bounded by the literal K) and the
    * rewrite is a narrow per-row aggregate() fold over the vocabulary
    * — no shuffle at all; the DuckDB oracle implements the SAME
    * greedy semantics relationally (runs of matched pairs merge at
    * alternating positions — gaps-and-islands), so the gate
    * cross-checks two independent formulations of the pass. */
  private def bpeApply(vocab: DataFrame, merges: DataFrame): DataFrame = {
    val mg = merges.agg(collect_list(struct(col("l"), col("r"))).as("mg"))
    vocab.crossJoin(broadcast(mg)) // ≤32-row merge table as one array row
      .withColumn("syms", expr(
        """aggregate(sequence(1, size(syms)),
             named_struct('out', cast(array() as array<string>), 'skip', false),
             (st, i) -> CASE
               WHEN st.skip THEN named_struct('out', st.out, 'skip', false)
               WHEN i < size(syms) AND array_contains(mg,
                   named_struct('l', element_at(syms, i),
                                'r', element_at(syms, i + 1)))
                 THEN named_struct('out', concat(st.out,
                     array(concat(element_at(syms, i),
                       element_at(syms, i + 1)))), 'skip', true)
               ELSE named_struct('out',
                 concat(st.out, array(element_at(syms, i))), 'skip', false)
             END,
             st -> st.out)"""))
      .select("w", "c", "syms")
  }

  /** The trained tokenizer's word → BPE-symbol-count map over a
    * (…, w) word-occurrence frame: two rounds of (mine top-32 →
    * greedy one-pass apply) on the distinct-word vocabulary, then the
    * per-word final symbol count. Factored out so t34 (per-doc
    * counts) and x32 (final assembly over the KEPT token stream)
    * apply LITERALLY the same tokenizer — trained once on the full
    * corpus, the way a production pipeline freezes its tokenizer
    * before curation. */
  private[operators] def bpeNSym(words: DataFrame): DataFrame = {
    val v0 = words.groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    // round-2 mine + apply share it
    val v1 = bpeApply(v0, bpeMine(v0)).transform(Caches.persist)
    val v2 = bpeApply(v1, bpeMine(v1))
    v2.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
  }

  /** The corpus word-occurrence stream the tokenizer trains on —
    * shared by t34 and x32 so the training corpus cannot drift. */
  private[operators] def bpeWords(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)

  /** t34: BPE tokenization — APPLY the mined merges to the corpus,
    * the step t26 stops short of and the step a token-budget pipeline
    * (x04 packing, x25 allocation) actually consumes. Two rounds of
    * (mine top-32 → greedy one-pass apply): round 1 uses t26's merge
    * table verbatim (shared [[bpeMine]]), round 2 re-mines over the
    * merged symbol sequences — the fixed-depth prefix of full BPE
    * training, deterministic and oracle-gated end to end. Output per
    * document: whitespace-token count, character mass, and the BPE
    * token count after both rounds — the n_bpe/n_chars ratio is the
    * compression a tokenizer owner tracks.
    *
    * Scale shape: everything expensive happens on the DISTINCT-word
    * vocabulary (Heaps-bounded — t25 measures it): two minings (t26's
    * plan) + two narrow fold rewrites. The corpus is touched exactly
    * twice — once to count words (partial-agg'd groupBy), once to
    * explode doc tokens and join the |vocab| n_sym map (no broadcast
    * hint: vocab grows sublinearly but unboundedly, AQE decides) and
    * re-aggregate per doc_id. */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val words = bpeWords(s, dir)
      // feeds the vocab build AND the per-doc re-aggregate
      .transform(Caches.persist)
    val nsym = bpeNSym(words)
    words.join(nsym, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum(col("n_sym")).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** x28 packing budget: 512 BPE tokens per training sequence — the
    * context-length class a real packing pipeline cuts at, applied to
    * the REAL tokenizer's counts rather than x04's whitespace proxy. */
  val BpePackBudget = 512L

  /** x28: sequence packing over the trained tokenizer — x04's
    * concat-and-cut bin arithmetic re-expressed over t34's BPE token
    * counts, closing the loop VERDICT r9 opened: t26 mines merges,
    * t34 tokenizes with them, and this is the operator a token-budget
    * pipeline actually runs against the resulting counts (context
    * bins are meaningless in whitespace tokens when the model
    * consumes BPE ids). A document owns BPE span
    * [start_tok, start_tok + n_bpe) within its source shard and lands
    * in context bins [bin_first, bin_last].
    *
    * Scale shape: t34's chain (vocabulary-scale merge table, per-doc
    * counts via a word-keyed join) plus ONE per-source prefix sum —
    * x04's round-15 discipline verbatim: [[BucketedWindow.runningSum]]
    * over ≤4096 data-derived doc_id ranges, so no task ever holds a
    * whole source (the old per-source window serialized Θ(corpus)
    * rows into one task — the t29/i14 single-reducer class). */
  def bpePacking(s: SparkSession, dir: String): DataFrame = {
    val counts = bpeTokenize(s, dir).select(col("doc_id"), col("n_bpe"))
    val base = docs(s, dir).select(col("doc_id"), col("source"))
      .join(counts, "doc_id")
    val wTab = base.agg(
      expr("(coalesce(max(doc_id), 0L) + 4096L) div 4096L").as("__wd"))
    BucketedWindow.runningSum(base.crossJoin(broadcast(wTab)),
        Seq("source"), expr("doc_id div __wd"), Seq(col("doc_id")),
        col("n_bpe"), "end_tok")
      .withColumn("start_tok", col("end_tok") - col("n_bpe"))
      .select(col("doc_id"), col("source"), col("n_bpe"), col("start_tok"),
        expr(s"start_tok div ${BpePackBudget}L").as("bin_first"),
        expr(s"(end_tok - 1) div ${BpePackBudget}L").as("bin_last"))
      .orderBy("doc_id")
  }

  /** x25 epoch cap (e3): no source repeats more than 4 epochs — the
    * repetition point beyond which pre-training data stops helping
    * (the "4-epoch rule" of data-constrained scaling studies).
    * Interpolated into the oracle. */
  val MaxEpochsE3 = 4000L

  /** x25: token-budget mixture allocation — the data-mixing plan a
    * pre-training run computes BEFORE sampling: given per-source
    * token masses T_s and a global token budget B (= total/2 here),
    * allocate B across sources by sqrt-damped mass (x14's temperature
    * rule lifted from doc counts to token mass), then convert each
    * source's allocation into an EPOCH count capped at
    * [[MaxEpochsE3]] — small high-value sources repeat up to 4×, huge
    * sources train sub-epoch. The card reports, per source: docs,
    * tokens, sqrt weight, budget share, target tokens, the capped
    * epoch factor (e3), and the realized allocation — with realized ≤
    * target wherever the cap binds. Exact integers throughout
    * (convention: floor(sqrt·1000) like x14, div for every ratio) so
    * the plan is reproducible and oracle-gated.
    *
    * Scale shape: one narrow per-row token-count projection (tokens
    * never leave their partition — `size(split(...))` is computed in
    * place), one partial-agg groupBy on the low-cardinality source
    * key, one 1-row total joined back by broadcast. At 100 TB this is
    * a metadata-scale aggregation: the corpus streams once, the plan
    * itself is |sources| rows. */
  def epochAllocation(s: SparkSession, dir: String): DataFrame = {
    val perSource = docs(s, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"))
      .withColumn("sqrt_w", floor(sqrt(col("tokens")) * 1000).cast("long"))
    val tot = perSource.agg(sum(col("tokens")).as("total_tokens"),
      sum(col("sqrt_w")).as("sw"))
    perSource.crossJoin(broadcast(tot)) // 1-row corpus totals
      .withColumn("budget", expr("total_tokens div 2L"))
      .withColumn("share_e6", expr("(1000000L * sqrt_w) div sw"))
      .withColumn("target_tokens", expr("(budget * sqrt_w) div sw"))
      .withColumn("epochs_e3",
        least(lit(MaxEpochsE3), expr("(1000L * target_tokens) div tokens")))
      .withColumn("alloc_tokens", expr("(tokens * epochs_e3) div 1000L"))
      .select("source", "n_docs", "tokens", "sqrt_w", "share_e6",
        "target_tokens", "epochs_e3", "alloc_tokens")
      .orderBy("source")
  }
}
