package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}
import graft.operators.Similarity.HybridTermsIn
import graft.operators.TextHash._

/** Text-analysis operators over `documents`: language ID, quality
  * scoring, token statistics, fingerprinting.
  *
  * Every operator is a narrow per-row projection (no shuffle except
  * the final presentation sort), so all scale linearly. Ratios are
  * exposed as floor(r · 1e6) longs: the underlying doubles come from
  * identical integer divisions in both engines, making the floor
  * deterministic for the oracle compare.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    fanOut(Tables.t(s, dir, "documents"))

  /** Character-profile language ID (n-gram heuristic): vowel ratio,
    * avg token length, and marker-letter rates vote via a CASE
    * cascade. On real corpora the markers would be per-language
    * n-gram profiles; the *pipeline shape* (profile → score → argmax)
    * is the operator. */
  def langId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang").as("lang_label"),
        lower(col("text")).as("t"))
      .select(col("doc_id"), col("lang_label"),
        length(col("t")).as("n_chars_seen"),
        (length(col("t")) - length(regexp_replace(col("t"), "[aeiou]", "")))
          .as("n_vowels"),
        (length(col("t")) - length(regexp_replace(col("t"), "[kwz]", "")))
          .as("n_kwz"),
        size(split(col("t"), "\\s+")).as("n_toks"))
      .select(col("doc_id"), col("lang_label"),
        e6(col("n_vowels") / col("n_chars_seen")).as("vowel_ratio_e6"),
        e6(col("n_kwz") / col("n_chars_seen")).as("kwz_ratio_e6"),
        e6(col("n_chars_seen") / col("n_toks")).as("avg_tok_chars_e6"))
      .withColumn("lang_pred",
        when(col("vowel_ratio_e6") >= 310000, "en")
          .when(col("kwz_ratio_e6") >= 60000, "de")
          .when(col("avg_tok_chars_e6") >= 5800000, "fr")
          .otherwise("other"))
      .orderBy("doc_id")

  /** Keep-rule thresholds, shared with the x03 pipeline
    * ([[Pipeline.datasetCard]]) so the composed form cannot drift from
    * this standalone query. */
  val QualityMinChars = 100
  val QualityMinToks = 20
  val QualityMaxPunctE6 = 100000L
  val QualityMinTtrE6 = 150000L

  /** Quality scoring: length, punctuation ratio, stopword ratio and
    * repetition (type-token ratio) signals in one projection — the
    * standard pre-training filter stack. The keep flag gates on
    * length, punctuation and TTR; the stopword ratio is reported as a
    * signal column (its useful threshold is corpus-specific, so it is
    * surfaced, not hard-coded into keep). */
  def quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        length(col("t")).as("n_chars_seen"),
        length(regexp_replace(col("t"), "[a-z0-9\\s]", "")).as("n_punct"),
        split(col("t"), "\\s+").as("tk"))
      .select(col("doc_id"), col("n_chars_seen"), col("n_punct"),
        size(col("tk")).as("n_toks"),
        size(array_distinct(col("tk"))).as("n_types"),
        expr("size(filter(tk, x -> x IN ('the', 'a', 'and', 'of', 'to')))")
          .as("n_stop"))
      .select(col("doc_id"), col("n_chars_seen"), col("n_toks"),
        e6(col("n_punct") / col("n_chars_seen")).as("punct_ratio_e6"),
        e6(col("n_stop") / col("n_toks")).as("stop_ratio_e6"),
        e6(col("n_types") / col("n_toks")).as("ttr_e6"))
      .withColumn("keep", qualityKeepCond.cast("int"))
      .orderBy("doc_id")

  /** The t02 keep predicate over its stat columns — shared by the
    * t02 gate and the classifier chain's distillation labels
    * ([[qualityLabels]]) so the rule cannot drift between them. */
  private def qualityKeepCond: Column =
    col("n_chars_seen") >= QualityMinChars &&
      col("n_toks") >= QualityMinToks &&
      col("punct_ratio_e6") < QualityMaxPunctE6 &&
      col("ttr_e6") > QualityMinTtrE6

  /** Token counting: whitespace tokens and a BPE-ish regex
    * tokenization (letter runs / digit runs / single punctuation). */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        size(split(col("t"), "\\s+")).as("ws_tokens"),
        expr("size(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .as("bpe_tokens"),
        expr("size(array_distinct(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)))")
          .as("bpe_types"))
      .orderBy("doc_id")

  /** t06: within-document repetition scoring (the Gopher-style
    * "fraction of duplicated n-grams" quality signal): share of word
    * 2-grams / 3-grams that are repeats of an earlier occurrence.
    * Narrow per-row projection like the rest of this file — the
    * n-gram arrays exist only inside one projection, never shuffled. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        expr(ngramsExpr("tk", 2)).as("g2"),
        expr(ngramsExpr("tk", 3)).as("g3"))
      .select(col("doc_id"),
        size(col("g2")).as("n2"), size(array_distinct(col("g2"))).as("n2d"),
        size(col("g3")).as("n3"), size(array_distinct(col("g3"))).as("n3d"))
      .select(col("doc_id"), col("n2"), col("n3"),
        when(col("n2") > 0, e6((col("n2") - col("n2d")) / col("n2")))
          .otherwise(0L).as("dup2_e6"),
        when(col("n3") > 0, e6((col("n3") - col("n3d")) / col("n3")))
          .otherwise(0L).as("dup3_e6"))
      .orderBy("doc_id")

  /** t07: deterministic hash-based train/val/test split (80/10/10).
    * Reproducible sampling by content hash — not rand(): re-running
    * the pipeline (or re-sharding the input) assigns every document
    * to the same split, and adding documents never reshuffles
    * existing assignments. Narrow per-row projection. */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), (expr(rollingHashExpr("t", P)) % 100).as("h_mod"))
      .withColumn("split", splitOf(col("h_mod")))
      .orderBy("doc_id")

  /** Document fingerprinting: full-text rolling hash plus a min-hash
    * style shingle fingerprint (min over word-5-gram hashes) — the
    * compact identity used by exact and near dedup respectively. */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"),
        tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        expr(rollingHashExpr("t", P)).as("text_fp"),
        expr(s"CASE WHEN size(tk) >= 5 THEN array_min(${hashArrayExpr(shingleExpr("tk"), P)}) ELSE -1 END")
          .as("min_shingle_fp"))
      .orderBy("doc_id")

  /** t17: bigram language-model statistics — exact continuation
    * counts c(w1 w2), context totals c(w1 ·), and the conditional
    * probability P(w2|w1) as an integer-division e6 (exact in both
    * engines; no float path). These count tables are what an n-gram
    * LM quality filter / perplexity scorer consumes; shape is one
    * narrow pair explosion + two partial-aggregated groupBys, so the
    * shuffle carries (vocab²) rows however large the corpus. */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val pairs = docs(s, dir)
      .select(tokens(col("text")).as("tk"))
      .select(explode(expr(bigramsExpr("tk"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val pair = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = pair.groupBy("w1").agg(sum("c12").as("c1"))
    pair.join(uni, "w1")
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        expr("(c12 * 1000000L) div c1").as("p_e6"))
      .orderBy("w1", "w2")
  }

  /** t18: document fluency score from the t17 bigram model — the mean
    * corpus continuation probability over a document's bigrams, as an
    * integer-division e6. This is the perplexity-filter shape (score
    * each doc against a corpus LM, drop the tail) with the float
    * log-likelihood replaced by an exact integer mean so the oracle
    * gates it bit-for-bit; a real filter swaps the scoring expression,
    * not the plan. The model side is the OBSERVED-bigram table — it
    * grows with the corpus, so the join carries no broadcast hint
    * (AQE broadcasts while it fits); the doc side is one narrow pair
    * explosion + a key-grain groupBy. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val model = bigramLm(s, dir).select(col("w1"), col("w2"), col("p_e6"))
    val docPairs = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(expr(bigramsExpr("tk"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // no broadcast hint: the observed-bigram model grows with the
    // corpus (≫ Heaps — pair vocabulary), so AQE decides — broadcast
    // while the model fits, shuffle hash join when it doesn't
    docPairs.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_e6")).as("sum_p_e6"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_p_e6 div n_bigrams").as("mean_p_e6"))
      .orderBy("doc_id")
  }

  /** t19: shingle-novelty scoring — the dedup-aware quality signal:
    * what fraction of a document's word-5-gram shingles appear in NO
    * other document. Boilerplate-heavy and template-generated docs
    * score near 0, original prose near 1; pipelines use it to rank
    * within duplicate clusters and to downsample low-novelty strata
    * before training.
    *
    * Cost class: one shingle-hash projection (narrow) + a df groupBy
    * on 8-byte hashes + a join back on the same hash — the
    * inverted-index cost class, linear in corpus token count; no
    * pairwise step anywhere. The ratio is exact integer math
    * (1e6·novel div distinct-hashes) so the oracle compare cannot
    * drift. Denominator is the doc's DISTINCT hash count (hash
    * collisions inside a doc merge shingles on both engines
    * identically). */
  def novelty(s: SparkSession, dir: String): DataFrame =
    noveltyFrom(shingleHashesMemo(s, dir))

  /** t19's chain from a prebuilt `shingleHashes` frame — x26 shares
    * ONE corpus tokenize+shingle+hash pass between this and the t32
    * sketch branch instead of paying it per diagnostic. */
  def noveltyFrom(sh: DataFrame): DataFrame = {
    // persisted: feeds the corpus-wide df count and the per-doc join
    // back
    val ex = sh
      .filter(col("n_sh") > 0)
      .select(col("doc_id"), explode(col("hv")).as("h"))
      .distinct()
      .transform(Caches.persist)
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hashes"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_hashes"), col("n_novel"),
        expr("n_novel * 1000000L div n_hashes").as("novelty_e6"))
      .orderBy("doc_id")
  }

  /** i02: phrase search — the retrieval primitive an inverted index
    * (i01) exists to serve: find every document containing an exact
    * two-word phrase, with per-document occurrence counts. The phrase
    * is data-derived (the corpus's most frequent bigram, tie-broken
    * deterministically by count desc, then words asc) so the oracle
    * reproduces the selection; a serving system would bind it from the
    * user query instead.
    *
    * Plan shape is the positional-postings intersection, not a
    * substring scan: the corpus explodes once into (doc_id, pos, term)
    * postings; the 1-row phrase broadcast filters them down to the two
    * query terms' postings; an equi-join on (doc_id, pos == pos−1)
    * finds adjacencies. Only the two terms' postings — narrow
    * (long, long) rows — reach the join, which is how a phrase query
    * touches an index shard instead of the corpus at 100 TB (there the
    * postings are a materialized term-bucketed table and the filter is
    * a partition prune; the join algebra is identical). The phrase
    * pick itself is a vocab²-bound partial-agg + TakeOrdered(1). */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val top = docs(s, dir)
      .select(tokens(col("text")).as("tk"))
      .select(explode(expr(bigramsExpr("tk"))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(1)
      .select("w1", "w2")
    // persisted: the postings feed both sides of the adjacency join
    val pos = docs(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "term")
      .crossJoin(broadcast(top))
      .transform(Caches.persist)
    val pa = pos.filter(col("term") === col("w1"))
      .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
    val pb = pos.filter(col("term") === col("w2"))
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    pa.join(pb, Seq("doc_id", "pos"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("n_occ"))
      .orderBy("doc_id")
  }

  /** t22: collocation mining — bigrams whose observed frequency beats
    * the independence expectation, scored by exact-integer *lift*:
    * lift = P(w1 w2) / (P(w1 ·)·P(· w2)) = c12·T / (c1x·cx2), with T
    * the corpus bigram total, c1x/cx2 the positional marginals. Lift
    * is the exp of PMI, so ranking by it IS ranking by PMI — with the
    * log dropped the gate needs no transcendentals (same trade as
    * i03's idf; a consumer wanting the PMI value applies log2 to
    * lift_e6/1e6 client-side). A [[CollocMinSupport]] floor on c12
    * drops the noise pairs every collocation extractor filters.
    *
    * Scale shape: one bigram explosion into a vocab²-bound partial
    * agg; the marginals and total derive from the AGGREGATE (vocab-
    * bound, broadcast back), never from the token stream — so however
    * large the corpus, everything after the first groupBy is
    * dictionary-sized. Output is vocab²-bound, not corpus-bound. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val pair = docs(s, dir)
      .select(tokens(col("text")).as("tk"))
      .select(explode(expr(bigramsExpr("tk"))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(Caches.persist) // vocab²-bound; feeds the marginals AND the output
    val first = pair.groupBy("w1").agg(sum("c12").as("c1x"))
    val second = pair.groupBy("w2").agg(sum("c12").as("cx2"))
    val tot = pair.agg(sum("c12").as("tt"))
    pair.filter(col("c12") >= CollocMinSupport)
      .join(broadcast(first), "w1")
      .join(broadcast(second), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"),
        // DECIMAL(38,0): c12·T·1e6 tops BIGINT past ~sf1 (q48's rule)
        expr("""cast((cast(c12 as decimal(38,0)) * tt * 1000000)
             div (cast(c1x as decimal(38,0)) * cx2) as long)""")
          .as("lift_e6"))
      .orderBy("w1", "w2")
  }

  /** i03's exact-integer BM25 fragments, factored so i12's
    * second-round scorer is the SAME expression text — a drifted copy
    * would desynchronize the feedback rescoring from the gated
    * first-round form. Columns referenced: tf, dl, df (per term-doc)
    * and nn, ll (corpus stats). */
  private val Bm25TfPartExpr =
    """cast((cast(22 as decimal(38,0)) * tf * ll * 1000000)
             div (cast(10 as decimal(38,0)) * tf * ll
                + cast(3 as decimal(38,0)) * ll
                + cast(9 as decimal(38,0)) * dl * nn) as long)"""
  private val Bm25IdfExpr =
    """cast((cast(2 as decimal(38,0)) * (nn - df) + 1) * 1000000
             div (2 * df + 1) as long)"""

  /** The i03 contribution stage over any (doc_id, dl, term, tf) frame
    * with a (term, df) side and the 1-row corpus stats. */
  private def bm25ContribOf(tf: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr(Bm25TfPartExpr).as("tfpart_e6"),
        expr(Bm25IdfExpr).as("idf_e6"))
      .select(col("doc_id"),
        expr("""cast((cast(tfpart_e6 as decimal(38,0)) * idf_e6)
             div 1000000 as long)""").as("contrib_e6"))

  /** Fixed sizes and floors, each interpolated into its oracle: the
    * length of the i03 ranking (and so of every BM25 shortlist), the
    * ranks of i14's report, i06's expansions per query term, and t22's
    * min-support (a bigram seen fewer times is noise). */
  val Bm25Shortlist = 100
  val PruneTopK = 10
  val ExpansionTopPer = 2
  val CollocMinSupport = 5L

  /** i03: BM25 ranked retrieval for the standing query-term set
    * ([[Similarity.HybridQueryTerms]]) — the scoring function every
    * lexical retrieval stack uses, in a log-free exact-integer form
    * so the gate compares bit-for-bit with no transcendental-libm
    * drift between engines. With k1 = 1.2, b = 0.75 the classic
    * tf-saturation term clears to integers (multiply through by
    * 10·L, with avgdl = L/N):
    *
    *   tfpart = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *          = 22·tf·L / (10·tf·L + 3·L + 9·dl·N)
    *
    * and the idf uses the Robertson–Sparck-Jones *ratio*
    * (2(N−df)+1)/(2df+1) instead of its log — per-term this is a
    * monotone transform of the log idf, so weighting still rises as
    * df falls; the additive-combination semantics differ from the
    * log form (documented trade for exact-integer gating — swapping
    * in `ln` is a one-expression change the plan shape is agnostic
    * to). Intermediates ride DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    * so the scaled products are exact far past sf1000 (q48's lesson).
    *
    * Scale shape: one token fan-out feeds both the corpus-stat
    * aggregate (1-row broadcast) and the (doc, term) tf groupBy over
    * QUERY-TERM hits only (the filter lands before the explode, so
    * the shuffled volume is matches, not the corpus token stream);
    * df is a broadcast-sized aggregate over the matched set; the
    * top-[[Bm25Shortlist]] is TakeOrderedAndProject — per-partition
    * local top-k, never a full sort. */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        expr(s"filter(tk, x -> x IN $HybridTermsIn)").as("qtk"))
      .transform(Caches.persist) // feeds the corpus stats AND the per-doc tf counts
    val stats = base.agg(count(lit(1)).as("nn"), sum("dl").as("ll"))
    val tf = base.filter(size(col("qtk")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("qtk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = bm25ContribOf(tf, dfreq, stats)
    val sc = contrib.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_matched"),
        sum("contrib_e6").as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(Bm25Shortlist)
    sc.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_e6").desc, col("doc_id"))))
      .orderBy("rank")
  }

  /** i13 query workload: a fixed mixed-df probe list (the i10/i11
    * class — bounded by the literal, broadcast-legal), wider than
    * i03's standing set and including a rare term ("dup", df ≈ 5 % of
    * the common terms) so the metrics spread. Interpolated into the
    * oracle. */
  val RetrievalEvalTerms: Seq[String] =
    Seq("hash", "join", "table", "scan", "merge", "vector", "key", "dup")

  /** i13: retrieval-quality evaluation (known-item MRR / hit@k) — the
    * IR-eval half the s-family's ANN recall reports (s14/s18/s20/s21)
    * provide for the vector stack but nothing provided for the
    * lexical stack. Per probe term, the "known item" is the document
    * with the highest raw tf (ties → lowest doc_id) and the system
    * under test is the single-term exact-integer BM25 scorer (i03's
    * [[Bm25TfPartExpr]]·[[Bm25IdfExpr]] fragments verbatim — a
    * drifted copy would evaluate a different engine than i03 ships).
    * Reported per term: df, the known item and its tf, the item's
    * BM25 rank, reciprocal rank ·1e6, hit@1, hit@10 — measuring how
    * far tf-saturation + length normalization reorder raw term
    * frequency, the diagnostic an IR team reads before tuning k1/b.
    *
    * Scale shape: rank is computed WITHOUT ranking — the known item's
    * rank is 1 + count(docs scoring strictly better), one partial-agg
    * groupBy per term over the matches frame, so no per-term global
    * sort/window ever materializes (a full window over a common
    * term's postings is exactly the 100 TB stage this formulation
    * avoids). The corpus-scale work is i03's: token fan-out filtered
    * to the probe list BEFORE the explode; everything downstream is
    * matches-bound; every broadcast side is bounded by the literal
    * probe list (≤8 rows of truth/df, 1-row corpus stats). */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val termsIn = RetrievalEvalTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    val base = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        expr(s"filter(tk, x -> x IN $termsIn)").as("qtk"))
      .transform(Caches.persist) // feeds the corpus stats AND the per-doc tf counts
    val stats = base.agg(count(lit(1)).as("nn"), sum("dl").as("ll"))
    val tf = base.filter(size(col("qtk")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("qtk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .transform(Caches.persist) // matches-bound, skinny; feeds df, scores, truth
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val psc = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), col("tf"),
        expr(Bm25TfPartExpr).as("tfpart_e6"),
        expr(Bm25IdfExpr).as("idf_e6"))
      .select(col("term"), col("doc_id"), col("tf"),
        expr("""cast((cast(tfpart_e6 as decimal(38,0)) * idf_e6)
             div 1000000 as long)""").as("score_e6"))
    // known item per term: argmax without a window (min over (−tf, id))
    val truth = tf.groupBy("term")
      .agg(min(struct((-col("tf")).as("ntf"), col("doc_id").as("d"))).as("m"))
      .select(col("term"), col("m.d").as("rel_doc"),
        (-col("m.ntf")).as("rel_tf"))
    val ts = truth.join(
      psc.select(col("term"), col("doc_id").as("rel_doc"),
        col("score_e6").as("st")),
      Seq("term", "rel_doc"))
    val rk = psc.join(broadcast(ts), "term") // ≤|probe terms| rows
      .groupBy("term", "rel_doc", "rel_tf")
      .agg((sum(when(col("score_e6") > col("st") ||
          (col("score_e6") === col("st") && col("doc_id") < col("rel_doc")),
          1L).otherwise(0L)) + 1L).as("rank"))
    rk.join(broadcast(dfreq), "term")
      .select(col("term"), col("df"), col("rel_doc"), col("rel_tf"),
        col("rank").cast("int").as("rank"),
        expr("1000000 div rank").as("rr_e6"),
        when(col("rank") === 1, 1).otherwise(0).cast("int").as("hit1"),
        when(col("rank") <= 10, 1).otherwise(0).cast("int").as("hit10"))
      .orderBy("term")
  }

  /** i14 per-term postings cut: keep the top ceil(df·this/1000)
    * highest-impact postings of each term (contribution desc, doc_id
    * asc) — a PROPORTIONAL cut (Carmel et al.'s uniform pruning), so
    * the trade-off the report prices is the same at every corpus size
    * (a fixed top-P degenerates to recall 0 as df grows past it; at
    * sf0.1 it measured exactly that). Interpolated into the oracle. */
  val PruneKeepPermille = 250L

  /** i14's scored postings frame (term, doc_id, df, contrib_e6) —
    * extracted so Round15Spec checks the threshold cut against the
    * rank-window cut on exactly the frame the operator prunes (its df
    * skew at scale: BASELINE.md §sf1 scale-stress). */
  private[graft] def indexPruningPostings(
      s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        expr(s"filter(tk, x -> x IN $HybridTermsIn)").as("qtk"))
      .transform(Caches.persist) // feeds the corpus stats AND the per-doc tf counts
    val stats = base.agg(count(lit(1)).as("nn"), sum("dl").as("ll"))
    val tf = base.filter(size(col("qtk")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("qtk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), col("df"),
        expr(Bm25TfPartExpr).as("tfpart_e6"),
        expr(Bm25IdfExpr).as("idf_e6"))
      .select(col("term"), col("doc_id"), col("df"),
        expr("""cast((cast(tfpart_e6 as decimal(38,0)) * idf_e6)
             div 1000000 as long)""").as("contrib_e6"))
  }

  /** i14's bounded tie-resolution ceiling. Through round 14 this
    * capped the whole per-term posting sort (the pruning rank was a
    * per-TERM window, so a stop term's Θ(corpus-docs) df meant one
    * task sorting one 100-TB posting list — the query REFUSED past
    * 10M). Round 15 replaced that window with the distributed
    * top-fraction selection in [[prunedPostings]] (whose ≤ terms×512
    * histogram walk runs on the driver since round 16), so df
    * growth no longer meets any single-task sort. The cap now pins
    * only the TIE SET at the threshold value — the one place an
    * exact cut still needs a per-term row_number (contribution ties
    * broken by doc_id asc) — and fires at frame BUILD, the moment
    * the walk knows the tie counts. It trips only when more than
    * 10M postings of ONE term share the EXACT threshold
    * contribution — a fixed-point hash collision, not a function of
    * corpus size — and under the cap that tie sort is the same
    * ~300 MB spillable single task the old guard budgeted. */
  val PruneMaxRankedDf = 10000000L

  /** The 9-bit radix levels that walk a nonnegative long's value
    * space down to a single value: shiftright by 54,45,…,9,0 (the
    * level-1 key of any long < 2^63 fits in [0, 512); level 7 is the
    * value itself). contrib_e6 is provably nonnegative — both BM25
    * fragments are ratios of positive integers — and bounded by
    * tfpart_e6·idf_e6/1e6 ≤ 2.2e6 · 0.67·nn < 2^62 for any
    * representable corpus, so seven levels always reach exactness. */
  private val PruneRadixShifts = Seq(54, 45, 36, 27, 18, 9, 0)

  /** Early-exit bound for the radix walk (round 16): once a term's
    * crossing bucket holds at most this many postings, the remaining
    * levels are replaced by ONE driver collect of that bucket's
    * contribution values — the exact threshold falls out of a local
    * walk over ≤512 longs instead of up-to-four more corpus-scale
    * rescans + histogram collects. 512 = one radix fan-out, the same
    * per-term bound the round-15 rework budgeted per level. */
  private val PruneTieCollectCap = 512L

  /** i14's distributed top-fraction selection: per term, keep the
    * top ceil(df·[[PruneKeepPermille]]/1000) postings by
    * (contrib_e6 desc, doc_id asc) — the identical cut the old
    * per-term rank window produced (Round15Spec proves the identity
    * law) — WITHOUT ever sorting a posting list:
    *
    *  1. k_t per term from df (one row per roster term, collected).
    *  2. Seven radix levels: histogram the current candidate range
    *     into ≤512 per-term buckets (partial-agg groupBy — the only
    *     corpus-scale work, embarrassingly parallel), collect the
    *     ≤ terms×512-row histogram to the DRIVER, walk it highest
    *     bucket first to the bucket where the cumulative count
    *     crosses the residual need, and descend by re-filtering the
    *     persisted postings against the ≤ terms-row local bucket
    *     table (the level-k bucket determines all earlier ones, so
    *     one filter suffices — the plan stays one join deep). After
    *     level 7 the bucket IS the exact threshold value v_t and the
    *     residual need is the tie budget. EARLY EXIT (round 16): a
    *     term whose crossing bucket already holds ≤512 postings skips
    *     the remaining levels — one driver collect of that bucket's
    *     contribution values replaces up to four more corpus rescans,
    *     and the local walk over ≤512 longs is the identical
    *     value-granularity selection the remaining levels compute.
    *  3. Postings with contrib > v_t are kept by a broadcast-join
    *     filter against the local threshold table; postings AT v_t
    *     keep the tie_need smallest doc_ids (exact bounded
    *     tie-resolution — the per-term window runs over the tie set
    *     alone, whose size [[PruneMaxRankedDf]] caps).
    *
    * The per-level selection state lives on the DRIVER (round-15
    * ADVICE): through round 15 each level localCheckpoint-ed a
    * ≤ terms-row frame, which (a) baked runtime RDD partition counts
    * into the plan — the UnknownPartitioning leak that split the sf1
    * bench fingerprints — and (b) pinned checkpoint blocks for the
    * session. Collecting the same ≤ terms×512 rows instead keeps the
    * returned plan free of runtime artifacts (the thresholds enter
    * as a LocalRelation) at the same job count. The walk still runs
    * at frame CONSTRUCTION either way — the join sides are
    * data-derived — which is also where the tie-set refusal now
    * fires: a driver-side require (the d05/d15 guard class — refuse
    * at build, before the tie window is even constructed) with the
    * [[PruneMaxRankedDf]] constant in the message.
    *
    * At 100 TB each level is one rescan of the persisted roster
    * postings plus a ≤ terms×512-row driver collect; no task ever
    * holds more than one histogram bucket or the (capped) tie set. */
  private[graft] def prunedPostings(postings: DataFrame): DataFrame = {
    val s = postings.sparkSession
    import s.implicits._
    // residual need per term; level 1 starts at k_t = ceil(df·p/1000)
    var need: Map[String, Long] = postings.groupBy("term")
      .agg(max("df").as("df")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1) * PruneKeepPermille + 999) / 1000)).toMap
    var cur = postings.select(col("term"), col("contrib_e6"))
    // exact per-term answer as it resolves: term -> (v_t, tie_need)
    var resolved: Map[String, (Long, Long)] = Map.empty
    // terms reaching level 7 un-exited: their tie set is the final
    // bucket count — the quantity the refusal guard bounds
    var finalSel: Map[String, (Long, Long, Long)] = Map.empty
    // local exact selection over one term's collected contribution
    // values — literally the remaining levels' walk at value
    // granularity: highest value first, the crossing value is v_t and
    // the residual need there is the tie budget.
    def localCut(vals: Seq[Long], n: Long): (Long, Long) = {
      var above = 0L
      var hit: (Long, Long) = null
      for ((v, c) <- vals.groupBy(identity).view.mapValues(_.size.toLong)
             .toSeq.sortBy(-_._1) if hit == null) {
        if (above < n && above + c >= n) hit = (v, n - above)
        above += c
      }
      // refuse loudly here (the round-16 ADVICE): the invariant
      // 1 <= n <= vals.size makes a miss unreachable, but if it were
      // ever violated the null would otherwise surface later as a
      // MatchError in the resolved-map destructuring, far from the
      // cause
      require(hit != null,
        s"localCut: residual need $n exceeds bucket size ${vals.size}")
      hit
    }
    val shifts = PruneRadixShifts.iterator
    while (need.nonEmpty && shifts.hasNext) {
      val shift = shifts.next()
      val hist = cur
        .select(col("term"), shiftright(col("contrib_e6"), shift).as("bk"))
        .groupBy("term", "bk").agg(count(lit(1)).as("cnt"))
        .collect() // ≤512 rows per unresolved roster term
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      // highest bucket first: `above` = postings strictly above this
      // bucket within the current candidate range; exactly one bucket
      // per term crosses the residual need (counts are positive and
      // need ≤ the range's total by construction).
      val sel: Map[String, (Long, Long, Long)] =
        hist.flatMap { case (term, rows) =>
          val n = need(term)
          var above = 0L
          var hit: Option[(Long, Long, Long)] = None
          for ((_, bk, cnt) <- rows.sortBy(-_._2) if hit.isEmpty) {
            if (above < n && above + cnt >= n)
              hit = Some((bk, n - above, cnt))
            above += cnt
          }
          hit.map(term -> _)
        }
      if (shift == 0) {
        // the bucket IS the exact contribution value
        resolved ++= sel.map { case (t, (bk, n, _)) => t -> (bk, n) }
        finalSel = sel
        need = Map.empty
      } else {
        // early exit (round 16): a crossing bucket small enough to
        // collect resolves its term NOW — one ≤cap-row driver read in
        // place of every remaining level's corpus rescan + collect
        val (small, large) =
          sel.partition { case (_, (_, _, cnt)) => cnt <= PruneTieCollectCap }
        if (small.nonEmpty) {
          val smallDf = small.toSeq.sortBy(_._1)
            .map { case (t, (bk, _, _)) => (t, bk) }.toDF("term", "bk")
          val bucketVals = postings.select(col("term"), col("contrib_e6"))
            .join(broadcast(smallDf), Seq("term"))
            .filter(shiftright(col("contrib_e6"), shift) === col("bk"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
            .groupBy(_._1)
          resolved ++= small.map { case (t, (_, n, _)) =>
            t -> localCut(bucketVals(t).map(_._2).toSeq, n)
          }
        }
        need = large.map { case (t, (_, n, _)) => t -> n }
        if (large.nonEmpty) {
          // descend: the level-k bucket refines level k−1's (bk_{k-1}
          // = bk_k >> 9), so filtering the PERSISTED postings on this
          // level's bucket alone reproduces the whole chain — the
          // plan never deepens past one local-table join.
          val selDf = large.toSeq.sortBy(_._1)
            .map { case (t, (bk, _, _)) => (t, bk) }.toDF("term", "bk")
          cur = postings.select(col("term"), col("contrib_e6"))
            .join(broadcast(selDf), Seq("term"))
            .filter(shiftright(col("contrib_e6"), shift) === col("bk"))
            .select(col("term"), col("contrib_e6"))
        }
      }
    }
    // tie-resolution bound: the only remaining per-term window runs
    // over the threshold tie set; refuse loudly — at frame build, the
    // moment the walk knows the tie counts — past the ceiling. Only a
    // term that reached level 7 can carry an over-cap tie set (an
    // early-exited term's whole BUCKET was ≤ the 512 collect cap).
    val maxTie = finalSel.values.map(_._3).maxOption.getOrElse(0L)
    require(maxTie <= PruneMaxRankedDf,
      s"indexPruning threshold tie set over the $PruneMaxRankedDf " +
        "bounded tie-resolution ceiling (postings sharing one exact " +
        s"contribution value): $maxTie")
    val thr = resolved.toSeq.sortBy(_._1)
      .map { case (t, (vt, tn)) => (t, vt, tn) }
      .toDF("term", "vt", "tie_need")
    val withThr = postings.join(broadcast(thr), "term")
    val keptHigh = withThr.filter(col("contrib_e6") > col("vt"))
    val keptTies = withThr.filter(col("contrib_e6") === col("vt"))
      .withColumn("trn", row_number().over(
        Window.partitionBy("term").orderBy("doc_id")))
      .filter(col("trn") <= col("tie_need")).drop("trn")
    keptHigh.unionByName(keptTies)
      .select(col("term"), col("doc_id"), col("df"), col("contrib_e6"))
  }

  /** i14: static index-pruning report — Carmel et al. (2001) "Static
    * index pruning for information retrieval systems": shrink the
    * inverted index by keeping only the top [[PruneKeepPermille]]‰
    * of each term's postings BY IMPACT (the term's exact-integer BM25
    * contribution, i03's fragments verbatim), then measure what the
    * cut does to the
    * multi-term query's top-10 — the size/quality trade every
    * planet-scale search deployment prices before shipping an index
    * tier. The lexical complement of the s16/s18 quantization-error
    * reports: those price PQ compression of the vector index, this
    * prices posting-list truncation of the text index.
    *
    * Output: rank 1..10 of the FULL index ranking side-by-side with
    * the PRUNED index ranking — each full doc's score, the doc the
    * pruned index puts at that rank, its (possibly degraded) score,
    * and whether the full doc survived anywhere in the pruned top-10.
    *
    * Scale shape (rounds 15–16): the per-term top-P cut is the
    * distributed top-fraction selection in [[prunedPostings]] — a
    * 7-level radix walk over per-term contribution histograms (each
    * level one partial-agg pass over the persisted postings; the
    * ≤ terms×512-row histogram walks on the DRIVER since round 16)
    * that finds the exact threshold value, then a broadcast-join
    * filter; no task ever sorts a posting list, so a stop term's
    * Θ(corpus) df meets no single-task work (the old refusal guard
    * now pins only the threshold TIE set, at frame build). Both
    * rankings are partial-agg'd sums over
    * matches-bound frames; the side-by-side join is k rows against k
    * rows. Corpus-scale work is i03's token fan-out, paid once and
    * shared by both branches through one persisted postings frame. */
  def indexPruning(s: SparkSession, dir: String): DataFrame = {
    val postings = indexPruningPostings(s, dir)
      // the full and pruned rankings share one postings pass
      .transform(Caches.persist)
    val pruned = prunedPostings(postings)
    def topK(c: DataFrame): DataFrame = c.groupBy("doc_id")
      .agg(sum("contrib_e6").as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id")).limit(PruneTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_e6").desc, col("doc_id"))))
    val full = topK(postings).select(col("rank"),
      col("doc_id").as("doc_full"), col("score_e6").as("score_full_e6"))
    val pk = topK(pruned).select(col("rank"),
      col("doc_id").as("doc_pruned"), col("score_e6").as("score_pruned_e6"))
    // LEFT join from the full ranking: a proportional cut can leave
    // the pruned index scoring fewer than PruneTopK docs (a doc may
    // lose all its postings), and an inner join would silently truncate the
    // report. Missing pruned ranks show the -1 sentinel (not NULL —
    // a nullable long turns into float64 in the driver's pandas
    // compare and breaks the hash gate on dtype alone).
    full.join(pk, Seq("rank"), "left")
      .join(pk.select(col("doc_pruned").as("doc_full"), lit(1).as("sv")),
        Seq("doc_full"), "left")
      .select(col("rank").cast("int").as("rank"), col("doc_full"),
        col("score_full_e6"),
        coalesce(col("doc_pruned"), lit(-1L)).as("doc_pruned"),
        coalesce(col("score_pruned_e6"), lit(-1L)).as("score_pruned_e6"),
        coalesce(col("sv"), lit(0)).cast("int").as("survived"))
      .orderBy("rank")
  }

  /** i01: inverted index — per term the document frequency and the
    * first five postings (smallest doc_ids), the artifact a
    * contamination checker or corpus search probes.
    *
    * df comes from a partial-aggregated count (never materializes a
    * posting list); the head-of-postings comes from a per-term window
    * rank that keeps ≤5 rows BEFORE collect_list, so no aggregation
    * buffer ever holds a full posting list. At 100 TB, where a
    * stop-word's full postings dwarf one task, the same two outputs
    * would come from posting shards ((term, doc-block) groups) merged
    * by per-shard top-k — the per-term sort here is the small-corpus
    * shortcut, not the contract.
    *
    * The postings head is emitted as a comma-joined STRING, not an
    * array: gated outputs must be scalar-only (the driver's pandas
    * compare cannot sort/hash array cells). Sort happens on the
    * numeric array BEFORE the string cast so '10' sorts after '2'. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      // feeds both the df count and the postings-head rank
      .transform(Caches.persist)
    val dfreq = toks.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("doc_id")
    val heads = toks.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("term")
      .agg(array_join(
        expr("transform(sort_array(collect_list(doc_id)), x -> cast(x as string))"),
        ",").as("first_docs"))
    dfreq.join(heads, "term")
      .select(col("term"), col("df"), col("first_docs"))
      .orderBy("term")
  }

  /** i04 proximity window: the second phrase term must follow the
    * first within 3 positions (1 = adjacent, i02's case). */
  val ProximitySlop = 3

  /** i05's snippet window width, in tokens. */
  val SnippetWindow = 16

  /** i05: search-result snippet extraction — the last stage of the
    * retrieval stack (i01 index → i02/i04 phrase/proximity → i03
    * ranking → THIS): for every document hitting the s08/i03 query
    * terms, the best [[SnippetWindow]]-token window — most distinct
    * query terms, then most total hits, then leftmost — plus the
    * actual window text, the preview a search UI renders.
    *
    * Scale shape: only query-term hits survive the filter, so the
    * per-doc window join runs on a handful of positions per document
    * (equi-keyed on doc_id with a positional range residual — a
    * sort-merge join, not a nested loop); the final text slice
    * re-joins the token arrays by doc key. Window scoring never
    * touches non-matching documents. */
  def snippets(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .transform(Caches.persist) // feeds hit extraction + the final snippet slice
    val hits = toks.select(col("doc_id"), posexplode(col("tk")))
      .toDF("doc_id", "pos", "term")
      .filter(expr(s"term IN $HybridTermsIn"))
      .transform(Caches.persist) // both window-join sides
    val windows = hits.as("a")
      .join(hits.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") >= col("a.pos") &&
          col("b.pos") <= col("a.pos") + (SnippetWindow - 1))
      .groupBy(col("a.doc_id").as("doc_id"), col("a.pos").as("start_pos"))
      .agg(countDistinct(col("b.term")).as("n_terms"),
        count(lit(1)).as("n_hits"))
    val best = Window.partitionBy("doc_id")
      .orderBy(col("n_terms").desc, col("n_hits").desc, col("start_pos"))
    windows.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("start_pos"), col("n_terms"),
        col("n_hits"),
        array_join(
          slice(col("tk"), col("start_pos") + 1, lit(SnippetWindow)), " ")
          .as("snippet"))
      .orderBy("doc_id")
  }

  /** i04: proximity (sloppy-phrase) search — occurrences of the
    * corpus's top bigram where the terms appear in order within
    * [[ProximitySlop]] positions, per document with the tightest gap.
    * The retrieval primitive between exact phrase match (i02, gap=1)
    * and bag-of-words AND: "new … york" with an adjective between
    * still hits. Query selection (the top bigram) is i02's rule
    * verbatim, so the two operators answer the same query at two
    * strictnesses.
    *
    * Scale shape: identical to i02 — only the TWO query terms'
    * positional postings leave the scan (broadcast 1-row query), the
    * window test is an equi-join on doc_id + a range filter on the
    * position delta, cost bounded by the query terms' frequency,
    * never the corpus. */
  def proximitySearch(s: SparkSession, dir: String): DataFrame = {
    val top = docs(s, dir)
      .select(tokens(col("text")).as("tk"))
      .select(explode(expr(bigramsExpr("tk"))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(1)
      .select("w1", "w2")
    // persisted: the postings feed both window-join sides (i02 idiom)
    val pos = docs(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "term")
      .crossJoin(broadcast(top))
      .transform(Caches.persist)
    val pa = pos.filter(col("term") === col("w1"))
      .select(col("doc_id"), col("pos").as("pa"), col("w1"), col("w2"))
    val pb = pos.filter(col("term") === col("w2"))
      .select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, Seq("doc_id"))
      .filter((col("pb") - col("pa")).between(1, ProximitySlop))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("n_window"),
        min(col("pb") - col("pa")).as("min_gap"))
      .orderBy("doc_id")
  }

  /** t24 vocabulary size: top 1024 terms by corpus frequency. */
  val VocabSize = 1024

  /** t24: vocabulary build + OOV coverage — the tokenizer-training
    * proxy: take the top [[VocabSize]] terms by corpus frequency
    * (ties alphabetical, so the cut is deterministic), then score
    * every document's out-of-vocabulary token rate. High-OOV
    * documents are the ones a fixed vocabulary (or BPE merge table)
    * represents worst — the signal that drives vocab sizing and
    * multilingual coverage decisions.
    *
    * Scale shape: term counts are one partial-agg groupBy (vocab-
    * bound output); the top-V cut is distributed TakeOrdered; the
    * coverage pass joins the token stream against the BROADCAST
    * vocabulary and re-aggregates per doc — token rows shuffle once
    * on doc_id, carrying a 1-bit flag, not term text. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    // persisted: the count pass and the coverage pass share one
    // tokenize+explode
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .transform(Caches.persist)
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(VocabSize)
      .select(col("term"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
        expr("(1000000L * n_oov) div n_toks").as("oov_e6"))
      .orderBy("doc_id")
  }

  /** t23: character-diversity profile — per document, the distinct
    * character count, the top character's share, and a Simpson
    * diversity index over the character distribution (1 − Σp²). A
    * near-zero diversity flags the pathological repeats (one char
    * or one phrase stretched to length) that slip past t02's
    * type-token ratio when the repeated unit is short; it is the
    * character-level sibling of t06's token repetition signal.
    *
    * All three stats are EXACT integer arithmetic (occurrence counts
    * via length-difference, Σc² and N² as longs, one integer
    * division at the end) — no transcendental entropy, whose last-ulp
    * `ln` disagreement between engines could flip an e6 floor. Narrow
    * per-row projection: the per-char count costs one `replace` scan
    * per distinct character (≤ a few dozen on natural text), no
    * shuffle except the presentation sort. */
  def charDiversity(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        expr("filter(array_distinct(split(t, '')), c -> c <> '')").as("cs"))
      .select(col("doc_id"),
        length(col("t")).as("n_chars"),
        size(col("cs")).as("n_distinct"),
        expr("aggregate(cs, 0L, (a, c) -> a + " +
          "CAST(length(t) - length(replace(t, c)) AS BIGINT) * " +
          "CAST(length(t) - length(replace(t, c)) AS BIGINT))").as("sumsq"),
        expr("array_max(transform(cs, c -> length(t) - length(replace(t, c))))")
          .as("maxc"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        when(col("n_chars") === 0, 0L)
          .otherwise(expr("(1000000L * CAST(maxc AS BIGINT)) div CAST(n_chars AS BIGINT)"))
          .as("top_share_e6"),
        when(col("n_chars") === 0, 0L)
          .otherwise(lit(1000000L) -
            expr("(1000000L * sumsq) div (CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))"))
          .as("diversity_e6"))
      .orderBy("doc_id")

  /** i06: co-occurrence query expansion — for each retrieval query
    * term ([[Similarity.HybridQueryTerms]], the same list i03/s08/i05
    * interpolate), the top-[[ExpansionTopPer]] expansion candidates
    * by document-level lift `P(t | docs containing q) / P(t)` in
    * exact-integer e6 form (`df_joint·N·1e6 div (n_q·df_t)`),
    * support-filtered at df_joint ≥ [[ExpansionMinJoint]]. This is the
    * offline side of a query-expansion pipeline: the emitted
    * (q_term → exp_term) table is what a retrieval layer unions into
    * the match set.
    *
    * Scale shape: inverted-index algebra like i01–i05 — the corpus
    * collapses to distinct (doc_id, term) postings once; only the
    * postings of documents containing a query term (a semi-join-sized
    * slice) fan into the co-occurrence groupBy, and the final rank
    * window sees ≤ |vocab of that slice| rows per query term. The e6
    * lift product `df_joint·N` needs headroom: at ≥ ~3·10⁶ docs move
    * the 1e6 scale inside the division (documented, not hit at any
    * tested SF). */
  def queryExpansion(s: SparkSession, dir: String): DataFrame = {
    val dt = docs(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("term"))
      .filter(length(col("term")) > 0)
      .transform(Caches.persist) // postings reused by df, query slice, and join
    val n = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
    val df = dt.groupBy("term").agg(count(lit(1)).as("df"))
    val qdocs = dt.filter(col("term").isin(Similarity.HybridQueryTerms: _*))
      .select(col("term").as("q_term"), col("doc_id"))
    val nq = qdocs.groupBy("q_term").agg(count(lit(1)).as("n_q"))
    val joint = qdocs.join(dt, Seq("doc_id"))
      .filter(!col("term").isin(Similarity.HybridQueryTerms: _*))
      .groupBy("q_term", "term").agg(count(lit(1)).as("df_joint"))
      .filter(col("df_joint") >= ExpansionMinJoint)
    val w = Window.partitionBy(col("q_term"))
      .orderBy(col("lift_e6").desc, col("exp_term"))
    joint.join(df, Seq("term")).join(nq, Seq("q_term"))
      .crossJoin(broadcast(n))
      .select(col("q_term"), col("term").as("exp_term"),
        col("df_joint"), col("df").as("df_exp"), col("n_q"), col("n_docs"))
      .withColumn("lift_e6",
        expr("df_joint * n_docs * 1000000L div (n_q * df_exp)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ExpansionTopPer)
      .select(col("q_term"), col("exp_term"), col("rank"),
        col("df_joint"), col("df_exp"), col("lift_e6"))
      .orderBy("q_term", "rank")
  }

  /** Minimum joint document frequency for an i06 expansion candidate
    * (kills one-off co-occurrences the lift ratio would otherwise
    * over-reward). */
  val ExpansionMinJoint = 3L

  /** t28: readability scoring — an exact-integer Flesch Reading Ease.
    * The three inputs are deterministic regex censuses (words =
    * whitespace tokens, sentences = maximal `[.!?]+` runs clamped
    * ≥ 1, syllables = maximal `[aeiouy]+` vowel groups — the standard
    * UDF-free heuristic), so both engines count the same integers.
    * The score keeps Flesch's shape with every division floored:
    * `fre_e3 = 206835 − ⌊1015·wps_e6/1e6⌋ − ⌊84600·spw_e6/1e6⌋`
    * over already-floored per-doc rates — pure long arithmetic, no
    * float in any checked column. Per-row narrow projection:
    * embarrassingly parallel at any scale. */
  def readability(s: SparkSession, dir: String): DataFrame = {
    // maximal-run count via the replace trick: collapsing each run to
    // one sentinel char, runs = len(collapsed) − len(deleted)
    def runs(src: Column, cls: String): Column =
      (length(regexp_replace(src, cls, "~")) -
        length(regexp_replace(src, cls, ""))).cast("long")
    docs(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        size(split(col("t"), "\\s+")).cast("long").as("n_words"),
        greatest(runs(col("t"), "[.!?]+"), lit(1L)).as("n_sentences"),
        runs(col("t"), "[aeiouy]+").as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        expr("(n_words * 1000000L) div n_sentences").as("wps_e6"),
        expr("(n_syllables * 1000000L) div n_words").as("spw_e6"))
      .withColumn("fre_e3",
        lit(206835L) - expr("(1015L * wps_e6) div 1000000L") -
          expr("(84600L * spw_e6) div 1000000L"))
      .withColumn("band",
        when(col("fre_e3") >= 70000L, "easy")
          .when(col("fre_e3") >= 50000L, "standard")
          .when(col("fre_e3") >= 30000L, "difficult")
          .otherwise("very_difficult"))
      .orderBy("doc_id")
  }

  /** t29's rank-bucket fan-out: each frequency OCTAVE `⌊log₂ freq⌋`
    * splits into this many equal sub-ranges, and (octave, sub) is the
    * deterministic sort bucket the global rank is assembled from.
    * Bucket census ≤ 64 octaves × this — the bound that lets the
    * bucket-offset table broadcast regardless of corpus size. */
  val ZipfRankSubBuckets = 64

  /** t29's distinct-FREQUENCY census with its deterministic rank
    * bucket: one row per distinct frequency value, `cnt` = how many
    * terms share it, `pid` = the (octave × sub-range) bucket. The
    * census is ≤ √(2·corpus_tokens) rows (k distinct frequencies
    * force Σ ≥ 1+2+…+k tokens) vs Heaps-scale vocabulary, and `pid`
    * is a PURE monotone function of freq — no sampling, no
    * spark_partition_id — so re-evaluating the frame in two plan
    * branches can never disagree on bucket membership. Per-bucket
    * row bound: min(⌈2^o/S⌉, corpus/2^o) ≤ √(corpus_tokens/S) —
    * ~560k rows at 2·10¹³ tokens with S = 64 (the max sort bucket
    * measured at scale: BASELINE.md §sf1 scale-stress). */
  private[graft] def zipfFreqGroups(
      s: SparkSession, dir: String): DataFrame = {
    val sb = ZipfRankSubBuckets
    docs(s, dir)
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .groupBy("freq").agg(count(lit(1)).as("cnt"))
      .withColumn("oct_f", (length(bin(col("freq"))) - 1).cast("int"))
      // sub-range inside the octave, exact integer (decimal keeps the
      // ×S product overflow-proof for any 64-bit freq)
      .withColumn("pid", (col("oct_f") * sb +
        expr(s"""cast((cast(freq - shiftleft(1L, oct_f) as decimal(38,0))
               * $sb) div shiftleft(1L, oct_f) as int)""")).cast("int"))
  }

  /** t29: Zipf rank-frequency octave profile — the corpus-level
    * diagnostic a data-quality pass runs to see whether token
    * frequencies follow the expected power law (a bot-generated or
    * template corpus shows a flattened head / truncated tail). Terms
    * are ranked by frequency desc (ties by term) and grouped into
    * rank octaves `⌊log₂ rank⌋` — computed as `length(bin(rank)) − 1`,
    * an exact integer in both engines (no transcendental log
    * anywhere) — and each octave reports its term count, frequency
    * mass, and min/max frequency. Under Zipf, sum_freq per octave is
    * roughly constant; the octave table makes deviation visible as
    * integers.
    *
    * Scale: NO term is ever individually ranked. The corpus first
    * collapses to the distinct-frequency census ([[zipfFreqGroups]]),
    * and each frequency group's terms occupy the CONTIGUOUS rank
    * interval [base+1, base+cnt] where base = Σ cnt over higher
    * frequencies — which terms take which rank inside the interval
    * is the term-name tiebreak, and every octave aggregate is
    * tiebreak-INVARIANT (all terms in a group share freq, so an
    * octave's share of the group is a pure interval intersection:
    * how many, never which). base comes from a two-level exclusive
    * prefix sum: a freq-desc running total inside each deterministic
    * rank bucket (PARTITIONED window, ≤ √(corpus/S) rows per bucket)
    * plus per-bucket offsets from a broadcast self-join over the
    * ≤ 64·S-row bucket table — bounded by construction, corpus-
    * independent. The round-13 version ranked the full vocabulary
    * through ONE unpartitioned row_number window — the classic
    * single-reducer killer at web-corpus vocabulary (10⁸–10⁹ terms
    * under Heaps' law); this plan's largest single task is one rank
    * bucket, and PlanSpec pins that no unpartitioned Window survives
    * anywhere in the plan. Oracle unchanged: identical octave table,
    * proven by the interval-intersection identity above. */
  def zipfOctaves(s: SparkSession, dir: String): DataFrame = {
    val fg = zipfFreqGroups(s, dir)
      .transform(Caches.persist) // feeds the in-bucket scan AND the bucket totals
    // exclusive running term-count above each freq, inside its bucket
    val wIn = Window.partitionBy("pid").orderBy(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inPart = fg.withColumn("pre_in",
      coalesce(sum(col("cnt")).over(wIn), lit(0L)))
    // per-bucket totals (≤ 64·S rows by construction) → exclusive
    // offsets via a broadcast self-join: pid is monotone in freq, so
    // ranks above a bucket = Σ totals of strictly higher pids
    val perPid = fg.groupBy("pid").agg(sum(col("cnt")).as("psum"))
    val prior = perPid.select(col("pid").as("pid_b"), col("psum").as("psum_b"))
    val offsets = perPid.join(broadcast(prior), col("pid_b") > col("pid"), "left")
      .groupBy("pid").agg(coalesce(sum(col("psum_b")), lit(0L)).as("off"))
    inPart.join(broadcast(offsets), "pid")
      .withColumn("lo", col("off") + col("pre_in") + lit(1L))
      .withColumn("hi", col("off") + col("pre_in") + col("cnt"))
      // a group spans ≤ log₂(cnt)+1 octaves; its share of each is an
      // exact interval intersection with [2^o, 2^(o+1)−1]
      .withColumn("octave", explode(sequence(
        (length(bin(col("lo"))) - 1).cast("int"),
        (length(bin(col("hi"))) - 1).cast("int"))))
      .withColumn("n_in",
        least(col("hi"), expr("shiftleft(1L, octave + 1) - 1L")) -
          greatest(col("lo"), expr("shiftleft(1L, octave)")) + lit(1L))
      .groupBy("octave")
      .agg(sum(col("n_in")).as("n_terms"),
        sum(col("n_in") * col("freq")).as("sum_freq"),
        max(col("freq")).as("max_freq"), min(col("freq")).as("min_freq"))
      .orderBy("octave")
  }

  /** i07 probe-document rule: doc_id ≡ 0 (mod 211) — a deterministic
    * ~0.5 % sample whose size grows with the corpus (doc_id 0 always
    * qualifies, so every scale factor has probes). */
  val MoreLikeThisProbeMod = 211L

  /** i07 per-probe query-term budget: only the probe's
    * [[MoreLikeThisMaxQueryTerms]] most DISTINCTIVE terms (lowest
    * document frequency, ties by term) form the query — Elasticsearch
    * MLT's `max_query_terms`, the knob that keeps a more-like-this
    * query from fanning out over its document's stopwords. Rank-by-df
    * is corpus-adaptive where an absolute max_doc_freq cut is not: on
    * this synthetic corpus every term sits in 75–80 % of documents
    * (min df 373/500 at the gate — measured), so any fixed df ceiling
    * either cuts nothing or everything, while "rarest 8" always
    * selects the discriminative tail. */
  val MoreLikeThisMaxQueryTerms = 8

  val MoreLikeThisK = 5

  /** i07: more-like-this (query-by-document) retrieval — for each
    * probe document, the top-[[MoreLikeThisK]] most similar other
    * documents by tf·idf dot product over the probe's DISTINCTIVE
    * terms. The "related documents / find near-topic training data"
    * primitive: i03 ranks against a fixed keyword query, THIS ranks
    * against a document. idf is i03's exact-integer rational
    * ((2(N−df)+1)·1e6 div (2df+1)); each (probe, cand, term)
    * contribution tf_p·tf_c·idf_e6 div 1000 keeps the 64-bit sum in
    * range with both engines flooring at the same point, so scores
    * hash-compare exactly.
    *
    * Scale shape: document frequency comes from the corpus-level
    * (term, df) aggregate — i01's inverted-index build, one
    * partial-agg'd shuffle whose OUTPUT is Heaps-bounded vocabulary —
    * so each probe's query can be cut to its 8 rarest terms BEFORE
    * anything is broadcast. (df restricted to probe terms equals
    * corpus df for those terms — the restriction is on TERMS, not
    * documents — so the oracle's restricted-postings df is the same
    * number and the hash gate is unchanged.) Only then does the
    * candidate side materialize: corpus tokens stream through ONE
    * narrow explode and only tokens matching a SELECTED term survive
    * the broadcast semi-join before the (doc, term) tf groupBy — the
    * broadcast carries ≤ |probes|·8 terms (the round-8 version
    * broadcast every distinct term any probe contained, a
    * corpus-proportional set that made i07 the census's most
    * expensive sf1 query), and scoring-side shuffle volume is matched
    * postings, not the token stream. At 100 TB this is the i01
    * inverted-index probe pattern: the df aggregate is the index you
    * already maintain, per-term posting joins, never a corpus×corpus
    * product. */
  private def mltPostings(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)

  /** i07's probe-side selection AFTER the rarest-8 cut: per (probe,
    * term) rows with tf_p, corpus df, and the rank that survived the
    * [[MoreLikeThisMaxQueryTerms]] window — at most |probes|·8 rows,
    * whose distinct terms are the ONLY set i07 ever broadcasts.
    * Package-private so the plan spec can pin the cap executably. */
  private[graft] def moreLikeThisSelection(
      s: SparkSession, dir: String): DataFrame = {
    val postings = mltPostings(s, dir)
    // corpus-level (term, df): count DOCS per term via a per-doc
    // array_distinct BEFORE the explode, so the aggregate partial-
    // combines map-side and only (term, partial count) rows cross the
    // exchange. The old form (`postings.distinct()` then count)
    // shuffled every distinct (doc_id, term) PAIR — a corpus-scale
    // exchange of term strings — just to throw the doc_id away one
    // node later (round 17; guide §2.3 "aggregate before you
    // shuffle"). Same df values: distinct-pair count per term ≡ doc
    // count per term over per-doc distinct tokens.
    val dfreq = docs(s, dir)
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("df"))
    // probe-side per-(probe, term) tf (tf kept for the scoring join)
    val probeTf = postings.filter(col("doc_id") % MoreLikeThisProbeMod === 0)
      .groupBy(col("doc_id").as("probe_id"), col("term"))
      .agg(count(lit(1)).as("tf_p"))
    val wTerm = Window.partitionBy(col("probe_id"))
      .orderBy(col("df"), col("term"))
    // prune FIRST: term-keyed equi-join (probe rows meet one df row
    // each — both sides are aggregates, AQE picks the strategy), then
    // the max_query_terms window over probe-side rows only
    probeTf
      .join(dfreq, Seq("term"))
      .withColumn("trk", row_number().over(wTerm))
      .filter(col("trk") <= MoreLikeThisMaxQueryTerms)
  }

  def moreLikeThis(s: SparkSession, dir: String): DataFrame = {
    val k = MoreLikeThisK
    val postings = mltPostings(s, dir)
    val nDocs = docs(s, dir).agg(count(lit(1)).as("nn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_e3").desc, col("neighbor_id"))
    val sel = moreLikeThisSelection(s, dir)
      // feeds the term-roster broadcast AND the scoring join
      .transform(Caches.persist)
    // candidate postings restricted to the PRUNED term roster
    // (≤ |probes|·8 terms — the broadcast is now query-budget-bounded,
    // not corpus-proportional), then per-(doc, term) tf
    val candTf = postings
      .join(broadcast(sel.select("term").distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf_c"))
    sel
      .crossJoin(broadcast(nDocs)) // 1-row corpus size (allowlisted NLJ)
      .withColumn("idf_e6",
        expr("""cast((cast(2 as decimal(38,0)) * (nn - df) + 1) * 1000000
             div (2 * df + 1) as long)"""))
      .join(candTf, Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id").as("neighbor_id"))
      .agg(count(lit(1)).as("n_shared"),
        sum(expr("tf_p * tf_c * idf_e6 div 1000")).as("score_e3"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
        col("n_shared"), col("score_e3"))
      .orderBy("probe_id", "rank")
  }

  /** i08: faceted search — per standing query term
    * ([[graft.operators.Similarity.HybridQueryTerms]]), the result-set
    * breakdown a search UI renders next to the hit list: per (term,
    * source, lang) facet cell, the matching-document count, total
    * term frequency, and the cell's share of the term's result set
    * (exact e6). The facet drill-down is what turns retrieval (i01–
    * i07) into corpus EXPLORATION — "this term lives in these sources"
    * — and, in a training-data pipeline, the per-source hit profile a
    * curator reads before boosting or excluding a source.
    *
    * Scale shape: the term IN-filter lands inside the token fan-out
    * (filter-before-explode, i03's posture), so only query-term hits
    * reach the per-(doc, term) tf stage; facet attributes ride the
    * SAME row (no join back to documents); the facet rollup is a
    * partial-agg groupBy on a (4 terms × sources × langs)-bounded key
    * space; the share denominator is a term-level window over those
    * few facet rows, not data-scale work. */
  def facets(s: SparkSession, dir: String): DataFrame = {
    val hits = docs(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"), col("lang"),
        expr(s"filter(tk, x -> x IN $HybridTermsIn)").as("qtk"))
      .filter(size(col("qtk")) > 0)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(col("qtk")).as("q_term"))
      .groupBy("q_term", "source", "lang", "doc_id")
      .agg(count(lit(1)).as("tf"))
    val cells = hits.groupBy("q_term", "source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("tf_sum"))
    val wTerm = Window.partitionBy(col("q_term"))
    cells
      .withColumn("td", sum(col("n_docs")).over(wTerm))
      .withColumn("share_e6", expr("(1000000L * n_docs) div td"))
      .drop("td")
      .orderBy("q_term", "source", "lang")
  }

  /** t30: out-of-vocabulary rate across the t07 hash split — the
    * tokenizer-coverage number a training run checks before freezing
    * a vocab: build the vocabulary from the TRAIN split only (t07's
    * exact content-hash rule, reused so the splits cannot drift) and
    * measure, per (split, source) over val/test, the token mass,
    * OOV token count, distinct OOV types, and the exact e6 OOV rate.
    * A source whose val OOV rate is high relative to the rest is
    * distribution-shifted against the train mix — the signal that
    * triggers vocab growth (t24/t25's sizing pair) or re-mixing.
    *
    * Scale shape: the train vocabulary is a distinct-terms aggregate
    * (vocab-bounded); the membership probe is one equi-join on the
    * term key over the eval splits' token stream; the rollup is a
    * partial-agg groupBy on (split, source). No corpus² anything. */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"),
        tokens(col("text")).as("tk"))
      .withColumn("h_mod",
        expr(graft.operators.TextHash.rollingHashExpr(
          "t", graft.operators.TextHash.P)) % 100)
      .withColumn("split", graft.operators.TextHash.splitOf(col("h_mod")))
      // train-vocab build + eval-token probe share the pass
      .transform(Caches.persist)
    val trainVocab = d.filter(col("split") === "train")
      .select(explode(col("tk")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
      .withColumn("in_vocab", lit(1))
    d.filter(col("split") =!= "train")
      .select(col("split"), col("source"), explode(col("tk")).as("term"))
      .filter(length(col("term")) > 0)
      .join(trainVocab, Seq("term"), "left")
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("term")))
          .as("n_oov_types"))
      .withColumn("oov_rate_e6", expr("(1000000L * n_oov) div n_tokens"))
      .orderBy("split", "source")
  }

  /** i10 probe typos: each standing query term with its middle
    * character dropped — the deterministic stand-in for the query-log
    * misspellings a fuzzy matcher serves. Derived (not hand-listed)
    * from [[graft.operators.Similarity.HybridQueryTerms]] so the two
    * term sets cannot drift; interpolated into the oracle. */
  lazy val FuzzyProbes: Seq[String] =
    Similarity.HybridQueryTerms.map { t =>
      val m = t.length / 2
      t.substring(0, m) + t.substring(m + 1)
    }

  val FuzzyTopK = 5

  /** The 1-deletion neighborhood as a SQL expression over a string
    * column — `{t} ∪ { t minus char j }`. ONE definition feeds the
    * vocabulary and probe sides (and, textually mirrored, the DuckDB
    * oracle), because SymSpell's correctness rests on both sides
    * generating byte-identical keys. */
  private def deletionKeysExpr(t: String): String =
    s"""array_union(array($t), transform(sequence(1, length($t)),
       j -> concat(substring($t, 1, j - 1),
                   substring($t, j + 1, length($t)))))"""

  /** i10: typo-tolerant term matching (SymSpell) — resolve misspelled
    * query terms against the corpus vocabulary via the symmetric-
    * deletion trick: term T matches probe Q at edit distance ≤ 1
    * (insert/delete/substitute) iff their 1-deletion neighborhoods
    * {T}∪D₁(T) and {Q}∪D₁(Q) intersect. The matcher every search box
    * runs on zero-hit queries, and — in a curation pipeline — the
    * "which vocabulary variants is this blocklist/keyword actually
    * hitting" expansion. Candidates rank by document frequency (the
    * "did you mean" prior), top [[FuzzyTopK]] per probe.
    *
    * Scale shape: the deletion index is VOCABULARY-bounded, not
    * corpus-bounded — |vocab|·(len+1) short keys, the SymSpell
    * memory/speed trade — and matching is one equi-join on those keys
    * against the ≤|probes|·(len+1)-row broadcast probe side, never an
    * all-pairs edit-distance scan. The df prior reuses the (term, df)
    * aggregate every retrieval operator already computes. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val probesSql = FuzzyProbes.map(p => s"'$p'").mkString("(", ", ", ")")
    val vocab = docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("df"))
    val vkeys = vocab
      .select(col("term"), col("df"),
        explode(expr(deletionKeysExpr("term"))).as("k"))
    val pkeys = s.sql(s"SELECT explode(array$probesSql) AS probe")
      .select(col("probe"), explode(expr(deletionKeysExpr("probe"))).as("k"))
    val w = Window.partitionBy(col("probe"))
      .orderBy(col("df").desc, col("term"))
    vkeys.join(broadcast(pkeys), "k")
      .select("probe", "term", "df").distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= FuzzyTopK)
      .orderBy("probe", "rank")
  }

  /** i11 result size: the mined hard negatives per query. */
  val HardNegK = 10

  /** i11: hard-negative mining — the contrastive-training data
    * primitive: documents the LEXICAL retriever ranks highly (i03's
    * BM25 shortlist) but the EMBEDDING space places far from the
    * standing query vector (s08's vec 0 identity, doc_id = vec_id)
    * are exactly the "hard negatives" an embedding model trains
    * against — lexically confusable, semantically wrong. Ranked by
    * ascending cosine (most-negative first), top [[HardNegK]], each
    * row carrying both signals (BM25 score + cosine e6) so the
    * training-pair builder can threshold either.
    *
    * Scale shape: everything past the i03 shortlist is ≤ 100 rows —
    * the shortlist broadcasts into an equi-join against the corpus
    * embeddings (doc_id = vec_id hash join, not a scan of all
    * vectors), the query vector is a 1-row broadcast, and the rank
    * window partitions ≤ 100 rows. Docs without a stored vector
    * cannot be scored and drop out (inner join) — documented: a
    * production run mines negatives from the embedded subset by
    * construction. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val short = bm25(s, dir).select("doc_id", "n_matched", "score_e6")
    // norm AFTER the shortlist join (round 16): vecsWithNorm fanned
    // out and normed the whole corpus only for the ≤shortlist rows
    // (and the 1 query row) to survive — the i12 join-before-project
    // class. The per-row norm expression is unchanged (same float_dot
    // fold, same sqrt), so every surviving value is bit-identical.
    val q = Similarity.vecs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"),
        expr(s"sqrt(${Similarity.dotSql("embedding", "embedding")})")
          .as("qnrm"))
    val w = Window.orderBy(col("cs_e6").asc, col("doc_id"))
    Similarity.vecs(s, dir)
      .join(broadcast(short), col("vec_id") === col("doc_id"))
      .filter(col("vec_id") =!= 0) // the query doc is never its own negative
      .withColumn("nrm",
        expr(s"sqrt(${Similarity.dotSql("embedding", "embedding")})"))
      .crossJoin(broadcast(q)) // 1-row standing query vector
      .select(col("doc_id"), col("n_matched"), col("score_e6"),
        floor(expr(Similarity.dotSql("qv", "embedding")) /
          (col("qnrm") * col("nrm")) * 1000000).cast("long").as("cs_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HardNegK)
      .select("rank", "doc_id", "n_matched", "score_e6", "cs_e6")
      .orderBy("rank")
  }

  /** i09 diversification quota: at most 2 results per source survive
    * into the final ranking — the search-engine "host crowding" rule
    * (Google's classic two-per-domain). Interpolated into the
    * oracle. */
  val DiversifyPerSource = 2

  /** i09 final result count. */
  val DiversifiedK = 10

  /** i09: source-diversified retrieval — re-rank the i03 BM25
    * shortlist under a per-source quota ([[DiversifyPerSource]]) and
    * keep the top [[DiversifiedK]]: the result-diversification stage
    * between ranking (i03) and presentation (i05 snippets), and — in
    * a training-data pipeline — the "don't let one mirror dominate
    * the retrieved context" rule of retrieval-augmented dataset
    * construction. Within a source, candidates are ordered by the
    * same (score desc, doc_id) tie-break as the global ranking, so
    * the quota keeps each source's best two; survivors re-rank
    * globally with the identical ordering.
    *
    * Scale shape: everything downstream of the BM25 shortlist
    * operates on ≤ 100 rows (the shortlist is a TakeOrdered, i03's
    * posture) — the source join hits the documents table on the
    * shortlist's doc_ids (broadcast of the ≤100-row side), and both
    * windows partition ≤ 100 rows. Corpus-scale cost is exactly
    * i03's. */
  def diversifiedSearch(s: SparkSession, dir: String): DataFrame = {
    val short = bm25(s, dir).select("doc_id", "n_matched", "score_e6")
    // no fan-out (round 16): this side only probes the ≤100-row
    // broadcast shortlist — no per-row CPU to spread, so the
    // round-robin repartition was a full-table shuffle for nothing
    val src = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("score_e6").desc, col("doc_id"))
    val wAll = Window.orderBy(col("score_e6").desc, col("doc_id"))
    src.join(broadcast(short), "doc_id") // ≤100-row shortlist side
      .withColumn("src_rank", row_number().over(wSrc))
      .filter(col("src_rank") <= DiversifyPerSource)
      .withColumn("rank", row_number().over(wAll))
      .filter(col("rank") <= DiversifiedK)
      .select(col("rank"), col("doc_id"), col("source"),
        col("src_rank"), col("n_matched"), col("score_e6"))
      .orderBy("rank")
  }

  /** t31: source-pair content overlap — exact Jaccard between each
    * pair of sources' DISTINCT shingle-hash sets (the d02 5-gram
    * shingles). This is the corpus-level companion of the
    * document-level dedup family: where d02/d03 find duplicate
    * DOCUMENTS, this reports which SOURCES carry each other's content
    * (mirrors, scraped re-posts, syndication) — the signal a mixture
    * designer (x11/x25) reads before weighting two sources as if they
    * were independent.
    *
    * Scale shape: one distinct on (source, shingle-hash) — a
    * partial-agg'd corpus-scale shuffle whose OUTPUT is the per-source
    * fingerprint set union; the intersection self-join is keyed on the
    * hash and fans out at most C(|sources|, 2) rows per hash
    * (|sources| is catalog-bounded, ~20), so candidate volume is
    * LINEAR in corpus size; everything aggregates to a |sources|²
    * matrix. No document text ever shuffles — hashes only (d02's
    * posture). */
  def sourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sp = shingleHashesMemo(s, dir)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("hv")).as("h"))
      .distinct()
      .transform(Caches.persist) // sizes + both intersection sides share one pass
    val sizes = sp.groupBy("source").agg(count(lit(1)).as("n"))
    sp.as("a")
      .join(sp.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "na"), "source_a")
      .join(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "nb"), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_sz"))
      .withColumn("jac_e6", expr("(1000000L * inter) div union_sz"))
      .orderBy("source_a", "source_b")
  }

  /** t32: source-pair Jaccard ESTIMATE from mergeable per-source
    * MinHash sketches — t31's 100 TB path. t31's exact answer needs a
    * corpus-scale DISTINCT on (source, shingle-hash); this replaces it
    * with the d03 signature algebra (k=32 affine MinHash) exploiting
    * the sketch's mergeability: min_i over a UNION of shingle sets =
    * min of the per-doc mins, so the per-doc signature (a narrow,
    * codegen'd map — no shuffle) reduces per source with a plain
    * partial-agg'd groupBy min.
    *
    * Scale shape: the only corpus-scale shuffle is |docs|·k skinny
    * (source, i, v) long rows, map-side-combined down to |sources|·k
    * before the reduce — vs t31's |distinct shingles| rows. The pair
    * stage is |sources|·k self-joined on the component index: bounded
    * by the source catalog, independent of corpus size. Estimator:
    * matching components / k (the standard MinHash collision
    * estimate); docs with no shingles (< 5 tokens) carry no signature
    * in either engine. */
  def sourceSimilaritySketch(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    sourceSimilaritySketchFrom(shingleHashesMemo(s, dir),
      d.select(col("doc_id"), col("source")))
  }

  /** t32's chain from a prebuilt `shingleHashes` frame + a
    * (doc_id, source) map — the x26 shared-pass form (see
    * [[noveltyFrom]]). */
  def sourceSimilaritySketchFrom(sh: DataFrame,
      srcMap: DataFrame): DataFrame = {
    val merged = sh
      .filter(col("n_sh") > 0)
      .join(srcMap, "doc_id")
      .select(col("source"),
        posexplode(expr(minhashExpr("hv", Dedup.MinhashK))).as(Seq("i", "v")))
      .groupBy("source", "i").agg(min("v").as("v"))
      .transform(Caches.persist) // both sides of the pair join share one reduce
    merged.as("a")
      .join(merged.as("b"),
        col("a.i") === col("b.i") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(when(col("a.v") === col("b.v"), 1L).otherwise(0L))
        .as("match_k"))
      .withColumn("est_jac_e6",
        expr(s"(1000000L * match_k) div ${Dedup.MinhashK}"))
      .orderBy("source_a", "source_b")
  }

  /** Vocabulary cut for t33: drift is measured over the corpus's
    * DriftTopV most frequent terms (ties → term asc) plus one "rest"
    * bucket, making the statistic a true total-variation distance
    * over a (V+1)-category partition of the token stream. */
  val DriftTopV = 200

  /** t33: per-source distribution drift — the total-variation
    * distance between each source's unigram distribution and the
    * corpus distribution, over the top-[[DriftTopV]] terms + rest
    * bucket, with the per-source argmax-drift term as the diagnostic.
    * The curation read: a source whose token distribution sits far
    * from the corpus (machine-generated text, boilerplate farms,
    * wrong-domain scrapes) shows a high tv_e6 long before any
    * document-level quality score moves; the drift term says WHY.
    *
    * Exact-integer discipline: probabilities are floored at e9 by the
    * SAME integer division in both engines (p_e9 = scnt·1e9 div
    * tot_s), so the sum and the final div 2000 are deterministic —
    * no doubles, no log. Magnitude bound: cnt·1e9 needs tot ≤ 9.2e9
    * tokens for BIGINT (≈ 50 GB of text in one local run); past that
    * the accumulators move to DECIMAL(38,0) (q48's convention).
    *
    * Scale shape: ONE tokenize pass feeds a single partial-agg'd
    * (source, term) count — the only corpus-scale shuffle, output
    * bounded by |sources|·vocab (Heaps) and persisted; corpus counts,
    * per-source totals, and the distributed top-V cut (TakeOrdered)
    * all reduce from it; the dense compare grid is |sources|·V rows
    * against two broadcast scalars. */
  def sourceDrift(s: SparkSession, dir: String): DataFrame = {
    val perSrcAll = docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("scnt"))
      .transform(Caches.persist) // corpus counts, totals, and the top-V cut share it
    val corpus = perSrcAll.groupBy("term").agg(sum("scnt").as("cnt"))
    val tot = corpus.agg(sum("cnt").as("tot"))
    val topV = corpus.orderBy(col("cnt").desc, col("term")).limit(DriftTopV)
    val totS = perSrcAll.groupBy("source").agg(sum("scnt").as("tot_s"))
    val grid = totS.crossJoin(broadcast(topV))
      .join(perSrcAll, Seq("source", "term"), "left")
      .na.fill(0L, Seq("scnt"))
      .crossJoin(broadcast(tot))
      .withColumn("p_e9", expr("(scnt * 1000000000L) div tot_s"))
      .withColumn("q_e9", expr("(cnt * 1000000000L) div tot"))
      .withColumn("contrib", abs(col("p_e9") - col("q_e9")))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("contrib").desc, col("term"))
    val drift = grid.withColumn("rn", row_number().over(wTop))
    drift.groupBy(col("source"), col("tot_s"), col("tot"))
      .agg(sum("contrib").as("sum_top"),
        sum("scnt").as("scnt_top"), sum("cnt").as("cnt_top"),
        max(when(col("rn") === 1, col("term"))).as("drift_term"))
      .withColumn("rest_contrib", abs(
        expr("((tot_s - scnt_top) * 1000000000L) div tot_s") -
          expr("((tot - cnt_top) * 1000000000L) div tot")))
      .select(col("source"), col("tot_s").as("n_tokens"),
        expr("(sum_top + rest_contrib) div 2000").as("tv_e6"),
        col("drift_term"))
      .orderBy("source")
  }

  /** i12 geometry, shared with the oracle: R pseudo-relevant docs, E
    * expansion terms, the Rocchio β as an integer divisor (the
    * expansion half-weights into the final score), and the length of
    * the final ranking. */
  val RocchioTopR = 3
  val RocchioExpTerms = 5
  val RocchioBetaDen = 2
  val RocchioShortlist = 10

  /** i12: Rocchio pseudo-relevance feedback — the classic two-round
    * retrieval loop (Rocchio 1971, the PRF baseline every IR stack
    * ships): round 1 ranks with i03's exact-integer BM25; the top
    * [[RocchioTopR]] documents are ASSUMED relevant; their
    * highest-weight non-query terms (tf · idf-ratio, corpus df) form
    * a [[RocchioExpTerms]]-term expansion; round 2 rescores the
    * corpus against the expansion with the SAME BM25 form and blends
    * `score = orig + exp div `[[RocchioBetaDen]]. Documents matching
    * only expansion terms enter the final ranking — the recall gain
    * that motivates PRF.
    *
    * Scale shape: round 1 is i03's plan verbatim (filter before
    * explode, matched rows only). The feedback stages key every
    * corpus-scale pass on a BROADCAST term set: candidate terms come
    * from [[RocchioTopR]] docs (their vocabulary, bounded by R·dl),
    * so the df pass and the round-2 tf pass are narrow explodes
    * probing a broadcast hash side — O(1) per token, matched rows
    * only in the shuffle. No stage depends on corpus² or on an
    * uncapped broadcast. */
  def rocchioFeedback(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        col("tk"))
    val qbase = base
      .select(col("doc_id"), col("dl"),
        expr(s"filter(tk, x -> x IN $HybridTermsIn)").as("qtk"))
      .transform(Caches.persist) // round-1 stats + tf share it (i03's persist)
    val stats = qbase.agg(count(lit(1)).as("nn"), sum("dl").as("ll"))
    val tf1 = qbase.filter(size(col("qtk")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("qtk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df1 = tf1.groupBy("term").agg(count(lit(1)).as("df"))
    val sc1 = bm25ContribOf(tf1, df1, stats).groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_orig"),
        sum("contrib_e6").as("orig_e6"))
    val topR = sc1.orderBy(col("orig_e6").desc, col("doc_id"))
      .limit(RocchioTopR)
    // candidate expansion vocabulary: the R docs' non-query terms.
    // Join BEFORE tokenizing (round 16): `base` carries the tokens()
    // projection, so probing it with the R-doc roster evaluated the
    // corpus-wide tokenize only to keep R documents — Catalyst cannot
    // hoist a join above a projection the join output needs. Joining
    // the raw table first tokenizes exactly R rows (identical rows
    // out: the same explode over the same R documents' tokens), and
    // the branch needs no fan-out — R = 3 rows of work.
    val rtf = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(broadcast(topR.select("doc_id")), "doc_id")
      .select(explode(tokens(col("text"))).as("term"))
      .filter(!col("term").isin(Similarity.HybridQueryTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("rtf"))
    // candidate-term postings: per-(doc, candidate term) tf in ONE
    // corpus tokenize pass (round 17). This frame serves BOTH feedback
    // needs — candidate df (distinct docs per term = its own row
    // count per term, since rows are already (doc, term)-grained) and
    // the round-2 tf of whichever [[RocchioExpTerms]] terms win — so
    // the old separate df pass (distinct-explode) and round-2 pass
    // (filter-before-explode against the winners) collapse into one:
    // 3 corpus tokenizes → 2 (guide §1.2 / §6 read-once). The persist
    // is a skinny post-aggregation (doc_id, dl, term, tf) frame
    // restricted to the R docs' vocabulary — the capped-postings
    // class, never raw text.
    val candTf = base
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
      .join(broadcast(rtf.select("term")), "term")
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .transform(Caches.persist)
    val dfCand = candTf.groupBy("term").agg(count(lit(1)).as("df"))
    val expTerms = rtf.join(dfCand, "term").crossJoin(broadcast(stats))
      .select(col("term"), col("df"),
        (col("rtf") * expr(Bm25IdfExpr)).as("w"))
      .orderBy(col("w").desc, col("term")).limit(RocchioExpTerms)
    // round 2: same scorer over the expansion term set — the E
    // winners select their rows straight out of the shared candidate
    // postings (identical rows to re-tokenizing and filtering: tf
    // grouping commutes with the term-subset restriction)
    val tf2 = candTf
      .join(broadcast(expTerms.select("term")), "term")
      .select("doc_id", "dl", "term", "tf")
    val sc2 = bm25ContribOf(tf2, dfCand, stats).groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_exp"),
        sum("contrib_e6").as("exp_e6"))
    val w = Window.orderBy(col("score_e6").desc, col("doc_id"))
    sc1.join(sc2, Seq("doc_id"), "full")
      .na.fill(0L, Seq("orig_e6", "exp_e6"))
      .na.fill(0, Seq("n_orig", "n_exp"))
      .withColumn("score_e6",
        col("orig_e6") + expr(s"exp_e6 div $RocchioBetaDen"))
      .orderBy(col("score_e6").desc, col("doc_id")).limit(RocchioShortlist)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("n_orig"), col("n_exp"),
        col("orig_e6"), col("exp_e6"), col("score_e6"))
      .orderBy("rank")
  }

  /** t35 feature-hash space: unigrams + word bigrams hashed into
    * [[ClsBuckets]] buckets — the fastText bag-of-ngrams layout. */
  val ClsBuckets = 4096L

  /** t35 weight magnitude bound: pseudo-weights land in
    * [-ClsWeightE6, ClsWeightE6] on the e6 fixed-point scale. */
  val ClsWeightE6 = 100000L

  /** t35: hashed linear quality classifier — fastText-style model
    * INFERENCE, the model-based filtering step (fastText/DCLM-class
    * quality classifiers) that rule-based t02 cannot express. Each
    * document's unigram + bigram features hash into [[ClsBuckets]]
    * buckets; the document score is the sum of the bucket weights it
    * hits (with multiplicity — term frequency weighting), and the
    * keep decision is score ≥ 0. The weight TABLE here is derived
    * deterministically from the bucket id (a Knuth-multiplicative
    * scramble onto [-[[ClsWeightE6]], [[ClsWeightE6]]]) — this gate
    * pins the *serving shape* for an EXTERNAL weight artifact (a
    * corpus-scale feature stream joined against a bounded weight
    * table), exactly the langId precedent. The IN-CONTAINER trained
    * model lives one function below: t36 ([[classifierTrain]]) trains
    * it, t37 ([[classifierEval]]) accepts it on held-out confusion,
    * and x33 ([[Pipeline.finalAssemblyTrained]]) serves it in the
    * final assembly.
    *
    * Scale shape: features are a narrow per-row explode to skinny
    * (doc_id, bucket) longs; the weight side is [[ClsBuckets]] rows
    * BY CONSTRUCTION (a model artifact, independent of corpus size) —
    * the broadcast hint is the legal kind the PlanSpec allowlist
    * enrolls; the score-sum groupBy partial-aggregates 8-byte keys.
    * The keep rule compares the integer SUM against zero (no
    * division, so no trunc-vs-floor cross-engine hazard on negative
    * scores). */
  def classifierScore(s: SparkSession, dir: String): DataFrame = {
    val w = s.range(ClsBuckets)
      .select(col("id").as("bucket"),
        (((col("id") + 1L) * lit(2654435761L)) % lit(P)
          % lit(2L * ClsWeightE6 + 1L) - lit(ClsWeightE6)).as("w_e6"))
    clsFeatures(s, dir)
      .join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("w_e6").as("score_sum_e6"))
      .withColumn("keep_cls", (col("score_sum_e6") >= 0L).cast("int"))
      .orderBy("doc_id")
  }

  /** The fastText-style hashed feature stream (unigrams + word
    * bigrams → [[ClsBuckets]] buckets), one row per feature
    * OCCURRENCE — the ONE featurization shared by t35 (inference)
    * and t36 (training), so the two sides of the model can never
    * disagree on tokenize/hash/bucket. `source` rides along for
    * t36's label rule; t35 prunes it. */
  private def clsFeatures(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        expr(s"concat(tk, ${ngramsExpr("tk", 2)})").as("fts"))
      .select(col("doc_id"), col("source"),
        explode(expr(hashArrayExpr("fts", P))).as("h"))
      .select(col("doc_id"), col("source"),
        (col("h") % ClsBuckets).as("bucket"))

  /** t36/t37 geometry, shared with the unrolled oracle: fixed update
    * rounds, the per-class hard-example budget, and the bias bucket
    * (one always-on feature per document, appended AFTER the hashed
    * token space so t35's external-artifact gate is untouched). */
  val PerceptronRounds = 16
  val ClsHardK = 128L
  val ClsBiasBucket: Long = ClsBuckets

  /** t36: quality-classifier TRAINING — the missing half of t35,
    * whose scaladoc notes no trained model shipped in this container.
    * The model DISTILLS the rule-based quality gate: labels come from
    * t02's keep decision (positive = passes the length/punct/TTR
    * stack), and the classifier learns to reproduce that decision
    * from t35's hashed unigram+bigram bag — the published practice of
    * training a cheap hashed linear model on heuristic labels so the
    * filter generalizes past the rule and serves at token cost
    * (fastText-style quality classifiers: CCNet, DataComp-LM's
    * fastText filter trained on heuristically chosen positives).
    *
    * WHY NOT the CCNet trusted-SOURCE convention (round-11's rule,
    * positives = sources src0..4): measured on this fixture the
    * source classes are statistically indistinguishable in the
    * feature space — max per-bucket two-sample |t| over all 4096
    * buckets is 3.7 at sf0.01 AND 3.6 at sf0.1 (chance level for
    * 4096 trials; a logistic probe reaches exactly majority
    * accuracy), because the generator draws every source's text from
    * the same distribution. No linear (or any) model can beat
    * majority on those labels, so round 11's model served nothing —
    * t37's acceptance check exposed it. The quality-rule labels ARE
    * learnable (the t37 gate records ~94–98 % held-out accuracy with
    * a populated confusion quadrant at every SF).
    *
    * The optimizer is a class-stratified HARD-EXAMPLE batch
    * perceptron: per round, margins for every labeled doc (Σ tf·w
    * + bias, the always-on [[ClsBiasBucket]] feature that lets the
    * model express the rule's length thresholds); then the
    * [[ClsHardK]] most-misclassified documents OF EACH CLASS (lowest
    * y·margin, ties by doc_id) contribute y·tf. Stratifying the
    * update bounds it (≤ 2·[[ClsHardK]] docs) and balances it by
    * construction — the plain full-batch update oscillates between
    * the all-positive and all-negative states under class imbalance
    * (measured: a 2-cycle at every SF), which is the textbook batch-
    * perceptron failure the hard-example budget fixes. Rate-free,
    * exact-integer (tf, y, margins, weights are BIGINT sums — no
    * float, no division anywhere, so no trunc-vs-floor hazard), and
    * deterministic: the gate is an exact hash match.
    *
    * Output: the trained weight table — [[ClsBuckets]]+1 rows (the
    * hashed space + bias), the model artifact x33 serves and t37
    * accepts on held-out confusion.
    *
    * Scale shape: the canonical distributed linear-model loop — per
    * round ONE margin pass over the persisted labeled feature stream
    * joined against the ≤[[ClsBuckets]]+1-row broadcast weight state,
    * two TakeOrdered top-K cuts (per-partition top-K then a bounded
    * merge — never a global sort), and a delta aggregation probing
    * the ≤2·[[ClsHardK]]-row broadcast selection; state is
    * localCheckpoint-ed each round so R rounds chain linearly.
    * Weight state never touches the driver.
    *
    * The label space is GUARDED in-plan (see [[labeledFeatures]]):
    * both label classes must be non-empty or the query fails loudly.
    * The trained table is memoized per (session, dir)
    * ([[clsWeightsMemo]] — EAGER ON CONSTRUCTION) and served by x33. */
  def classifierTrain(s: SparkSession, dir: String): DataFrame =
    clsWeightsMemo(s, dir).orderBy("bucket")

  /** The distillation label per document: +1 iff the t02 quality
    * gate keeps it. The stat expressions replicate [[quality]]'s
    * chain VERBATIM (same lowercase, same regex, same e6 floors) and
    * the decision is the shared [[qualityKeepCond]], so the label and
    * the t02 gate cannot drift. `source` rides along for t37's
    * per-source confusion rollup. */
  private[operators] def qualityLabels(
      s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        length(col("t")).as("n_chars_seen"),
        length(regexp_replace(col("t"), "[a-z0-9\\s]", "")).as("n_punct"),
        split(col("t"), "\\s+").as("tk"))
      .select(col("doc_id"), col("source"), col("n_chars_seen"),
        size(col("tk")).as("n_toks"),
        e6(col("n_punct") / col("n_chars_seen")).as("punct_ratio_e6"),
        e6(size(array_distinct(col("tk"))) / size(col("tk"))).as("ttr_e6"))
      .select(col("doc_id"), col("source"),
        when(qualityKeepCond, 1L).otherwise(-1L).as("y"))

  /** t36's label-space refusal as a 1-row guard frame over any
    * labeled frame with a ±1 `y` column — factored so the guard-sweep
    * spec can fire it on a synthetic single-class input. */
  private[graft] def labelGuard(lab: DataFrame): DataFrame =
    lab
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))
      .select(assert_true(
        coalesce(col("np"), lit(0L)) > 0L &&
          coalesce(col("nn"), lit(0L)) > 0L,
        // coalesce in the MESSAGE too: on an empty corpus the sums
        // are NULL and a NULL concat operand would null the whole
        // refusal text (raise_error(NULL) — the guard would fire
        // nameless; the guard-sweep spec caught exactly this)
        concat(lit("classifier distillation labels are degenerate " +
          "(n_pos, n_neg): "), coalesce(col("np"), lit(0L)), lit(", "),
          coalesce(col("nn"), lit(0L)), lit(" — did a testdata refresh " +
            "break the quality rule?"))).as("label_ok"))

  /** The labeled per-doc feature stream (doc_id, source, y, bucket,
    * tf) shared by t36 (full-corpus training), t37 (split training +
    * held-out eval) and, through [[clsWeightsMemo]], x33 (serving) —
    * one labeling + featurization, so no consumer can disagree on it.
    * Rows: the tf-grouped hashed token features UNION one always-on
    * [[ClsBiasBucket]] row per labeled document (tf = 1) — the bias
    * lets a linear model express the quality rule's length
    * thresholds, and guarantees even a token-less document is
    * represented (it scores sign(w_bias)).
    *
    * In-plan label-space GUARD (the d21 assert_true idiom): a
    * testdata refresh that degenerates the quality rule (every doc
    * passes, or none does) would otherwise silently train a
    * single-class model. A 1-row crossJoin'd assert_true fails the
    * query loudly unless BOTH classes are non-empty (an empty corpus
    * also fails — training on nothing is an error, unlike d21's
    * report-0-rows case). The guard aggregates the label frame — one
    * narrow pass, not a second corpus tokenize. */
  private[operators] def labeledFeatures(
      s: SparkSession, dir: String): DataFrame = {
    val lab = qualityLabels(s, dir)
    val guard = labelGuard(lab)
    val tok = clsFeatures(s, dir)
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
    val bias = lab.select(col("doc_id"),
      lit(ClsBiasBucket).as("bucket"), lit(1L).as("tf"))
    tok.unionByName(bias)
      .join(lab, "doc_id") // doc-level label join (adds source, y)
      .crossJoin(broadcast(guard)) // 1-row guard rides the plan
      .filter(col("label_ok").isNull) // always true; forces evaluation
      .select("doc_id", "source", "y", "bucket", "tf")
  }

  /** Build-once labeled feature stream per (session, dir), EAGER ON
    * CONSTRUCTION. Round-15 verdict item 5: cls_weights (t36/x33's
    * full-corpus training) and cls_eval (t37's split training +
    * scoring) each rebuilt this corpus-scale tokenize+hash+label pass
    * inside their own builds — together ~35 s of the sf0.1 cold
    * start. One materialized frame now serves both trainings (and the
    * label guard fires here, at the shared build, exactly once).
    * Production analog: featurize once, train N model variants from
    * the artifact. */
  private[operators] val labeledFeaturesMemo =
    Memo("labeled_features")(labeledFeatures)

  /** The hard-example batch-perceptron loop over a labeled feature
    * stream — the t36 scaladoc's recurrence, factored out so t36
    * (full corpus) and t37 (train fold) run LITERALLY the same loop.
    * The caller persists `ft`. Per round: margins (one pass over ft
    * against the broadcast state), the per-class [[ClsHardK]]
    * most-misclassified cut (TakeOrdered — per-partition top-K, never
    * a global sort), and the delta aggregate over the ≤2·[[ClsHardK]]
    * selected docs; the margin frame persists only within its round
    * so the two class cuts and the selection read one materialization. */
  private def trainWeights(s: SparkSession, ft: DataFrame): DataFrame = {
    import s.implicits._
    // Weight state lives on the DRIVER as ClsBuckets+1 longs — bounded
    // BY CONSTRUCTION (model state, corpus-independent), the i14
    // driver-walk precedent, and the round-17 rework of this loop
    // (guide §1.2): the DataFrame-resident state cost every round a
    // broadcast-collect of the checkpointed w, a 4097-row update join,
    // and an eager state checkpoint job — pure bookkeeping around the
    // two passes over `ft` that are the round's real work. Now each
    // round is exactly those two jobs: (1) margins + the per-class
    // hard-example TakeOrdered cut (collected: ≤2·ClsHardK ids),
    // (2) the delta aggregate over the selected docs (collected:
    // ≤ClsBuckets+1 rows). The weight table broadcast each round is a
    // LocalRelation — no job to build. Arithmetic is the identical
    // exact-integer recurrence: same margins, same cut order
    // (ym asc, doc_id asc), same long additions, so the trained table
    // is bit-identical (t36/t37 gates re-prove it).
    val w = new Array[Long]((ClsBuckets + 1).toInt)
    def wDf = w.indices.map(i => (i.toLong, w(i))).toDF("bucket", "w")
    // One doc_id exchange, paid ONCE: the checkpointed feature memo
    // carries UnknownPartitioning (a checkpoint scan forgets its
    // layout — the round-15 fingerprint finding), so every round's
    // margin groupBy(doc_id, y) re-shuffled the stream. Repartition by
    // doc_id and cache it for the training loop (its own cache scope
    // frees it before the caller scores anything): HashPartitioning
    // (doc_id) satisfies the margin aggregate's (doc_id, y) clustering
    // (and the broadcast weight join preserves it), so all
    // [[PerceptronRounds]] margin passes run exchange-free over the
    // cached blocks (guide §2.4: operations keyed the same way share
    // one exchange). Skinny (doc_id, y, bucket, tf) longs — the same
    // cached footprint class the old per-round persist had.
    // Partition count is DATA-derived (≈2M skinny rows ≈ 64 MB per
    // partition), not core-count-derived: AQE's coalescing cannot
    // reach inside a cached plan (it would change the partitioning
    // the cache exists to preserve), and 2·PerceptronRounds scans of
    // a tiny stream split cpu-count ways pay a full task-wave latency
    // per job for nothing. At 100 TB the same formula gives
    // thousands of partitions (guide §2.2 "fewer, larger partitions",
    // round rules: derive from input size, never the local core
    // count).
    val ftRows = ft.count()
    val ftParts = math.max(1L, (ftRows + 1999999L) / 2000000L).toInt
    Caches.scoped {
      val ftp = ft.select("doc_id", "y", "bucket", "tf")
        .repartition(ftParts, col("doc_id")).transform(Caches.persist)
      for (_ <- 1 to PerceptronRounds) {
        // the per-class hard-example cut as ONE rank-window subtree
        // (row_number ≤ K over partitionBy(y) — identical rows to the
        // old two orderBy.limit(K) cuts: same total order (ym, doc_id),
        // disjoint classes, doc_id unique so no ties). The rank filter
        // gets the Partial WindowGroupLimit below its exchange (the
        // PlanSpec-pinned map-side top-k), so no task ever holds more
        // than K misclassified rows per class — and the round needs no
        // union, no intermediate persist, one driver roundtrip.
        val wCut = Window.partitionBy(col("y"))
          .orderBy(col("ym").asc, col("doc_id").asc)
        val selIds = ftp.join(broadcast(wDf), "bucket")
          .groupBy("doc_id", "y")
          .agg(sum(col("tf") * col("w")).as("m"))
          .withColumn("ym", col("y") * col("m"))
          .filter(col("ym") <= 0L) // misclassified only
          .withColumn("rk", row_number().over(wCut))
          .filter(col("rk") <= ClsHardK)
          .select("doc_id")
          .collect().map(_.getLong(0)).toSeq // ≤2·ClsHardK ids, one job
        // empty cut (every doc classified correctly) ⇒ the delta is
        // empty by construction — skip the pass instead of running it
        if (selIds.nonEmpty)
          ftp.filter(col("doc_id").isin(selIds: _*))
            .groupBy("bucket").agg(sum(col("y") * col("tf")).as("dw"))
            .collect() // ≤ClsBuckets+1 rows, one job
            .foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
      }
    }
    wDf
  }

  /** Build-once trained weight table — t36's full-corpus model:
    * [[ClsBuckets]] rows shared by t36 (the gated artifact) and x33
    * (serving it in the final assembly), exactly as a production
    * pipeline trains once and every downstream filter reads the weight
    * artifact from storage. EAGER ON CONSTRUCTION: the first call per
    * (session, dir) runs the 4-round training loop; the memo's
    * checkpoint of the driver-built table is probed like every memo. */
  private[operators] val clsWeightsMemo = Memo("cls_weights")((s, dir) =>
    trainWeights(s, labeledFeaturesMemo(s, dir)))

  /** Keep set under the TRAINED model (x33's filter): documents whose
    * perceptron margin under [[clsWeightsMemo]]'s weights is > 0 —
    * sign(0) resolves NEGATIVE, matching the training rule that a
    * zero margin counts as misclassified for the positive class.
    * Featurization is training's: hashed token occurrences + the
    * always-on bias row. The weight side is [[ClsBuckets]]+1 rows BY
    * CONSTRUCTION (bounded model state — the legal broadcast class);
    * the margin is one partial-agg'd doc_id groupBy over the feature
    * stream (tf multiplicity carried by row multiplicity, so no
    * pre-aggregation shuffle is needed). */
  private[operators] def trainedKeep(s: SparkSession, dir: String): DataFrame =
    trainedMargins(s, dir)
      .filter(col("m") > 0L)
      .select("doc_id")

  /** Every document's margin under the trained weights — the frame
    * [[trainedKeep]] thresholds; exposed so the streaming serving
    * twin (StreamClassifier) can pin exact batch equivalence. */
  private[graft] def trainedMargins(s: SparkSession, dir: String): DataFrame =
    clsFeatures(s, dir).select("doc_id", "bucket")
      .unionByName(docs(s, dir)
        .select(col("doc_id"), lit(ClsBiasBucket).as("bucket")))
      .join(broadcast(clsWeightsMemo(s, dir)), "bucket")
      .groupBy("doc_id").agg(sum(col("w")).as("m"))

  /** t37 holdout rule: LCG(doc_id) mod this == 0 → held out (~20 % of
    * documents) — deterministic and engine-portable, the d21 chunk
    * LCG applied to the eval-split problem. */
  val EvalFolds = 5L

  /** t37: classifier EVALUATION — the acceptance check that closes
    * t36's train→serve loop (the CCNet discipline: never ship a
    * quality filter without held-out confusion numbers). The corpus
    * splits deterministically into train (~80 %) and holdout (~20 %)
    * folds by [[EvalFolds]]; a perceptron is trained — LITERALLY
    * [[trainWeights]], t36's loop — on the train fold ONLY, then
    * every document (both folds) is scored under the trained weights
    * and compared against its distillation label (t02's quality
    * decision). Output: one row per (source, holdout) cell — document
    * census, keep count (margin > 0, the serving rule), and the full
    * confusion quadrant (tp/fp/fn/tn vs the labels). The holdout=1
    * rows are the numbers a curation owner accepts or rejects the
    * filter on (did the distilled model actually learn the rule it
    * must generalize?); the holdout=0 rows expose train-fold overfit
    * by contrast. This check is also what caught round 11's
    * source-seeded labels being unlearnable — see [[classifierTrain]].
    *
    * Exact-integer discipline throughout (t36's): margins and counts
    * are BIGINT sums, the keep rule is a strict integer comparison —
    * no float anywhere, so the gate is exact.
    *
    * Scale shape: t36's — the labeled feature stream persists once
    * and serves both the training rounds (train fold) and the
    * final scoring pass (all docs), and the build's cache scope
    * frees it (the ~40-row card is checkpoint-materialized); every
    * weight join is the ≤[[ClsBuckets]]+1-row broadcast class; the
    * confusion rollup is a partial-agg'd groupBy on the ~20-row
    * (source, holdout) key.
    * Memoized per (session, dir) — [[clsEvalMemo]], EAGER ON
    * CONSTRUCTION: the split model trains once per corpus, like the
    * offline acceptance run it models. */
  def classifierEval(s: SparkSession, dir: String): DataFrame =
    clsEvalMemo(s, dir).orderBy("source", "holdout")

  /** Build-once t37 acceptance report per (session, dir): the split
    * model trains once and its ~40-row confusion card is read many
    * times (exactly how an offline acceptance check is consumed).
    * EAGER ON CONSTRUCTION: the first call runs the 16-round split
    * training. */
  private[operators] val clsEvalMemo = Memo("cls_eval")((s, dir) =>
    buildClassifierEval(s, labeledFeaturesMemo(s, dir)))

  private def buildClassifierEval(s: SparkSession, ftMemo: DataFrame)
      : DataFrame = {
    // the memoized stream is already checkpoint-materialized — the
    // training rounds and the scoring pass read its blocks directly
    val ft = ftMemo
      .withColumn("holdout",
        (expr(s"((doc_id % ${P}L) * 2654435761L) % ${P}L") % EvalFolds === 0L)
          .cast("int"))
    val w = trainWeights(s, ft.filter(col("holdout") === 0))
    ft.join(broadcast(w), "bucket")
      .groupBy("doc_id", "source", "y", "holdout")
      .agg(sum(col("tf") * col("w")).as("m"))
      .withColumn("pred", when(col("m") > 0L, 1L).otherwise(-1L))
      .groupBy("source", "holdout")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === 1L, 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("y") === -1L && col("pred") === 1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("y") === 1L && col("pred") === -1L, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("y") === -1L && col("pred") === -1L, 1L).otherwise(0L))
          .as("tn"))
  }
}
