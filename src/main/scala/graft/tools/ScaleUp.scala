package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Sessions, Tables}

/** Dev tool: build an sf1-equivalent dataset by replicating the big
  * sf0.1 tables `factor`× with re-keyed ids (BASELINE.md's sf1
  * scale-stress section is measured on its output).
  *
  * Replication is structure-preserving WITHIN a replica and
  * decorrelating ACROSS replicas — the realistic way a 10× corpus
  * grows (10× more duplicate clusters of the same size, not 10×
  * bigger clusters):
  *  - documents: every token is salted with a per-replica suffix, an
  *    injective per-replica rename — shingle/minhash/simhash structure
  *    inside a replica is exactly the sf0.1 structure, while replicas
  *    share no shingles at all (so near-dup pair counts grow ×factor,
  *    not ×factor²  as naive text copies would);
  *  - embeddings: per-replica deterministic sign flips (dim d of
  *    replica r is negated iff a Murmur3 bit of (r, d) says so). Both
  *    vectors of a within-replica pair get the same flips, and float
  *    negation is exact, so every within-replica dot product — and
  *    thus the near-dup/ANN geometry — is bit-identical to sf0.1;
  *    cross-replica dot products see independent ±1 factors per term
  *    and decorrelate. Two earlier cuts failed measurably: a circular
  *    dim rotation (these embeddings are smooth enough that a shift by
  *    1..9 keeps cosine high) and LCG-derived flip bits (the flip
  *    sequences of two replicas are the same LCG lattice offset by a
  *    constant, so they agree far above 50% and same-base
  *    cross-replica pairs kept cs ≥ 0.4). Murmur3 has neither failure
  *    mode — measured on the built sf1: 0 of 2000 same-base r0↔r1
  *    pairs reach cs 0.4 (max 0.348), and the cross-replica
  *    different-base tail rate equals the base corpus's own chance
  *    rate (4.6e-4 at cs ≥ 0.4), i.e. replicas behave like
  *    independent draws from the sf0.1 distribution. NOTE the honest
  *    consequence (recorded in BASELINE.md): this table has NO
  *    planted near-dups (zero pairs at cs ≥ 0.8 even at sf0.1), so
  *    its cs ≥ 0.4 "near-dup" population is pure distribution tail
  *    and grows ~C(n,2) quadratically with corpus size — ×107
  *    measured at factor 10 — under ANY faithful scale-up; only the
  *    text tables, whose duplicate pairs are planted and injectively
  *    renamed per replica, grow their pair counts ×factor;
  *  - events: user_id and event_id offsets — ×factor independent
  *    users with sf0.1-shaped activity;
  *  - orders/lineitem: o_custkey/o_orderkey offsets, keeping q51's
  *    per-customer chains sf0.1-length (×factor more chains).
  * Small dimension tables copy through unchanged.
  *
  * The per-replica token salt has one honest blind spot (recorded in
  * BASELINE.md since round 13): FIXED-LITERAL query rosters
  * (i02/i03/i04/i14/s08 probe [[graft.operators.Similarity
  * .HybridQueryTerms]] verbatim) only ever match the embedded
  * original replica, so their document frequencies stay pinned at
  * the source value no matter the factor — the one operator class
  * the salted fixture structurally cannot stress. The `keep-roster`
  * mode (round-15 verdict item 2) closes it: every token EXCEPT a
  * roster term is salted, so roster dfs grow ×factor while
  * everything else keeps the decorrelation story above. The mode is
  * NOT the default because exempted tokens do leak shingles across
  * replicas (an n-gram containing "hash" can collide cross-replica),
  * mildly inflating near-dup candidate counts — use the default
  * fixture for dedup telemetry and the keep-roster fixture for
  * retrieval-df telemetry.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir destDir factor
  *   [keep-roster]]
  */
object ScaleUp {

  val EmbeddingDim = 64

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/tmp/scale/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val keepRoster = args.lift(3).contains("keep-roster")
    // token-start-anchored salt pattern; in keep-roster mode a
    // negative lookahead exempts exact (case-insensitive) roster
    // terms — "scans" still salts when the roster holds "scan".
    // The exemption boundary `(?!\S)` is DELIBERATELY the same
    // delimiter as [[graft.operators.TextHash.tokens]] (whitespace
    // split): a punctuation-adjacent occurrence like "hash," is the
    // single token "hash," under that tokenizer — never a roster df
    // hit — both before salting and after ("hash,x1"), so the
    // ×factor roster-df story is exact, not approximate (round-15
    // ADVICE adjudication). If the tokenizer ever moves to non-word
    // splitting, this boundary must move with it or punctuation-
    // adjacent roster text would start leaking salted df.
    val saltPat =
      if (!keepRoster) "(\\S+)"
      else {
        val alt = graft.operators.Similarity.HybridQueryTerms
          .map(java.util.regex.Pattern.quote).mkString("|")
        s"(?<!\\S)(?!(?i:$alt)(?!\\S))(\\S+)"
      }
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Tables.t(spark, src, name)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      System.err.println(s"[scaleup] wrote $name")
    }
    /** Union of `factor` re-keyed copies of `df`. */
    def replicate(df: DataFrame)(copy: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until factor).map(r => copy(df, r)).reduce(_ unionByName _)

    def offset(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).head.getLong(0) + 1

    val docs = t("documents")
    val docOff = offset(docs, "doc_id")
    write(replicate(docs) { (d, r) =>
      val salted =
        if (r == 0) d
        else d.withColumn("text",
          regexp_replace(col("text"), saltPat, s"$$1x$r"))
      salted
        .withColumn("doc_id", col("doc_id") + lit(r * docOff))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    val emb = t("embeddings")
    val vecOff = offset(emb, "vec_id")
    write(replicate(emb) { (e, r) =>
      val flipped =
        if (r == 0) e
        else e.withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> CASE WHEN " +
            s"(hash($r, i) & 1) = 1 THEN -x ELSE x END)"))
      flipped.withColumn("vec_id", col("vec_id") + lit(r * vecOff))
    }, "embeddings")

    val ev = t("events")
    val evOff = offset(ev, "event_id")
    val userOff = offset(ev, "user_id")
    write(replicate(ev) { (e, r) =>
      e.withColumn("event_id", col("event_id") + lit(r * evOff))
        .withColumn("user_id", col("user_id") + lit(r * userOff))
    }, "events")

    val ord = t("orders")
    val okOff = offset(ord, "o_orderkey")
    val ckOff = offset(ord, "o_custkey")
    write(replicate(ord) { (o, r) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(r * okOff))
        .withColumn("o_custkey", col("o_custkey") + lit(r * ckOff))
    }, "orders")

    write(replicate(t("lineitem")) { (l, r) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(r * okOff))
    }, "lineitem")

    for (name <- Seq("region", "nation", "customer", "supplier", "part"))
      write(t(name), name)

    spark.stop()
  }
}
