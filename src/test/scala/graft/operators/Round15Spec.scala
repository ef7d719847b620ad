package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 laws: the i14 distributed top-fraction selection.
  *
  * Round 15 replaced i14's per-term rank window (whose partition was
  * a whole posting list — Θ(corpus docs) for a stop term) with
  * [[TextAnalysis.prunedPostings]]'s 7-level radix selection. The
  * row-hash oracle pins the top-10 report; these laws pin the part
  * the report can hide: that the SELECTION ITSELF — every kept
  * posting — is identical to the rank-window cut it replaced,
  * including doc_id-asc resolution of contribution ties at the
  * threshold, and across contribution magnitudes that exercise every
  * radix level.
  */
class Round15Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.01"

  /** The OLD semantics, first-principles: per term, sort by
    * (contrib desc, doc_id asc), keep ceil(df·permille/1000). */
  private def windowCut(
      rows: Seq[(String, Long, Long, Long)]): Set[(String, Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      val k = ((ps.head._3 * TextAnalysis.PruneKeepPermille + 999) / 1000).toInt
      ps.sortBy { case (_, id, _, c) => (-c, id) }.take(k)
    }.toSet

  private def runCut(postings: DataFrame): Set[(String, Long, Long, Long)] =
    TextAnalysis.prunedPostings(postings).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("df"), r.getAs[Long]("contrib_e6"))).toSet

  test("i14 threshold cut == rank-window cut on the corpus fixture") {
    val postings = TextAnalysis.indexPruningPostings(spark, dir).persist()
    val rows = postings.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("df"), r.getAs[Long]("contrib_e6"))).toSeq
    val expected = windowCut(rows)
    val got = runCut(postings)
    assert(got == expected,
      s"threshold cut diverges from the window cut: " +
        s"extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // the cut is proportional, not degenerate: strictly fewer
    // postings than the input, strictly more than zero
    assert(got.nonEmpty && got.size < rows.size)
  }

  test("i14 early-exit and deep-descent paths agree with the window cut") {
    import spark.implicits._
    // Round-16 coverage law: the radix walk now EARLY-EXITS a term
    // whose crossing bucket holds ≤512 postings (one driver collect
    // replaces the remaining levels). Small fixtures all exit at
    // level 1, so without this law the multi-level DESCENT (crossing
    // bucket >512) and the level-7 resolution would only ever run
    // inside the refusal-guard test, where the output is never
    // served. One walk exercising every path at once, output-checked:
    //  - "wide": 10,000 dense values → bucket 0 at shifts 54..18
    //    (cnt 10,000 > 512, descends five levels), crossing bucket at
    //    shift 9 holds exactly 512 → early-exits at the LAST moment;
    //  - "deep": 600 values inside [0, 512) → descends to shift 0 and
    //    resolves at value granularity (the finalSel path);
    //  - "quick": 10 postings → early-exits at level 1;
    //  and per-term bookkeeping must keep the three independent.
    val rows =
      (0L until 10000L).map(i => ("wide", i, 10000L, i)) ++
      (0L until 600L).map(i => ("deep", i, 600L, i % 512L)) ++
      (0L until 10L).map(i => ("quick", i, 10L, i * 1000L))
    val postings = rows.toDF("term", "doc_id", "df", "contrib_e6")
      .repartition(4)
    assert(runCut(postings) == windowCut(rows),
      "early-exit/descent walk diverges from the window cut")
  }

  test("i14 threshold ties resolve by doc_id asc, exactly") {
    import spark.implicits._
    // term "a": df=20, k=ceil(20·250/1000)=5. Contributions 100×2
    // then 50×10 — the threshold value 50 is crossed MID-TIE, so the
    // cut must keep both 100s and exactly the 3 smallest doc_ids of
    // the 50-tie (ids 10,11,12), dropping ids 13..19 at the SAME
    // contribution. term "b": df=7, k=ceil(7·250/1000)=2 (ceil
    // rounding bites), all-distinct contribs — plain top-2. term
    // "c": df=4, k=1, ALL FOUR postings share one value — the whole
    // selection is one tie group; only the smallest doc_id survives.
    val rows =
      (0L until 2L).map(i => ("a", i, 20L, 100L)) ++
      (10L until 20L).map(i => ("a", i, 20L, 50L)) ++
      (20L until 28L).map(i => ("a", i, 20L, 10L - (i - 20))) ++
      Seq(("b", 1L, 7L, 7L), ("b", 2L, 7L, 6L), ("b", 3L, 7L, 5L),
        ("b", 4L, 7L, 4L), ("b", 5L, 7L, 3L), ("b", 6L, 7L, 2L),
        ("b", 7L, 7L, 1L)) ++
      (0L until 4L).map(i => ("c", 100L - i, 4L, 777L))
    val postings = rows.toDF("term", "doc_id", "df", "contrib_e6")
      .repartition(4) // the cut must not depend on row layout
    val got = runCut(postings)
    assert(got == windowCut(rows), s"tie resolution diverged: $got")
    assert(got.filter(_._1 == "a").count(_._4 == 50L) == 3)
    assert(got.filter(_._1 == "a").filter(_._4 == 50L).map(_._2).toSet
      == Set(10L, 11L, 12L), "mid-tie cut must keep the smallest doc_ids")
    assert(got.filter(_._1 == "c") == Set(("c", 97L, 4L, 777L)),
      "an all-tie term must keep exactly the smallest doc_id")
  }

  test("i14 radix descent is exact across contribution magnitudes") {
    import spark.implicits._
    // contributions spanning the full long range the BM25 fixed-point
    // can produce: values around 2^60 (level-1 buckets split), around
    // 2^30 (mid levels), single digits (only level 7 splits), and
    // adjacent values differing by 1 at a high magnitude (the exact
    // threshold must separate v from v+1 after seven 9-bit levels).
    val big = 1L << 60
    val rows =
      (0L until 8L).map(i => ("hi", i, 16L, big + i)) ++ // distinct highs
      (8L until 16L).map(i => ("hi", i, 16L, big - 1L)) ++ // tie below
      (0L until 12L).map(i => ("mid", i, 12L, (1L << 30) + (i % 3))) ++
      (0L until 9L).map(i => ("lo", i, 9L, i % 4))
    val postings = rows.toDF("term", "doc_id", "df", "contrib_e6")
      .repartition(5)
    val got = runCut(postings)
    assert(got == windowCut(rows),
      s"radix selection diverges at magnitude extremes: $got")
  }

  test("BucketedWindow.rank == plain window rank, under skew and ties") {
    import spark.implicits._
    // a deliberately nasty frame: one hot part (1000 rows), one tiny
    // part, heavy order-key ties (both inside buckets and straddling
    // rows of equal leading key), empty buckets in between, and a
    // secondary tiebreak column — the two forms must agree ROW BY ROW
    val rows = (0 until 1000).map(i =>
        ("hot", (i % 7).toLong * 100L, (1000 - i).toLong)) ++
      Seq(("cold", 5L, 1L), ("cold", 5L, 0L), ("cold", 9999L, 7L))
    val df = rows.toDF("src", "k", "tie").repartition(7)
    val plain = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("k"), col("tie"))).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = BucketedWindow.rank(df, Seq("src"),
        shiftright(col("k"), 8), Seq(col("k"), col("tie")), "rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == plain, s"bucketed rank diverges: " +
      s"extra=${(got -- plain).take(3)} missing=${(plain -- got).take(3)}")
  }

  test("BucketedWindow.runningSum == plain window prefix sum") {
    import spark.implicits._
    val rows = (0 until 800).map(i =>
      (if (i % 5 == 0) "a" else "b", i.toLong, (i % 13).toLong + 1L))
    val df = rows.toDF("src", "id", "v").repartition(5)
    val plain = df.withColumn("s", sum("v").over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy("id").rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    val got = BucketedWindow.runningSum(df, Seq("src"),
        shiftright(col("id"), 6), Seq(col("id")), col("v"), "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    assert(got == plain, s"bucketed prefix sum diverges")
  }

  test("x11/x04/x26 bucketed forms equal their plain-window replicas") {
    // the gated row-hash oracle already pins these (the DuckDB SQL is
    // the plain window form); this law pins them IN-ENGINE at a
    // second fixture so a Spark-side divergence cannot hide behind an
    // oracle quirk. sf0.001 keeps the replica windows cheap.
    val d = "/root/testdata/sf0.001"
    val mix = Curation.mixtureSample(spark, d).collect()
      .map(_.toString).toSet
    val h2 = graft.operators.TextHash.rollingHashExpr("t", TextHash.P2)
    val mixBase = graft.engine.Tables.t(spark, d, "documents")
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("source"), expr(h2).as("h2"))
    val mixRep = mixBase
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("h2"), col("doc_id"))))
      .crossJoin(broadcast(mixBase.agg(count(lit(1)).as("nt"),
        countDistinct(col("source")).as("ns"))
        .select(expr("(nt div 2L) div ns").as("quota"))))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"))
      .orderBy("source", "rk").collect().map(_.toString).toSet
    assert(mix == mixRep, "x11 diverges from the plain-window replica")
    val pack = Curation.packing(spark, d).collect().map(_.toString).toSet
    val packRep = graft.engine.Tables.t(spark, d, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.operators.TextHash.tokens(col("text"))).cast("long")
          .as("n_toks"))
      .withColumn("end_tok", sum("n_toks").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy("doc_id").rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("start_tok", col("end_tok") - col("n_toks"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("start_tok"),
        expr("start_tok div 256L").as("bin_first"),
        expr("(end_tok - 1) div 256L").as("bin_last"))
      .collect().map(_.toString).toSet
    assert(pack == packRep, "x04 diverges from the plain-window replica")
    // x26's median: the census selection equals a rank-based median
    // over every per-source novelty list, replayed in plain Scala
    val nvRows = graft.operators.TextAnalysis
      .noveltyFrom(graft.operators.TextHash.shingleHashesMemo(spark, d))
      .join(graft.engine.Tables.t(spark, d, "documents")
        .select("doc_id", "source"), "doc_id")
      .select("source", "novelty_e6").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val medRep = nvRows.groupBy(_._1).map { case (src, xs) =>
      val v = xs.map(_._2).sorted
      src -> v((v.length + 1) / 2 - 1)
    }
    val med = Pipeline.pretrainCard(spark, d)
      .select("source", "med_novelty_e6").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(medRep.forall { case (s, m) => med.get(s).contains(m) },
      s"x26 median diverges: got $med expected $medRep")
  }

  test("keep-best arg-max aggregate == per-cluster rank window") {
    import spark.implicits._
    // the 100-TB failure shape: one boilerplate mega-cluster with
    // thousands of members and heavy score ties (i % 17 collides
    // ~300 deep), plus a two-member tie cluster and a singleton; the
    // aggregate must pick exactly the old window's rank-1 row
    val rows = (0L until 5000L).map(i => (0L, i, i % 17)) ++
      Seq((1L, 10L, 5L), (1L, 11L, 5L), (2L, 42L, 0L))
    val members = rows.toDF("cluster_id", "id", "score")
      .withColumn("cluster_sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .repartition(6)
    val plain = members.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rn") === 1)
      .select("cluster_id", "id", "cluster_sz", "score")
      .collect().map(_.toString).toSet
    val got = DupCluster.bestPerCluster(members, "id", "score")
      .select("cluster_id", "id", "cluster_sz", "score")
      .collect().map(_.toString).toSet
    assert(got == plain, s"bestPerCluster diverges: $got")
  }

  test("keep-best plans carry no window at all") {
    // the rework's point, pinned structurally: d07/d10/m08/s12 select
    // their representative with a partial-aggregable hash aggregate —
    // a Window node anywhere in the plan means the per-cluster
    // single-task sort is back (a dup cluster has NO construction
    // bound; one template's near-dups are Θ(corpus))
    val qs = Seq("d07_keep_best", "d10_keep_best_embedding",
      "m08_keep_best_media", "s12_semantic_reps")
    for (q <- qs) {
      val wins = graft.SparkEntry.queries(q)(spark, dir).queryExecution
        .optimizedPlan.collectWithSubqueries {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      assert(wins.isEmpty, s"$q plans a window again:\n${wins.headOption}")
    }
  }

  test("i14 plan has no per-term rank window over the postings") {
    // the point of the round-15 rework: the only windows left in the
    // pruned branch run over ≤512-row radix histograms (ordered by
    // bucket) and the guarded threshold tie set (ordered by doc_id).
    // A window ORDERING BY THE CONTRIBUTION would mean the per-term
    // posting-list sort is back; pin its absence in the final plan.
    val p = TextAnalysis.indexPruning(spark, dir).queryExecution
      .optimizedPlan.toString
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("contrib_e6#"))
    assert(bad.isEmpty,
      s"per-term contribution rank window resurfaced:\n${bad.mkString("\n")}")
  }
}
