package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-9 source-overlap pair (t31 exact
  * Jaccard, t32 MinHash sketch) that the row-hash oracle can't
  * express: symmetry-free pair geometry, Jaccard bounds, the
  * sketch-vs-exact estimator accuracy, and the mergeability fact that
  * makes t32 the 100 TB path (the per-source sketch equals the sketch
  * of the unioned shingle sets). */
class Round9Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.01"

  test("t31: pair geometry and Jaccard algebra hold") {
    val rows = TextAnalysis.sourceSimilarity(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[String]("source_a")
      val b = r.getAs[String]("source_b")
      assert(a < b, s"unordered pair ($a,$b) — symmetric duplicates possible")
      val inter = r.getAs[Long]("inter")
      val union = r.getAs[Long]("union_sz")
      assert(inter >= 1 && union >= inter,
        s"($a,$b): inter=$inter union=$union breaks set algebra")
      val jac = r.getAs[Long]("jac_e6")
      assert(jac == 1000000L * inter / union && jac <= 1000000L)
    }
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "duplicate source pairs")
  }

  test("t32: k=32 sketch tracks t31's exact Jaccard within MinHash error") {
    val exact = TextAnalysis.sourceSimilarity(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("jac_e6"))
      .toMap
    val est = TextAnalysis.sourceSimilaritySketch(spark, dir).collect()
    assert(est.nonEmpty)
    // every exact pair is covered (the sketch join emits ALL pairs)
    val estKeys = est.map(r => (r.getString(0), r.getString(1))).toSet
    assert(exact.keySet.subsetOf(estKeys),
      s"sketch missing pairs: ${exact.keySet -- estKeys}")
    val errs = est.map { r =>
      val e = r.getAs[Long]("est_jac_e6")
      assert(e == 1000000L * r.getAs[Long]("match_k") / Dedup.MinhashK)
      math.abs(e - exact.getOrElse((r.getString(0), r.getString(1)), 0L))
    }
    // k=32 std-err at j=.05 is ~.039; observed max .068 / mean .0027 at
    // the gate SF — bounds at ~5 sigma / ~8x mean leave refresh headroom
    assert(errs.max <= 200000L, s"max |est-exact| ${errs.max} > 0.2")
    assert(errs.sum / errs.length <= 20000L,
      s"mean |est-exact| ${errs.sum / errs.length} > 0.02")
  }

  test("t32: per-source sketch is the merge of its docs' sketches") {
    // mergeability IS the scale claim: component-wise min over each
    // source's per-doc signatures must equal the source sketch the
    // operator computes (min over the unioned shingle-hash multiset)
    import org.apache.spark.sql.functions._
    import graft.operators.TextHash._
    val d = fanOut(graft.engine.Tables.t(spark, dir, "documents"))
    val perDoc = shingleHashes(d)
      .filter(col("n_sh") > 0)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"),
        expr(minhashExpr("hv", Dedup.MinhashK)).as("sig"))
      .select(col("source"), posexplode(col("sig")).as(Seq("i", "v")))
      .groupBy("source", "i").agg(min("v").as("v"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // independent recompute: merge at the SHINGLE level (flatten all
    // of a source's hashes, one signature over the union)
    val direct = shingleHashes(d)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("hv")).as("h"))
      .groupBy("source").agg(collect_list("h").as("hv"))
      .select(col("source"),
        posexplode(expr(minhashExpr("hv", Dedup.MinhashK)))
          .as(Seq("i", "v")))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(perDoc.keySet == direct.keySet)
    perDoc.foreach { case (k, v) =>
      assert(direct(k) == v, s"sketch not mergeable at $k")
    }
  }

  test("s26: every vector is assigned exactly once per round") {
    import org.apache.spark.sql.functions._
    val out = Similarity.kmeansLloyd(spark, dir)
    val n = graft.engine.Tables.t(spark, dir, "embeddings").count()
    // per dim, the bucket member counts partition the corpus
    out.groupBy("dim").agg(sum("n_vectors").as("s")).collect()
      .foreach(r => assert(r.getAs[Long]("s") == n,
        s"dim ${r.get(0)}: assignments sum to ${r.get(1)}, corpus is $n"))
    // K buckets × 64 dims, no empty-cluster carry at the gate SF
    // (K is data-derived since round 12; the clamp floor applies here)
    val k = math.max(Similarity.KmeansK.toLong,
      math.min(Similarity.KmeansKMax,
        (n + Similarity.SemDedupChunkTarget - 1) /
          Similarity.SemDedupChunkTarget))
    assert(out.count() == k * 64L)
  }

  test("d17: the provenance matrix partitions d03's confirmed pairs") {
    val pairs = Dedup.minhashLshPairs(spark, dir).count()
    val m = Dedup.dupSourceMatrix(spark, dir).collect()
    assert(m.nonEmpty)
    // every confirmed pair lands in exactly one normalized cell
    assert(m.map(_.getAs[Long]("n_pairs")).sum == pairs,
      "matrix cells do not partition the d03 pair set")
    m.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"))
      // n_match is in [16, 32] per pair (the >=50% signature bar)
      val n = r.getAs[Long]("n_pairs"); val s = r.getAs[Long]("sum_match")
      assert(s >= 16 * n && s <= 32 * n,
        s"sum_match $s outside [16n, 32n] for n=$n")
    }
  }

  test("d18: bucket geometry and capture-rate algebra hold") {
    val rows = Dedup.lshRecallReport(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      val n = r.getAs[Long]("n_pairs"); val c = r.getAs[Long]("n_cand")
      assert(b >= 0 && b <= 10, s"bucket $b outside [0, 10]")
      assert(c >= 0 && c <= n, s"bucket $b: captured $c of $n")
      assert(r.getAs[Long]("cap_e6") == 1000000L * c / n)
    }
    // d03's >=50% signature bar should not leak pairs below J=0.5 at
    // the gate SF (measured zero; a small allowance would be the
    // estimator's variance if the corpus changes)
    val leaked = rows.filter(_.getAs[Int]("bucket") < 5)
      .map(_.getAs[Long]("n_cand")).sum
    val below = rows.filter(_.getAs[Int]("bucket") < 5)
      .map(_.getAs[Long]("n_pairs")).sum
    assert(below == 0 || leaked * 10 <= below,
      s"sub-threshold capture $leaked of $below exceeds 10%")
  }

  test("s25: LPA communities refine s11's connected components") {
    // labels only travel along mutual edges, so every LPA community
    // must sit inside ONE connected component — the executable form
    // of 'LPA splits what CC glues, never the reverse'
    val comp = graft.operators.DupCluster.knnComponents(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    val lpa = Similarity.labelPropagation(spark, dir).collect()
    assert(lpa.nonEmpty)
    // same vertex universe: the edge-bearing vectors
    assert(lpa.map(_.getAs[Long]("vec_id")).toSet == comp.keySet)
    lpa.groupBy(_.getAs[Long]("comm")).foreach { case (c, members) =>
      val comps = members.map(r => comp(r.getAs[Long]("vec_id"))).distinct
      assert(comps.length == 1,
        s"community $c spans components $comps — a label crossed a gap")
      // comm_n is consistent within the community
      assert(members.map(_.getAs[Long]("comm_n")).distinct.toSeq ==
        Seq(members.length.toLong))
    }
  }
}
