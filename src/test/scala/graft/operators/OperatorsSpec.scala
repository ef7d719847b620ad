package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level specs on the sf0.001 fixtures: semantic properties
  * the DuckDB oracle can't express (recall of LSH vs exact methods,
  * determinism, schema shape). */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  test("exact dedup partitions the corpus (sum of copies = row count)") {
    val d = Dedup.exact(spark, dir)
    val total = d.agg(sum("n_copies")).head.getLong(0)
    assert(total == 500L)
  }

  test("jaccard near-dup pairs exist and are high-similarity") {
    val pairs = Dedup.jaccardPairs(spark, dir).collect()
    assert(pairs.length >= 10, "expected planted near-dups")
    pairs.foreach { r =>
      val j = r.getAs[Long]("common").toDouble / r.getAs[Long]("union_sz")
      assert(j >= 0.5)
    }
  }

  test("df-capped jaccard pairs are a high-recall subset of the exact pairs") {
    val exact = Dedup.jaccardPairs(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.jaccardPairs(spark, dir, maxShingleDf = Some(50L))
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((capped -- exact).isEmpty,
      "dropping stop-shingles may lose pairs but must never invent them")
    assert(capped.size >= exact.size / 2,
      s"cap too destructive on this corpus: ${capped.size} of ${exact.size}")
  }

  test("gated jaccard df cap never binds on checked data") {
    // the driver gate runs the capped path; this pins that the cap
    // (chosen ~16x above the max observed shingle df) changes nothing
    // at the checked SFs, so the gate is verifying exact Jaccard
    val exact = Dedup.jaccardPairs(spark, dir).collect().map(_.toString).sorted
    val gated = Dedup.jaccardPairs(spark, dir,
      maxShingleDf = Some(Dedup.JaccardDfCap)).collect().map(_.toString).sorted
    assert(gated.toSeq == exact.toSeq,
      "JaccardDfCap binds at a checked SF; raise the cap")
  }

  test("brute-force near-dup baseline refuses an over-bound corpus") {
    // the O(n²) exact baseline must be impossible to launch by
    // accident at scale: the guard throws before any job beyond the
    // footer count runs (sf0.001 has 500 vectors > the test bound)
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDups(spark, dir, maxVectors = 100L)
    }
    assert(e.getMessage.contains("O(n²)") &&
      e.getMessage.contains("embeddingNearDupsBucketed"),
      s"guard error must name the scale-safe alternatives: ${e.getMessage}")
  }

  test("bucketed embedding near-dups are a non-empty subset of brute force") {
    val brute = Similarity.embeddingNearDups(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.embeddingNearDupsBucketed(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty, "banding found no candidate pairs at all")
    assert((bucketed -- brute).isEmpty,
      "bucketing may lose pairs (LSH recall trade) but must never invent them")
  }

  test("embedding clusters cover exactly the bucketed pair endpoints") {
    val pairs = Similarity.embeddingNearDupsBucketed(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byId = DupCluster.embeddingClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(byId.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet,
      "every paired vector (and only those) must receive a cluster label")
    pairs.foreach { case (a, b) =>
      assert(byId(a) == byId(b), s"pair ($a,$b) split across clusters")
    }
    byId.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min,
        s"cluster id $cid is not the minimum member id")
    }
  }

  test("embedding keep-best picks the largest-norm member per cluster") {
    val members = DupCluster.embeddingClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id"))
    val norms = Similarity.vecNorms(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        math.floor(r.getAs[Double]("nrm") * 1000000).toLong).toMap
    val byCluster = members.groupBy(_._2)
    val reps = DupCluster.keepBestEmbedding(spark, dir).collect()
    assert(reps.map(_.getAs[Long]("cluster_id")).toSet == byCluster.keySet)
    reps.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val rep = r.getAs[Long]("rep_vec_id")
      val ms = byCluster(cid).map(_._1)
      assert(ms.contains(rep), s"rep $rep not a member of cluster $cid")
      assert(ms.forall(m => norms(m) < norms(rep) ||
        (norms(m) == norms(rep) && m >= rep)),
        s"rep $rep is not the largest-norm (ties-to-min-id) member of $cid")
      assert(r.getAs[Long]("rep_norm_e6") == norms(rep))
    }
  }

  test("containment subsumes high-Jaccard pairs in both directions") {
    // J(A,B) ≥ 0.8 ⟹ common ≥ 0.8·|A∪B| ≥ 0.8·max(|A|,|B|) ⟹ BOTH
    // containments ≥ 0.8 — so every J ≥ 0.8 pair of d02 must appear
    // in d12 twice, once per direction. The sf0.001 planted near-dups
    // are all J ≥ 0.8 (28 pairs), so this anchor is live, not vacuous.
    val highJ = Dedup.jaccardPairs(spark, dir)
      .filter(col("common") * 5 >= col("union_sz") * 4)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(highJ.length >= 10, "fixture should plant J >= 0.8 near-dups")
    val contained = Dedup.containmentPairs(spark, dir)
      .select("contained_id", "container_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    highJ.foreach { case (a, b) =>
      assert(contained((a, b)) && contained((b, a)),
        s"J>=0.8 pair ($a,$b) must be mutually contained in d12")
    }
    // every row respects the threshold arithmetic
    Dedup.containmentPairs(spark, dir).collect().foreach { r =>
      val (c, n) = (r.getAs[Long]("common"), r.getAs[Long]("n_contained"))
      assert(c <= n && c * 5 >= n * 4, s"containment row violates 0.8: $r")
    }
  }

  test("novelty bounds follow the shared-shingle counts of near-dups") {
    val nov = TextAnalysis.novelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hashes"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_e6"))).toMap
    assert(nov.nonEmpty)
    nov.values.foreach { case (nh, nn, e6) =>
      assert(nn >= 0 && nn <= nh && e6 >= 0 && e6 <= 1000000)
      assert(e6 == nn * 1000000 / nh, "e6 must be the exact integer ratio")
    }
    // a shingle shared by a near-dup pair has df >= 2, so each member's
    // novel count is bounded by its total minus the pair's common count
    val pairs = Dedup.jaccardPairs(spark, dir)
      .select("ida", "idb", "common").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val c = r.getAs[Long]("common")
      Seq(r.getAs[Long]("ida"), r.getAs[Long]("idb")).foreach { id =>
        val (nh, nn, _) = nov(id)
        assert(nn <= nh - c,
          s"doc $id shares $c shingles but claims $nn of $nh novel")
      }
    }
  }

  test("mixture sample fills each source quota deterministically") {
    val sel = Curation.mixtureSample(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("rk")))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = bySource.values.sum
    val quota = (n / 2) / bySource.size
    sel.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length == math.min(quota, bySource(src)).toInt,
        s"source $src quota not honored")
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq,
        s"ranks not contiguous for $src")
    }
    val again = Curation.mixtureSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(sel.toSet == again.toSet, "selection must be deterministic")
  }

  test("hybrid RRF fuses both retrieval sides consistently") {
    val rows = Similarity.hybridTopK(spark, dir).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Long]("rrf_e6"))
    assert(scores.sameElements(scores.sorted.reverse), "not score-descending")
    rows.foreach { r =>
      val (rt, rv) = (r.getAs[Int]("rank_text"), r.getAs[Int]("rank_vec"))
      assert(rt >= 0 && rt <= Similarity.HybridShortlist)
      assert(rv >= 0 && rv <= Similarity.HybridShortlist)
      assert(rt > 0 || rv > 0, "fused doc absent from both shortlists")
      val expected =
        (if (rt > 0) 1000000 / (60 + rt) else 0) +
          (if (rv > 0) 1000000 / (60 + rv) else 0)
      assert(r.getAs[Long]("rrf_e6") == expected, s"rrf arithmetic drift: $r")
    }
    // a doc present in both shortlists must outrank a same-rank
    // single-side doc: spot the property via the top fused row
    val top = rows.head
    assert(top.getAs[Long]("rrf_e6") >= 1000000 / 61,
      "top fused score below a rank-1 single-side score is impossible")
  }

  test("minhash LSH recalls the exact-jaccard near-dup pairs") {
    val exact = Dedup.jaccardPairs(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // J >= 0.8 pairs are near-certain to share an LSH band (8 bands x 4 rows)
    val recall = (exact & lsh).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.9, s"LSH recall $recall too low (exact=${exact.size}, lsh=${lsh.size})")
  }

  test("simhash pairs overlap heavily with jaccard pairs") {
    val exact = Dedup.jaccardPairs(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & sim).size.toDouble >= 0.5 * exact.size,
      s"simhash found ${(exact & sim).size} of ${exact.size} exact pairs")
  }

  test("ann top-k is correctly ranked and complete") {
    val rows = Similarity.annTopK(spark, dir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("cs_e6"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "similarities must be non-increasing in rank")
    }
  }

  test("lsh ann candidates are a subset ranked consistently with brute force") {
    val brute = Similarity.annTopK(spark, dir, k = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.annLshTopK(spark, dir).collect()
    assert(lsh.nonEmpty)
    // subset property: every LSH (query, neighbor) pair must appear in
    // the brute-force top-100 (k=5 from LSH buckets can't out-rank the
    // exact top-100 unless the bucketing is broken)
    lsh.foreach { r =>
      val pair = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute.contains(pair), s"LSH pair $pair not in brute-force top-100")
    }
    // ranks are 1..k contiguous per query
    lsh.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size))
    }
  }

  test("ivf ann candidates never beat brute force and score consistently") {
    val bruteCs = Similarity.annTopK(spark, dir, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cs_e6")).toMap
    val ivf = Similarity.annIvfTopK(spark, dir).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"ranks not contiguous for query $q")
      // exact-cosine re-rank inside probed buckets can at best tie the
      // unrestricted brute-force top-1
      val best = rs.minBy(_.getAs[Int]("rank")).getAs[Long]("cs_e6")
      assert(best <= bruteCs(q),
        s"IVF top-1 cs $best beats brute-force ${bruteCs(q)} for query $q")
    }
  }

  test("multimodal feature extraction is deterministic and partition-independent") {
    val a = Multimodal.features(spark, dir).collect()
    val b = Multimodal.extractFeatures(
        Multimodal.mediaTable(spark, dir).repartition(7))
      .select(col("doc_id"), col("byte_len"),
        floor(expr("features[0]") * 1000000).cast("long").as("mean_e6"))
      .orderBy("doc_id").collect()
    assert(a.length == b.length && a.length == 500)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getAs[Long]("doc_id") == y.getAs[Long]("doc_id"))
      assert(x.getAs[Long]("mean_e6") == y.getAs[Long]("mean_e6"))
    }
  }

  test("salted join is row-identical to the plain equi-join") {
    val li = graft.engine.Tables.t(spark, dir, "lineitem")
    val part = graft.engine.Tables.t(spark, dir, "part")
    // compare counts AND content (quantity sums are integer-valued, so
    // the double sums are exact): a bug that duplicates one row and
    // drops another within a brand must not pass
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("p_brand").agg(count(lit(1)).as("n"),
          sum("l_quantity").as("sq"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val plain = agg(li.join(part, col("l_partkey") === col("p_partkey")))
    val salted = agg(Skew.saltedJoin(li, part, "l_partkey", "p_partkey", 8))
    assert(salted == plain)
  }

  test("salt spreads a hot key of literally identical rows") {
    // dedup-shaped skew: one key, every row byte-identical. A pure
    // content hash collapses them into ONE salt bucket (the exact
    // skew the salt exists to break); mixing in the partition id must
    // spread them across buckets. Mirror the implementation's salt
    // expression over a multi-partition frame of identical rows.
    import spark.implicits._
    val hot = Seq.fill(512)((42L, "payload")).toDF("k", "v").repartition(8)
    val buckets = hot.select(
        pmod(hash(hot.columns.map(col) :+ spark_partition_id(): _*), lit(8))
          .as("salt"))
      .groupBy("salt").count().collect()
    assert(buckets.length > 1,
      s"identical-row hot key landed in ${buckets.length} salt bucket(s)")
    // and the end-to-end join over that frame stays exact
    val dim = Seq((42L, "d")).toDF("dk", "dv")
    assert(Skew.saltedJoin(hot, dim, "k", "dk", 8).count() == 512)
  }

  test("quality keep-flag and langid produce full coverage") {
    assert(TextAnalysis.quality(spark, dir).count() == 500)
    val preds = TextAnalysis.langId(spark, dir)
      .groupBy("lang_pred").count().collect()
    assert(preds.map(_.getLong(1)).sum == 500)
  }

  test("approximate aggregates track exact within tolerance") {
    val li = graft.engine.Tables.t(spark, dir, "lineitem")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact_d"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_d"),
      expr("percentile(l_quantity, 0.5)").as("exact_med"),
      expr("approx_percentile(l_quantity, 0.5, 1000)").as("approx_med"))
      .head
    val (ed, ad) = (r.getAs[Long]("exact_d"), r.getAs[Long]("approx_d"))
    assert(math.abs(ad - ed).toDouble / ed < 0.05,
      s"approx_count_distinct $ad vs exact $ed")
    val (em, am) = (r.getAs[Double]("exact_med"), r.getAs[Double]("approx_med"))
    assert(math.abs(am - em) / math.max(em, 1.0) < 0.2,
      s"approx_percentile $am vs exact $em")
  }

  test("fingerprints are stable across runs") {
    val a = TextAnalysis.fingerprints(spark, dir).collect()
    val b = TextAnalysis.fingerprints(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("as-of join matches a brute-force per-row scan") {
    val events = graft.engine.Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
    val clicks = events.filter(_.getString(2) == "click")
    val expected = events.filter(_.getString(2) == "purchase").map { p =>
      val cands = clicks.filter(c =>
        c.getLong(1) == p.getLong(1) && c.getLong(3) <= p.getLong(3))
      val best =
        if (cands.isEmpty) None
        else Some(cands.maxBy(c => (c.getLong(3), c.getLong(0))))
      (p.getLong(0), best.map(_.getLong(0)).getOrElse(-1L),
        best.map(c => p.getLong(3) - c.getLong(3)).getOrElse(-1L))
    }.sortBy(_._1).toSeq
    val got = AsofJoin.purchaseClickAsof(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("range join partitions events exactly once") {
    val bands = RangeJoin.eventValueBands(spark, dir).collect()
    val nEvents = graft.engine.Tables.t(spark, dir, "events").count()
    assert(bands.map(_.getAs[Long]("n")).sum == nEvents,
      "every event must land in exactly one band")
  }

  test("duplicate clusters are consistent with the LSH pair graph") {
    val pairs = Dedup.minhashLshPairs(spark, dir)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lab = DupCluster.clusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_sz"))).toMap
    assert(lab.nonEmpty)
    // endpoints of every near-dup pair share a cluster
    pairs.foreach { case (a, b) =>
      assert(lab(a)._1 == lab(b)._1, s"pair ($a,$b) split across clusters")
    }
    // cluster_id is the minimum member; sizes count members
    lab.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(cid == members.keys.min)
      members.values.foreach { case (_, sz) => assert(sz == members.size) }
    }
  }

  test("star-contraction fixpoint equals union-find on adversarial graphs") {
    // The percolation regime the sf1 telemetry exposed (long chains,
    // giant components) is exactly where label propagation and star
    // contraction could diverge if mis-implemented, so pin the
    // algebra against driver-side union-find ground truth on shapes
    // the sf fixtures don't contain: a long path with shuffled ids
    // (worst case for min-spread), a star whose center is NOT the min
    // id, cliques, isolated pairs, and a deterministic random graph.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle((0L until 64L).toVector)
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "path" -> shuffled.sliding(2).map(p => (p(0), p(1))).toSeq,
      "off-center star" -> (0L until 20L).filter(_ != 7L).map(i => (7L, i)),
      "two cliques" -> (for {
        base <- Seq(100L, 200L); i <- 0 until 6; j <- (i + 1) until 6
      } yield (base + i, base + j)),
      "pairs + dupes + reversed" ->
        Seq((1L, 2L), (2L, 1L), (1L, 2L), (5L, 9L), (9L, 5L)),
      "random" -> Seq.fill(120)((rnd.nextLong(48L), rnd.nextLong(48L)))
        .filter(p => p._1 != p._2)
    )
    for ((name, pairs) <- graphs) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- pairs) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(x => x -> find(x)).toMap
      val got = DupCluster.fixpointLabels(pairs.toDF("ida", "idb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"$name: star labels diverge from union-find")
    }
  }

  test("KMV estimate tracks the exact distinct count") {
    val r = Sketches.kmvDistinctShingles(spark, dir).head
    val (kActual, est, exact) = (r.getAs[Long]("k_actual"),
      r.getAs[Long]("est_distinct"), r.getAs[Long]("exact_distinct"))
    if (kActual < Sketches.KmvK) assert(est == exact)
    else assert(math.abs(est - exact).toDouble / exact < 0.2,
      s"KMV est $est vs exact $exact out of tolerance")
  }

  test("histogram quantiles bracket the exact percentiles within one bucket") {
    val exact = Sketches.percentileRanks(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("p50_cents"), r.getAs[Long]("p90_cents"),
          r.getAs[Long]("p99_cents"))).toMap
    val w = Sketches.HistW
    Sketches.histogramQuantiles(spark, dir).collect().foreach { r =>
      val (e50, e90, e99) = exact(r.getAs[String]("l_returnflag"))
      for ((lo, e) <- Seq(
          (r.getAs[Long]("p50_lo_cents"), e50),
          (r.getAs[Long]("p90_lo_cents"), e90),
          (r.getAs[Long]("p99_lo_cents"), e99))) {
        assert(lo <= e && e < lo + w,
          s"exact $e outside histogram bucket [$lo, ${lo + w})")
      }
    }
  }

  test("count-min estimates are one-sided (never undercount)") {
    val rows = Sketches.countMinTopTerms(spark, dir).collect()
    assert(rows.map(_.getAs[Int]("rnk")).toSeq == (1 to 10))
    rows.foreach { r =>
      assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("exact_n"),
        s"CM undercounted ${r.getAs[String]("term")}")
    }
  }

  test("nearest-rank percentiles are ordered and live in the data") {
    val cents = graft.engine.Tables.t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("c"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    Sketches.percentileRanks(spark, dir).collect().foreach { r =>
      val xs = cents(r.getAs[String]("l_returnflag"))
      val (p50, p90, p99, mx) = (r.getAs[Long]("p50_cents"),
        r.getAs[Long]("p90_cents"), r.getAs[Long]("p99_cents"),
        r.getAs[Long]("max_cents"))
      assert(r.getAs[Long]("n") == xs.length)
      assert(p50 <= p90 && p90 <= p99 && p99 <= mx && mx == xs.last)
      // type-1 definition: value at rank ceil(p*n)
      def nr(p: Double) = xs(math.ceil(xs.length * p).toInt - 1)
      assert(p50 == nr(0.5) && p90 == nr(0.9) && p99 == nr(0.99))
    }
  }

  test("funnel steps are chronologically ordered and depth-consistent") {
    val rows = Funnel.viewClickPurchase(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, c, p, d) = (r.getAs[Long]("view_us"), r.getAs[Long]("click_us"),
        r.getAs[Long]("purchase_us"), r.getAs[Int]("depth"))
      if (d >= 1) assert(v >= 0) else assert(v == -1)
      if (d >= 2) assert(c >= v) else assert(c == -1)
      if (d == 3) assert(p >= c) else assert(p == -1)
    }
  }

  test("hash split is deterministic and covers every document") {
    val a = TextAnalysis.hashSplit(spark, dir).collect()
    val b = TextAnalysis.hashSplit(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 500)
    val frac = a.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.length / 500.0).toMap
    // content hashes ~uniform: splits near 80/10/10 (loose bounds)
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"split fractions $frac")
    assert(frac.values.sum == 1.0)
  }

  test("ivf centroids aggregate every vector exactly once per dim") {
    val rows = Similarity.ivfCentroids(spark, dir).collect()
    val nVecs = graft.engine.Tables.t(spark, dir, "embeddings").count()
    // every present (bucket, dim) cell has all 64 dims, and per-dim
    // member counts across buckets partition the corpus
    val byDim = rows.groupBy(_.getAs[Int]("dim"))
    assert(byDim.size == 64)
    byDim.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_vectors")).sum == nVecs)
    }
    rows.foreach { r =>
      val (n, sum, mean) = (r.getAs[Long]("n_vectors"),
        r.getAs[Long]("sum_e6"), r.getAs[Long]("mean_e6"))
      assert(mean == math.floor(sum.toDouble / n).toLong)
    }
  }

  test("dataset-card pipeline composes quality + dedup + split exactly") {
    val keptIds = TextAnalysis.quality(spark, dir)
      .filter(col("keep") === 1).select("doc_id")
    val expectedWinners = graft.engine.Tables.t(spark, dir, "documents")
      .join(keptIds, "doc_id")
      .select(md5(lower(col("text"))).as("m")).distinct().count()
    val card = Pipeline.datasetCard(spark, dir).collect()
    assert(card.map(_.getAs[Long]("n_docs")).sum == expectedWinners,
      "pipeline doc count must equal dedup-winners of quality-kept docs")
    assert(card.forall(_.getAs[Long]("tokens_total") > 0))
    assert(card.map(_.getAs[String]("split")).toSet.subsetOf(
      Set("train", "val", "test")))
  }

  test("n-gram repetition ratios are bounded and total counts consistent") {
    val rows = TextAnalysis.repetition(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      // T tokens yield T-1 2-grams and T-2 3-grams
      if (r.getAs[Int]("n3") > 0)
        assert(r.getAs[Int]("n2") == r.getAs[Int]("n3") + 1)
      assert(r.getAs[Long]("dup2_e6") >= 0 && r.getAs[Long]("dup2_e6") <= 1000000)
      assert(r.getAs[Long]("dup3_e6") >= 0 && r.getAs[Long]("dup3_e6") <= 1000000)
    }
  }

  test("keep-best picks exactly one member per cluster, the longest") {
    val clusters = DupCluster.clusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val nToks = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), size(TextHash.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val reps = DupCluster.keepBest(spark, dir).collect()
    assert(reps.map(_.getAs[Long]("cluster_id")).distinct.length == reps.length)
    assert(reps.length == clusters.map(_._2).distinct.length)
    val members = clusters.groupBy(_._2)
    reps.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val rep = r.getAs[Long]("rep_doc_id")
      val ms = members(cid).map(_._1)
      assert(ms.contains(rep), s"rep $rep not a member of cluster $cid")
      assert(ms.forall(m => nToks(m) < nToks(rep) ||
        (nToks(m) == nToks(rep) && m >= rep)),
        s"rep $rep is not the longest (ties-to-min-id) member of $cid")
    }
  }

  test("inverted index df totals and postings heads are consistent") {
    val idx = TextAnalysis.invertedIndex(spark, dir).collect()
    idx.foreach { r =>
      val df = r.getAs[Long]("df")
      val fd = r.getAs[String]("first_docs").split(',').map(_.toLong).toSeq
      assert(fd.length == math.min(df, 5L).toInt)
      assert(fd == fd.sorted, "postings head must be ascending doc_ids")
    }
    val pairTotal = graft.engine.Tables.t(spark, dir, "documents")
      .select(explode(array_distinct(TextHash.tokens(col("text")))).as("t"))
      .count()
    assert(idx.map(_.getAs[Long]("df")).sum == pairTotal,
      "sum of per-term df must equal distinct (doc, term) pairs")
  }

  test("ivf-pq ranks are contiguous and ADC-ordered per query") {
    val rows = Similarity.annIvfPqTopK(spark, dir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val adc = sorted.map(_.getAs[Long]("adc_e6")).toSeq
      assert(adc == adc.sorted, "ADC distance must not decrease with rank")
    }
  }

  test("upsert covers every user exactly once with the right action") {
    val e = graft.engine.Tables.t(spark, dir, "events")
    val nUsers = e.select("user_id").distinct().count()
    val rows = Merge.snapshotUpsert(spark, dir).collect()
    assert(rows.length == nUsers, "one merged row per user")
    assert(rows.map(_.getAs[Long]("user_id")).distinct.length == rows.length)
    val cut = e.agg(max(unix_micros(col("ts")))).head.getLong(0) - 86400000000L
    val changed = e.filter(unix_micros(col("ts")) >= cut)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val inChg = changed(r.getAs[Long]("user_id"))
      val action = r.getAs[String]("action")
      assert(if (inChg) action == "insert" || action == "update"
             else action == "keep")
    }
  }

  test("scd2 intervals tile each user's active hours without overlap") {
    val byUser = Merge.scd2Intervals(spark, dir).collect()
      .groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("version"))
      assert(sorted.map(_.getAs[Int]("version")).toSeq ==
        (1 to sorted.length), s"versions not contiguous for user $u")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // each interval ends the hour before the next begins
          assert(a.getAs[Long]("valid_to_hr") ==
            b.getAs[Long]("valid_from_hr") - 1, s"gap/overlap for user $u")
          // consecutive versions must differ in value (else no new version)
          assert(a.getAs[Long]("v_e6") != b.getAs[Long]("v_e6"))
        case _ =>
      }
      assert(sorted.last.getAs[Long]("valid_to_hr") == -1L,
        s"last interval of user $u must be open-ended")
    }
  }

  test("trailing z-score anomalies match a brute-force recomputation") {
    val events = graft.engine.Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000).cast("long").as("v_e3"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0), r.getLong(3)))
    val flagged = TimeSeries.anomalies(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSet
    val expected = events.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(t => (t._2, t._3))
      sorted.indices.flatMap { i =>
        val (_, _, id, v) = sorted(i)
        val win = sorted.slice(math.max(0, i - 100), i).map(_._4)
        val n = win.length.toLong
        val sx = win.sum
        val sxx = win.map(x => x * x).sum
        val dev = n * v - sx
        if (n >= 30 && dev * dev > 9L * (n * sxx - sx * sx)) Some(id) else None
      }
    }.toSet
    assert(flagged == expected,
      s"flag mismatch: spark-only=${(flagged -- expected).take(5)} " +
        s"brute-only=${(expected -- flagged).take(5)}")
  }

  test("block dedup strips only cross-doc blocks and preserves clean text") {
    val d = Dedup.blockDedup(spark, dir).collect()
    assert(d.length == 500)
    // corpus has planted near-dups → some docs must share blocks
    assert(d.count(_.getAs[Long]("n_shared") > 0) >= 10,
      "expected cross-document repeated blocks on this corpus")
    // a doc with no shared blocks keeps everything: kept_md5 must be
    // the md5 of its full normalized (lowercase, space-joined) text —
    // block split + rejoin round-trips exactly
    val cleanMd5 = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(TextHash.tokens(col("text")), " ")).as("full_md5"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    d.filter(_.getAs[Long]("n_shared") == 0L).foreach { r =>
      assert(r.getAs[String]("kept_md5") == cleanMd5(r.getAs[Long]("doc_id")),
        s"doc ${r.getLong(0)}: clean doc must round-trip unchanged")
    }
    // shared blocks change the text → a different md5
    d.filter(_.getAs[Long]("n_shared") > 0L).foreach { r =>
      assert(r.getAs[String]("kept_md5") != cleanMd5(r.getAs[Long]("doc_id")),
        s"doc ${r.getLong(0)}: stripping blocks must change the text")
    }
  }

  test("phrase search finds exactly the documents containing the top bigram") {
    val hits = TextAnalysis.phraseSearch(spark, dir).collect()
    assert(hits.nonEmpty)
    val w1 = hits.head.getAs[String]("w1")
    val w2 = hits.head.getAs[String]("w2")
    // independent recount: substring occurrences of " w1 w2 " over the
    // padded normalized text equal the postings-join counts, and no
    // matching document is missing
    val expected = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), concat(lit(" "),
        array_join(TextHash.tokens(col("text")), " "), lit(" ")).as("t"))
      .collect()
      .map { r =>
        val t = r.getString(1); val needle = s" $w1 $w2 "
        // overlapping occurrences: advance by one token, not by match
        val occ = Iterator.iterate(t.indexOf(needle))(i =>
          t.indexOf(needle, i + w1.length + 1)).takeWhile(_ >= 0).size
        r.getLong(0) -> occ
      }.filter(_._2 > 0).toMap
    val got = hits.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occ").toInt).toMap
    assert(got == expected,
      s"phrase-count mismatch for ($w1,$w2): got=${got.size} expected=${expected.size}")
  }

  test("knn graph ranks candidate neighbors correctly and consistently with d08") {
    val g = Similarity.knnGraph(spark, dir).collect()
    val byVec = g.groupBy(_.getAs[Long]("vec_id"))
    byVec.foreach { case (v, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("rank") == i + 1, s"vec $v ranks not contiguous") }
      val cs = sorted.map(_.getAs[Long]("cs_e6"))
      assert(cs.zip(cs.drop(1)).forall { case (x, y) => x >= y },
        s"vec $v neighbors not similarity-sorted")
      assert(rows.length <= 3)
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == v),
        s"vec $v lists itself as a neighbor")
    }
    // every d08 near-dup pair (same candidate base, cs >= 0.4) must
    // surface in each endpoint's list unless that list is already full
    // of equal-or-better neighbors
    val d08 = Similarity.embeddingNearDupsBucketed(spark, dir).collect()
    assert(d08.nonEmpty)
    d08.foreach { r =>
      val (a, b, cs) = (r.getAs[Long]("ida"), r.getAs[Long]("idb"),
        r.getAs[Long]("cs_e6"))
      Seq((a, b), (b, a)).foreach { case (v, n) =>
        val list = byVec.getOrElse(v, Array.empty)
        val present = list.exists(_.getAs[Long]("neighbor_id") == n)
        val fullOfBetter =
          list.length == 3 && list.forall(_.getAs[Long]("cs_e6") >= cs)
        assert(present || fullOfBetter,
          s"near-dup pair ($a, $b, $cs) missing from $v's neighbor list")
      }
    }
  }

  test("mutual-knn keeps exactly the reciprocated knn-graph edges") {
    val g = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")) ->
        (r.getAs[Int]("rank"), r.getAs[Long]("cs_e6"))).toMap
    val m = Similarity.mutualKnn(spark, dir).collect()
    assert(m.nonEmpty, "mutual-knn produced no edges")
    // every mutual edge is a reciprocated pair of graph edges whose
    // ranks and similarity it reports verbatim, ida < idb once
    m.foreach { r =>
      val (a, b) = (r.getAs[Long]("ida"), r.getAs[Long]("idb"))
      assert(a < b, s"edge ($a, $b) not ordered")
      val fwd = g.get((a, b)); val rev = g.get((b, a))
      assert(fwd.isDefined && rev.isDefined,
        s"mutual edge ($a, $b) not reciprocated in the knn graph")
      assert(r.getAs[Int]("rank_ab") == fwd.get._1 &&
        r.getAs[Int]("rank_ba") == rev.get._1, s"($a, $b) rank mismatch")
      assert(r.getAs[Long]("cs_e6") == fwd.get._2, s"($a, $b) cs mismatch")
    }
    // and nothing reciprocated is dropped: recompute the filter naively
    val expected = g.keySet.filter { case (v, n) => v < n && g.contains((n, v)) }
    assert(m.map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
      == expected, "mutual edge set differs from the naive filter")
  }

  test("collocation lift matches a brute-force integer recomputation") {
    val got = TextAnalysis.collocations(spark, dir).collect()
    assert(got.nonEmpty)
    val bigrams = graft.engine.Tables.t(spark, dir, "documents")
      .select(TextHash.tokens(col("text")).as("tk")).collect()
      .flatMap(r => r.getSeq[String](0).sliding(2).filter(_.length == 2)
        .map(p => (p.head, p(1))).toSeq)
    val c12 = bigrams.groupBy(identity).map { case (k, v) => k -> BigInt(v.length) }
    val c1x = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val cx2 = c12.groupBy(_._1._2).map { case (w, m) => w -> m.values.sum }
    val tt = BigInt(bigrams.length)
    val exp = c12.filter(_._2 >= 5).map { case ((w1, w2), c) =>
      (w1, w2) -> (c, c * tt * 1000000 / (c1x(w1) * cx2(w2)))
    }
    assert(got.length == exp.size)
    got.foreach { r =>
      val k = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      val (ec, el) = exp(k)
      assert(BigInt(r.getAs[Long]("c12")) == ec &&
        BigInt(r.getAs[Long]("lift_e6")) == el, s"mismatch at $k")
    }
  }

  test("bm25 ranking matches a brute-force integer recomputation") {
    val got = TextAnalysis.bm25(spark, dir).collect()
    assert(got.nonEmpty)
    // recompute from raw tokens with plain BigInt arithmetic
    val docs = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val qset = Similarity.HybridQueryTerms.toSet
    val nn = BigInt(docs.length)
    val ll = BigInt(docs.map(_._2.length.toLong).sum)
    val tf = docs.flatMap { case (id, tk) =>
      tk.filter(qset).groupBy(identity).map { case (t, o) =>
        (id, t, BigInt(o.size), BigInt(tk.length)) }
    }
    val df = tf.groupBy(_._2).map { case (t, rows) => t -> BigInt(rows.length) }
    val scores = tf.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map { case (_, t, f, dl) =>
        val tfpart = (BigInt(22) * f * ll * 1000000) /
          (BigInt(10) * f * ll + BigInt(3) * ll + BigInt(9) * dl * nn)
        val idf = ((BigInt(2) * (nn - df(t)) + 1) * 1000000) /
          (BigInt(2) * df(t) + 1)
        tfpart * idf / 1000000
      }.sum
    }
    val expTop = scores.toSeq.sortBy { case (id, sc) => (-sc, id) }
      .take(100)
    got.zip(expTop).foreach { case (r, (id, sc)) =>
      assert(r.getAs[Long]("doc_id") == id && BigInt(r.getAs[Long]("score_e6")) == sc,
        s"rank ${r.getAs[Int]("rank")}: got (${r.getAs[Long]("doc_id")}, " +
          s"${r.getAs[Long]("score_e6")}), expected ($id, $sc)")
    }
  }

  test("knn components label exactly the mutual-graph components") {
    val edges = Similarity.mutualKnn(spark, dir).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")))
    val got = DupCluster.knnComponents(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_sz")))
    // naive union-find over the same edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expLabel = members.map(v => v -> find(v)).toMap
    val expSize = expLabel.groupBy(_._2).map { case (c, m) => c -> m.size }
    assert(got.map(_._1).toSet == members.toSet,
      "component membership differs from the mutual-edge vertex set")
    got.foreach { case (v, c, sz) =>
      assert(c == expLabel(v), s"vec $v labeled $c, expected ${expLabel(v)}")
      assert(sz == expSize(c), s"cluster $c size $sz, expected ${expSize(c)}")
    }
  }

  test("knn degrees tally the graph's edges; hubs shed mutual links") {
    val g = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")))
    val m = Similarity.mutualKnn(spark, dir).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")))
    val rows = Similarity.knnDegrees(spark, dir).collect()
    val outExp = g.groupBy(_._1).map { case (v, e) => v -> e.length }
    val inExp = g.groupBy(_._2).map { case (v, e) => v -> e.length }
    val mExp = m.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, e) => v -> e.length }
    assert(rows.map(_.getAs[Long]("vec_id")).toSet == outExp.keySet)
    rows.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      assert(r.getAs[Long]("out_deg") == outExp(v))
      assert(r.getAs[Long]("in_deg") == inExp.getOrElse(v, 0))
      assert(r.getAs[Long]("mutual_deg") == mExp.getOrElse(v, 0))
      assert((r.getAs[Int]("is_hub") == 1) == (inExp.getOrElse(v, 0) > 6))
      // a reciprocated edge needs both directions present
      assert(r.getAs[Long]("mutual_deg") <=
        math.min(r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg")))
    }
    // degree conservation: Σ out = Σ in = |edges|
    assert(rows.map(_.getAs[Long]("out_deg")).sum == g.length)
    assert(rows.map(_.getAs[Long]("in_deg")).sum == g.length)
  }

  test("semantic reps pick the max-norm member of each knn component") {
    val comps = DupCluster.knnComponents(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_sz")))
    val norms = Similarity.vecNorms(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        math.floor(r.getAs[Double]("nrm") * 1000000).toLong).toMap
    val reps = DupCluster.semanticReps(spark, dir).collect()
    val byCluster = comps.groupBy(_._2._1)
    assert(reps.length == byCluster.size, "one rep per component")
    reps.foreach { r =>
      val c = r.getAs[Long]("cluster_id")
      val members = byCluster(c).map(_._1)
      val best = members.map(v => (-norms(v), v)).min._2
      assert(r.getAs[Long]("rep_vec_id") == best,
        s"cluster $c rep ${r.getAs[Long]("rep_vec_id")} != max-norm $best")
      assert(r.getAs[Long]("cluster_sz") == members.length)
      assert(r.getAs[Long]("rep_norm_e6") == norms(best))
    }
  }

  test("chunking covers every token with the declared overlap geometry") {
    val byDoc = Curation.chunks(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nToks = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), size(TextHash.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byDoc.size == 500)
    byDoc.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_.getAs[Int]("chunk_idx"))
      // contiguous ids from 0, stride-48 starts
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("chunk_idx") == i)
        assert(c.getAs[Int]("start_tok") == i * Curation.ChunkStride)
      }
      // all but the last chunk are full windows; the last reaches the
      // document's final token exactly
      sorted.init.foreach(c =>
        assert(c.getAs[Int]("n_toks") == Curation.ChunkToks))
      val last = sorted.last
      assert(last.getAs[Int]("start_tok") + last.getAs[Int]("n_toks") == nToks(doc),
        s"doc $doc: chunks must cover the tail")
      // a short doc is exactly one chunk
      if (nToks(doc) <= Curation.ChunkToks) assert(sorted.length == 1)
    }
  }

  test("hot n-grams match a brute-force df/total recount") {
    val rows = Dedup.hotNgrams(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= Dedup.HotNgramTopK)
    // ranked non-increasing by (df, total)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (da, db) = (a.getAs[Long]("df"), b.getAs[Long]("df"))
        assert(da > db || (da == db && a.getAs[Long]("total") >= b.getAs[Long]("total")))
      case _ =>
    }
    // brute-force recount of every reported gram over the raw corpus
    import spark.implicits._
    val grams = graft.engine.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), graft.operators.TextHash.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(expr(
        graft.operators.TextHash.ngramsExpr("tk", Dedup.HotNgramToks))).as("gram"))
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("total"))
      .as[(String, Long, Long)].collect()
      .map { case (g, d, t) => g -> ((d, t)) }.toMap
    rows.foreach { r =>
      val g = r.getAs[String]("gram")
      assert(r.getAs[Long]("df") >= Dedup.HotNgramMinDf)
      assert(grams(g) == ((r.getAs[Long]("df"), r.getAs[Long]("total"))),
        s"gram '$g' stats drifted from the brute-force recount")
    }
  }

  test("split-leakage pairs straddle the t07 split with LSH-grade agreement") {
    val split = graft.operators.TextAnalysis.hashSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val rows = Dedup.splitLeakage(spark, dir).collect()
    rows.foreach { r =>
      assert(split(r.getAs[Long]("test_id")) == "test")
      assert(split(r.getAs[Long]("train_id")) == "train")
      assert(r.getAs[Int]("n_match") * 2 >= Dedup.MinhashK)
    }
    // every leaked pair is also a d03 near-dup pair (same algebra,
    // orientation normalized) — leakage is a filter, not a new miner
    val d03 = Dedup.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"))
      assert(d03((a min b, a max b)), s"leak pair ($a,$b) unknown to d03")
    }
  }

  test("proximity search strictly contains the exact phrase hits") {
    val exact = TextAnalysis.phraseSearch(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occ")).toMap
    val prox = TextAnalysis.proximitySearch(spark, dir).collect()
    val byDoc = prox.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every adjacency hit is also a slop-3 window hit
    exact.foreach { case (doc, nOcc) =>
      val p = byDoc(doc)
      assert(p.getAs[Long]("n_window") >= nOcc,
        s"doc $doc: slop window lost adjacency occurrences")
      assert(p.getAs[Int]("min_gap") == 1,
        s"doc $doc has an adjacent occurrence, min_gap must be 1")
    }
    prox.foreach { r =>
      val g = r.getAs[Int]("min_gap")
      assert(g >= 1 && g <= TextAnalysis.ProximitySlop)
    }
  }

  test("vocab coverage: OOV is the complement of the top-1024 cut") {
    val rows = TextAnalysis.vocabCoverage(spark, dir).collect()
    assert(rows.length == 500)
    var toks = 0L; var oov = 0L
    rows.foreach { r =>
      val (n, o) = (r.getAs[Long]("n_toks"), r.getAs[Long]("n_oov"))
      assert(o >= 0 && o <= n)
      assert(r.getAs[Long]("oov_e6") == 1000000L * o / n)
      toks += n; oov += o
    }
    // a frequency-built vocab must cover the bulk of the token mass
    assert(oov * 2 < toks, s"vocab covers under half the corpus ($oov/$toks)")
  }

  test("cluster quality: edge budget bounded by k·size, escape ratio exact") {
    val rows = DupCluster.clusterQuality(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sz, in, esc) = (r.getAs[Long]("cluster_sz"),
        r.getAs[Long]("internal_edges"), r.getAs[Long]("escape_edges"))
      // every member emits at most k=3 directed edges
      assert(in + esc <= 3 * sz, s"edge budget exceeded: $r")
      val expect = if (in + esc == 0) 0L else 1000000L * esc / (in + esc)
      assert(r.getAs[Long]("escape_e6") == expect)
    }
  }

  test("ann recall equals the independently recomputed top-5 overlap") {
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top5(Similarity.annTopK(spark, dir, 5))
    val lsh = top5(Similarity.annLshTopK(spark, dir))
    val ivf = top5(Similarity.annIvfTopK(spark, dir))
    val rows = Similarity.annRecall(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("query_id")).toSet == exact.keySet)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val lh = (exact(q) & lsh.getOrElse(q, Set.empty)).size.toLong
      val ih = (exact(q) & ivf.getOrElse(q, Set.empty)).size.toLong
      assert(r.getAs[Long]("lsh_hits") == lh && r.getAs[Long]("ivf_hits") == ih)
      assert(r.getAs[Long]("lsh_recall_e6") == lh * 200000)
      assert(r.getAs[Long]("ivf_recall_e6") == ih * 200000)
    }
  }

  test("exhaustive cosine baseline refuses an over-bound corpus") {
    val e = intercept[IllegalArgumentException] {
      Dedup.cosinePairs(spark, dir, maxDocs = 100L)
    }
    assert(e.getMessage.contains("cosinePairsPrefix"))
  }

  test("prefix-filtered cosine pairs ⊆ exhaustive, with high recall") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[Long]("ida"), r.getAs[Long]("idb")) ->
          r.getAs[Long]("cos_e6")).toMap
    val exhaustive = keyed(Dedup.cosinePairs(spark, dir))
    val prefixed = keyed(Dedup.cosinePairsPrefix(spark, dir))
    // containment: every prefix-path pair is an exhaustive pair with
    // the IDENTICAL score (both paths rerank with the full dot)
    prefixed.foreach { case (k, v) =>
      assert(exhaustive.get(k).contains(v),
        s"prefix pair $k missing/mismatched in exhaustive set")
    }
    assert(exhaustive.nonEmpty)
    // recall floor on the fixture corpus (measured 100% at all three
    // driver SFs; 0.9 leaves room for future fixture refreshes)
    assert(prefixed.size * 10 >= exhaustive.size * 9,
      s"prefix recall ${prefixed.size}/${exhaustive.size} below 0.9")
  }

  test("prefix bucket valve drops corpus-scale buckets, keeps group-scale ones") {
    // The round-8 sf1 finding: short docs rank mid-frequency terms in
    // their top-8, so a hot term's prefix bucket grows WITH the corpus
    // (250 → 3,839 at ×10) and candidates went quadratic (31k → 645M,
    // a 20-min straggler task). PrefixBucketCap drops such buckets
    // whole. The documented trade, pinned here: a dup GROUP larger
    // than the cap is sacrificed by d16 (the hash family d01/d03
    // catches arbitrarily large groups via group-by, never pairs),
    // while group-scale buckets — bounded by real duplication, not
    // corpus size — are kept in full.
    val tmp = java.nio.file.Files.createTempDirectory("d16valve").toString
    // the table registry ensures every driver table; only `documents`
    // matters here, so link the rest from the spec fixture dir
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .filterNot(_.getName == "documents.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(tmp, f.getName), f.toPath))
    import spark.implicits._
    val hot = (1 to 600).map(i => (1000L + i, "hotterm shared payload"))
    val filler = (1 to 5400).map(i => (10000L + i, s"filler$i unique$i"))
    val clique = (1L to 3L).map(i => (i, "cliq aaa bbb ccc"))
    (hot ++ filler ++ clique).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // hotterm df=600 survives the 10% stop cap (600k !> 600.3k) but
    // its prefix bucket (600 > 512) trips the valve → d16 keeps only
    // the 3-clique; the exhaustive baseline scores the hot group too
    val d16 = Dedup.cosinePairsPrefix(spark, tmp).collect()
    assert(d16.length == 3, s"valve corpus: d16 found ${d16.length} pairs")
    assert(d16.forall(_.getAs[Long]("ida") <= 3L))
    val d15 = Dedup.cosinePairs(spark, tmp).count()
    assert(d15 == 600L * 599 / 2 + 3,
      s"exhaustive found $d15, expected the hot group + clique")
  }

  test("gated d15 stride sample IS the exhaustive baseline over the sampled sub-corpus") {
    // semantics-preservation made executable (VERDICT r8 item 7): the
    // gated entry's documented contract is "cosinePairs' exhaustive
    // semantics over a deterministic 1-in-k doc_id stride, with the
    // sample treated AS the corpus" (df cap relative to the sample).
    // Half 1 — at every driver SF the stride is k = 1, so the gated
    // frame must equal the full exhaustive baseline row-for-row:
    val full = Dedup.cosinePairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val gated = Dedup.cosinePairsSampled(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(gated == full,
      "k=1 gated d15 diverged from the exhaustive baseline")
    // Half 2 — force k > 1 (bound 100 on the 500-doc fixture → every
    // 5th doc) and pin that the sampled answer is EXACTLY cosinePairs
    // run on a corpus containing only the sampled documents — i.e.
    // sampling restricts the corpus, never changes the operator:
    val bound = 100L
    val k = (graft.engine.Tables.t(spark, dir, "documents").count()
      + bound - 1) / bound
    assert(k > 1, "fixture too small to exercise the stride")
    val sampledGated = Dedup.cosinePairsSampled(spark, dir, bound = bound)
      .collect().map(_.toString).sorted.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("d15stride").toString
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .filterNot(_.getName == "documents.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(tmp, f.getName), f.toPath))
    graft.engine.Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(k)) === 0)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val subCorpus = Dedup.cosinePairs(spark, tmp)
      .collect().map(_.toString).sorted.toSeq
    assert(sampledGated == subCorpus,
      s"stride-sampled d15 (${sampledGated.size} pairs) != exhaustive " +
        s"over the sampled sub-corpus (${subCorpus.size} pairs)")
  }

  test("fanOut runs no job to probe a frame carrying a scalar subquery") {
    // the partition-count probe (df.rdd) would run the subquery's job
    // eagerly; a subquery-carrying plan must take the lazy repartition
    graft.engine.Tables.ensure(spark, dir)
    val df = spark.sql("SELECT doc_id, text FROM documents " +
      "WHERE length(text) > (SELECT avg(length(text)) FROM documents)")
    val jobs = graft.SparkJobs.during(spark) { TextHash.fanOut(df); () }
    assert(jobs == 0, s"fanOut ran $jobs job(s) probing a subquery plan")
  }
}
