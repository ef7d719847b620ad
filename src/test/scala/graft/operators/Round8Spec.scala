package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 operators (s19 filtered ANN,
  * t28 readability, t29 Zipf octaves) that the row-hash oracle can't
  * express: filter correctness against an independent recompute, band
  * consistency, and octave-partition geometry. */
class Round8Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  test("s19: every neighbor shares its query's label, ranks are dense per query") {
    val rows = Similarity.filteredAnnTopK(spark, dir).collect()
    assert(rows.nonEmpty)
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(labels(q) == r.getAs[Int]("label"), s"query $q label mismatch")
      assert(labels(n) == r.getAs[Int]("label"),
        s"neighbor $n escaped query $q's label filter")
      assert(q != n)
    }
    // dense 1..k ranks per query (k bounded by the label partition size)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"query $q ranks not dense: $ranks")
      assert(ranks.size <= 5)
    }
  }

  test("s19: filtered top-1 cosine can never beat the unfiltered top-1") {
    val unfiltered = Similarity.annTopK(spark, dir, 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cs_e6")).toMap
    Similarity.filteredAnnTopK(spark, dir).collect()
      .filter(_.getAs[Int]("rank") == 1).foreach { r =>
        val q = r.getAs[Long]("query_id")
        assert(r.getAs[Long]("cs_e6") <= unfiltered(q),
          s"query $q: label-restricted best exceeds global best")
      }
  }

  test("t28: full coverage, positive censuses, band agrees with fre_e3") {
    val rows = TextAnalysis.readability(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") > 0)
      assert(r.getAs[Long]("n_sentences") >= 1)
      val fre = r.getAs[Long]("fre_e3")
      val expect =
        if (fre >= 70000L) "easy"
        else if (fre >= 50000L) "standard"
        else if (fre >= 30000L) "difficult"
        else "very_difficult"
      assert(r.getAs[String]("band") == expect)
      // wps/spw rates reconstruct from the integer censuses exactly
      assert(r.getAs[Long]("wps_e6") ==
        r.getAs[Long]("n_words") * 1000000L / r.getAs[Long]("n_sentences"))
      assert(r.getAs[Long]("spw_e6") ==
        r.getAs[Long]("n_syllables") * 1000000L / r.getAs[Long]("n_words"))
    }
  }

  test("t29: octaves partition the ranked vocabulary without gaps") {
    val rows = TextAnalysis.zipfOctaves(spark, dir).collect()
    assert(rows.nonEmpty)
    val octaves = rows.map(_.getAs[Int]("octave")).toSeq
    assert(octaves == octaves.sorted && octaves.distinct == octaves)
    // octave o spans ranks [2^o, 2^(o+1)) — its term count can never
    // exceed 2^o, and every octave but the last must be exactly full
    rows.sortBy(_.getAs[Int]("octave")).zipWithIndex.foreach {
      case (r, i) =>
        val o = r.getAs[Int]("octave")
        assert(o == i, s"octave gap at $o")
        val n = r.getAs[Long]("n_terms")
        assert(n <= (1L << o))
        if (i < rows.length - 1)
          assert(n == (1L << o), s"interior octave $o not full: $n")
        assert(r.getAs[Long]("max_freq") >= r.getAs[Long]("min_freq"))
    }
    // frequency mass is monotone non-increasing per rank, so octave
    // max_freq never increases across octaves
    val maxes = rows.sortBy(_.getAs[Int]("octave")).map(_.getAs[Long]("max_freq"))
    assert(maxes.zip(maxes.tail).forall { case (a, b) => a >= b })
  }

  test("x23: splits are temporally ordered with a real embargo gap") {
    val rows = TimeSeries.embargoSplit(spark, dir).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
    assert(bySplit.keySet == Set("train", "embargo", "test"))
    def bound(split: String, c: String, agg: Seq[Long] => Long): Long =
      agg(bySplit(split).map(_.getAs[Long](c)).toSeq)
    // strict temporal ordering: train < embargo < test, no overlap
    assert(bound("train", "max_us", _.max) < bound("embargo", "min_us", _.min))
    assert(bound("embargo", "max_us", _.max) < bound("test", "min_us", _.min))
    // the embargo quarantine is nonempty and smaller than either side
    val n = bySplit.map { case (k, rs) =>
      k -> rs.map(_.getAs[Long]("n_events")).sum }
    assert(n("embargo") > 0 && n("embargo") < n("train") &&
      n("embargo") < n("test") * 10, s"suspicious split sizes: $n")
  }

  test("i06: expansions exclude query terms and lift matches its integers") {
    val rows = TextAnalysis.queryExpansion(spark, dir).collect()
    assert(rows.nonEmpty)
    val qTerms = Similarity.HybridQueryTerms.toSet
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    rows.foreach { r =>
      assert(qTerms.contains(r.getAs[String]("q_term")))
      assert(!qTerms.contains(r.getAs[String]("exp_term")),
        s"query term ${r.getAs[String]("exp_term")} leaked into expansions")
      assert(r.getAs[Long]("df_joint") >= TextAnalysis.ExpansionMinJoint)
      assert(r.getAs[Long]("df_joint") <= r.getAs[Long]("df_exp"))
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 2)
      // a term can never co-occur in more docs than exist
      assert(r.getAs[Long]("df_exp") <= nDocs)
    }
  }

  test("s20: SQ8 recall bounded, hits consistent, and 8-bit grid is fine " +
      "enough to beat the coarser indexes") {
    val rows = Similarity.sq8Recall(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = r.getAs[Long]("sq8_hits")
      assert(hits >= 0 && hits <= 5)
      assert(r.getAs[Long]("sq8_recall_e6") == hits * 200000)
    }
    // 256 cells per dim quantizes these smooth embeddings almost
    // losslessly — mean recall must sit near the top of the scale
    // (measured 100 % at sf0.001; allow one query to drop a hit)
    val mean = rows.map(_.getAs[Long]("sq8_hits")).sum.toDouble / rows.length
    assert(mean >= 4.0, s"SQ8 mean hits@5 $mean — quantizer broken?")
  }

  test("i07: probe roster matches the mod rule, neighbors never self, " +
      "ranks dense, scores positive and non-increasing") {
    val rows = TextAnalysis.moreLikeThis(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("probe_id") % TextAnalysis.MoreLikeThisProbeMod == 0)
      assert(r.getAs[Long]("probe_id") != r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Long]("n_shared") >= 1)
      assert(r.getAs[Long]("score_e3") > 0)
    }
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq ==
        (1 to rs.length), s"probe $p ranks not dense")
      val scores = byRank.map(_.getAs[Long]("score_e3")).toSeq
      assert(scores == scores.sorted.reverse, s"probe $p scores not sorted")
      assert(rs.length <= TextAnalysis.MoreLikeThisK)
      // the query-term budget bounds how many terms can contribute
      assert(rs.map(_.getAs[Long]("n_shared")).max <=
        TextAnalysis.MoreLikeThisMaxQueryTerms)
    }
  }

  test("x24: buckets partition the corpus, singletons always kept, " +
      "kept counts within bucket sizes") {
    val rows = DupCluster.softDedupSample(spark, dir).collect()
    assert(rows.nonEmpty)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "size buckets must partition the corpus")
    rows.foreach { r =>
      val sz = r.getAs[Long]("cluster_sz")
      val kept = r.getAs[Long]("n_kept")
      val docs = r.getAs[Long]("n_docs")
      assert(docs == sz * r.getAs[Long]("n_clusters"),
        s"bucket $sz: docs != sz * clusters")
      assert(kept >= 0 && kept <= docs)
      if (sz == 1) assert(kept == docs && // h%1e6 · 1 < 1e6 always
        r.getAs[Long]("keep_rate_e6") == 1000000L,
        "singletons must survive soft dedup unconditionally")
    }
  }

  test("m05: frame geometry exact, energies consistent, and the card " +
      "matches a direct recompute on one document") {
    val rows = Multimodal.audioCards(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_samples")
      val frames = r.getAs[Long]("n_frames")
      assert(frames == (n + Multimodal.AudioFrameSamples - 1) /
        Multimodal.AudioFrameSamples, s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("peak_energy") <= r.getAs[Long]("total_energy"))
      assert(r.getAs[Long]("n_silent") <= frames)
      assert(r.getAs[Long]("zcr") < math.max(n, 1))
    }
    // independent recompute of doc 0's card straight from the text
    val text = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .select("text").collect()(0).getString(0)
    val xs = text.getBytes("UTF-8").map(b => (b & 0xff) - 96L)
    val expTotal = xs.map(x => x * x).sum
    val expZcr = xs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    val r0 = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("total_energy") == expTotal)
    assert(r0.getAs[Long]("zcr") == expZcr)
  }

  test("s21: recall is monotone-trending in prefix width and full-width " +
      "would be perfect") {
    val rows = Similarity.matryoshkaRecall(spark, dir).collect()
    val dims = Similarity.MatryoshkaDims
    assert(rows.map(_.getAs[Int]("dims")).distinct.sorted.toSeq == dims.sorted)
    rows.foreach { r =>
      val h = r.getAs[Long]("hits")
      assert(h >= 0 && h <= 5)
      assert(r.getAs[Long]("recall_e6") == h * 200000)
    }
    val mean = dims.map { m =>
      val rs = rows.filter(_.getAs[Int]("dims") == m)
      m -> rs.map(_.getAs[Long]("hits")).sum.toDouble / rs.length
    }.toMap
    // 32 of 64 dims must beat 8 of 64 on these dense embeddings; exact
    // monotonicity between adjacent widths is data-dependent noise
    assert(mean(32) >= mean(8),
      s"recall not improving with width: $mean")
  }

  test("s22: PageRank mass stays bounded, isolated vectors carry " +
      "teleport-only mass, linked ones always beat it") {
    val rows = Similarity.pageRank(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    val teleport = 150000000L / n
    val total = rows.map(_.getAs[Long]("pr_e9")).sum
    // floors only lose mass; dangling mass is dropped by design
    assert(total <= 1000000000L, s"mass $total exceeds 1e9")
    assert(total > 500000000L, s"mass $total collapsed — damping broken?")
    rows.foreach { r =>
      val pr = r.getAs[Long]("pr_e9")
      if (r.getAs[Long]("out_deg") == 0L)
        assert(pr == teleport,
          s"isolated ${r.getAs[Long]("vec_id")} pr $pr != $teleport")
      else assert(pr >= teleport)
    }
    // the graph must actually move mass: some vector ends above base
    assert(rows.map(_.getAs[Long]("pr_e9")).max > 1000000000L / n)
  }

  test("m06: the sniffer recognizes genuine container headers and the " +
      "routing card covers the corpus exactly once") {
    // the router logic itself, on real magic bytes (not the tag rule)
    val realPng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
      0x1a, 0x0a, 1, 2, 3)
    assert(Multimodal.sniffFormat(realPng) == "png")
    assert(Multimodal.sniffFormat(
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)) == "jpeg")
    assert(Multimodal.sniffFormat("GIF89a-data".getBytes("US-ASCII")) == "gif")
    assert(Multimodal.sniffFormat("RIFFxxxxWAVE".getBytes("US-ASCII")) == "riff")
    assert(Multimodal.sniffFormat("plain text".getBytes("US-ASCII")) == "unknown")
    assert(Multimodal.sniffFormat(Array.empty[Byte]) == "unknown")
    val rows = Multimodal.formatRouting(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "routing cells must partition the corpus")
    assert(rows.map(_.getAs[String]("format")).distinct.toSet
      .subsetOf(Set("png", "jpeg", "gif", "riff", "unknown")))
    rows.foreach { r =>
      assert(r.getAs[Long]("max_bytes") <= r.getAs[Long]("total_bytes"))
    }
  }

  test("i11: negatives come from the BM25 shortlist, ranked by ascending " +
      "cosine, and are semantically worse than the shortlist's best") {
    val shortIds = TextAnalysis.bm25(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val rows = TextAnalysis.hardNegatives(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= TextAnalysis.HardNegK)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    rows.foreach { r =>
      assert(shortIds.contains(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("doc_id") != 0L)
      assert(r.getAs[Long]("cs_e6") >= -1000000L &&
        r.getAs[Long]("cs_e6") <= 1000000L)
    }
    val cs = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("cs_e6"))
    assert(cs.toSeq == cs.sorted.toSeq, "not ascending in cosine")
  }

  test("s23: outlier card covers every vector, flags agree with the " +
      "documented rule, kth never beats best") {
    val rows = Similarity.knnOutliers(spark, dir).collect()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length.toLong == nVecs, "one card row per corpus vector")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_neighbors")
      val best = r.getAs[Long]("best_cs_e6")
      val kth = r.getAs[Long]("kth_cs_e6")
      assert(n >= 0 && n <= 3)
      assert(kth <= best)
      if (n == 0) assert(best == -1L && kth == -1L)
      val expected = n < 3 || kth < Similarity.OutlierCsE6
      assert(r.getAs[Int]("is_outlier") == (if (expected) 1 else 0))
    }
  }

  test("t30: eval splits only, every source present, OOV counts bounded " +
      "by token counts and rates exact") {
    val rows = TextAnalysis.oovRate(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("split")).distinct.toSet
      .subsetOf(Set("val", "test")))
    rows.foreach { r =>
      val toks = r.getAs[Long]("n_tokens")
      val oov = r.getAs[Long]("n_oov")
      assert(toks >= 1 && oov >= 0 && oov <= toks)
      assert(r.getAs[Long]("n_oov_types") <= oov)
      assert(r.getAs[Long]("oov_rate_e6") == 1000000L * oov / toks)
    }
    // the synthetic corpus shares one template vocabulary: with an
    // 80% train split the eval OOV mass must be a small minority
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val oovSum = rows.map(_.getAs[Long]("n_oov")).sum
    assert(oovSum * 5 < total, s"OOV mass $oovSum/$total implausibly high")
  }

  test("i10: every match is within the symmetric-deletion criterion of " +
      "its probe, the original query terms are all recovered, ranks follow df") {
    // independent recompute of the SymSpell criterion: {a} ∪ D1(a)
    // intersects {b} ∪ D1(b) — edit distance <= 1, plus the
    // one-char-move pairs a shared deletion admits by construction
    def delSet(t: String): Set[String] =
      Set(t) ++ t.indices.map(j => t.substring(0, j) + t.substring(j + 1))
    def ed1(a: String, b: String): Boolean =
      (delSet(a) & delSet(b)).nonEmpty
    val rows = TextAnalysis.fuzzyMatch(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(ed1(r.getAs[String]("probe"), r.getAs[String]("term")),
        s"${r.getAs[String]("probe")} -> ${r.getAs[String]("term")} is not ed<=1")
      assert(r.getAs[Long]("df") >= 1)
    }
    // dropping the middle char of a corpus term must still find it
    val found = rows.map(r =>
      r.getAs[String]("probe") -> r.getAs[String]("term"))
    Similarity.HybridQueryTerms.zip(TextAnalysis.FuzzyProbes).foreach {
      case (orig, probe) =>
        assert(found.contains(probe -> orig),
          s"probe $probe fails to recover $orig")
    }
    rows.groupBy(_.getAs[String]("probe")).foreach { case (p, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      val dfs = byRank.map(_.getAs[Long]("df"))
      assert(dfs.toSeq == dfs.sorted.reverse.toSeq, s"probe $p df order")
    }
  }

  test("z04: time layout is perfectly clustered, value layout is " +
      "maximally unclustered, zorder sits between") {
    val rows = Layout.clusteringDepth(spark, dir).collect()
    assert(rows.length == 4)
    val byLayout = rows.map(r =>
      r.getAs[String]("layout") -> r.getAs[Long]("avg_depth_e6")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_probes") == Layout.DepthProbes)
      assert(r.getAs[Long]("max_depth") <= Layout.PruneFiles)
      assert(r.getAs[Long]("n_clustered") <= Layout.DepthProbes)
    }
    // a time sort tiles the time key, so no probe sees depth > 1 (at
    // small SFs the event span undershoots the probe grid and some
    // probes miss entirely — avg can drop BELOW 1e6, never above).
    // Ordering: time <= zorder <= value — the value sort leaves time
    // fully unclustered, z-order pays a bounded premium over the pure
    // time sort for its second dimension. (natural is NOT compared:
    // synthetic event_ids correlate with ts, making it time-like.)
    assert(byLayout("time") <= 1000000L, s"time layout not tiled: $byLayout")
    assert(byLayout("time") <= byLayout("zorder"), s"$byLayout")
    assert(byLayout("zorder") < byLayout("value"), s"$byLayout")
  }

  test("i09: quota holds per source, result is the best quota-legal " +
      "subset of the i03 shortlist") {
    val short = TextAnalysis.bm25(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_e6")).toMap
    val rows = TextAnalysis.diversifiedSearch(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= TextAnalysis.DiversifiedK)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, rs) =>
      assert(rs.length <= TextAnalysis.DiversifyPerSource,
        s"source $s exceeds the quota")
    }
    rows.foreach { r =>
      assert(short.contains(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} not in the i03 shortlist")
      assert(short(r.getAs[Long]("doc_id")) == r.getAs[Long]("score_e6"))
    }
    val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("score_e6"))
    assert(scores.toSeq == scores.sorted.reverse.toSeq)
  }

  test("x25: allocation conserves the budget cap, epochs never exceed " +
      "the cap, realized <= target per source") {
    val rows = Curation.epochAllocation(spark, dir).collect()
    assert(rows.nonEmpty)
    val totalTokens = rows.map(_.getAs[Long]("tokens")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("epochs_e3") <= Curation.MaxEpochsE3)
      assert(r.getAs[Long]("epochs_e3") >= 0)
      // the floor chain loses < 1 token per div; allow that slack
      assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("target_tokens"),
        s"source ${r.getAs[String]("source")} over-allocated")
      assert(r.getAs[Long]("sqrt_w") ==
        math.floor(math.sqrt(r.getAs[Long]("tokens").toDouble) * 1000).toLong)
    }
    // the realized plan must fit inside the global budget
    assert(rows.map(_.getAs[Long]("alloc_tokens")).sum <= totalTokens / 2)
    // shares sum to ~1e6 (floor loss < n_sources)
    val shareSum = rows.map(_.getAs[Long]("share_e6")).sum
    assert(shareSum > 1000000L - rows.length && shareSum <= 1000000L)
  }

  test("i08: facet cells partition each term's result set and shares are " +
      "exact floors of n_docs over the term total") {
    val rows = TextAnalysis.facets(spark, dir).collect()
    assert(rows.nonEmpty)
    val byTerm = rows.groupBy(_.getAs[String]("q_term"))
    assert(byTerm.keySet.subsetOf(Similarity.HybridQueryTerms.toSet))
    byTerm.foreach { case (term, cells) =>
      val td = cells.map(_.getAs[Long]("n_docs")).sum
      cells.foreach { c =>
        assert(c.getAs[Long]("tf_sum") >= c.getAs[Long]("n_docs"),
          s"$term: tf < docs")
        assert(c.getAs[Long]("share_e6") ==
          1000000L * c.getAs[Long]("n_docs") / td)
      }
      // no duplicate facet cell per term
      val keys = cells.map(c =>
        (c.getAs[String]("source"), c.getAs[String]("lang")))
      assert(keys.distinct.length == keys.length)
    }
  }
}
