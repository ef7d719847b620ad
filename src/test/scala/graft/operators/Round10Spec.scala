package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-10 operators that the row-hash
  * oracle can't express: d19's span geometry and its containment of
  * the exact-duplicate class, t34's tokenization algebra (merging
  * conserves characters and only ever shrinks counts, within the
  * 2-round compression bound), x26's composition law (every card
  * column equals the standalone operator it claims to embed), t35's
  * classifier algebra (feature census + decision rule re-derived from
  * first principles), and x27's funnel monotonicity/conservation. */
class Round10Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.01"

  test("d19: span geometry — maximal, disjoint, window-consistent") {
    val w = Dedup.SubstrToks
    val spans = Dedup.substringSpans(spark, dir).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      val (st, en, nw) = (r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_windows"))
      assert(st >= 1 && en - st >= w - 1,
        s"span [$st,$en] shorter than one window")
      // n_windows = matched positions in [st, en-w+1]: at least the
      // endpoints' windows, at most every position in the span
      assert(nw >= 1 && nw <= en - st - w + 2,
        s"span [$st,$en] claims $nw windows > ${en - st - w + 2} positions")
    }
    // spans within a doc are maximal: islands break at gap > w, so
    // consecutive spans are separated by MORE than adjacency
    spans.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, ss) =>
      val sorted = ss.map(r => (r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).sortBy(_._1).toSeq
      sorted.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) =>
          assert(s2 > e1 + 1, s"doc $id: spans [..,$e1],[$s2,..] should " +
            "have merged into one island")
        case _ =>
      }
    }
  }

  test("d19 equals an independent single-machine replica of the chain") {
    // the whole operator re-derived in plain Scala from the raw texts
    // (same two-level hash algebra, independent window/df/island
    // logic) — a third derivation alongside the Spark plan and the
    // DuckDB oracle, catching any error the two engines share in
    // their SQL formulations but not in first principles
    val w = Dedup.SubstrToks
    val P = TextHash.P
    def rh(s: String): Long =
      if (s.isEmpty) 7L else s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    val texts = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split("\\s+").toSeq)
    val winsByDoc = texts.map { case (id, tk) =>
      val hv = tk.map(rh)
      id -> (if (hv.size >= w)
        hv.sliding(w).map(_.foldLeft(7L)((a, x) => (a * 31 + x) % P))
          .zipWithIndex.map { case (h, i) => (i + 1, h) }.toSeq
      else Seq.empty[(Int, Long)])
    }
    val df = winsByDoc.flatMap { case (id, ws) => ws.map(x => (x._2, id)) }
      .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).distinct.size }
    val expected = winsByDoc.flatMap { case (id, ws) =>
      val matched = ws.filter(x => df(x._2) >= 2).map(_._1).sorted
      if (matched.isEmpty) Seq.empty
      else {
        val islands = matched.tail.foldLeft(List(List(matched.head))) {
          case (acc @ (cur :: rest), p) =>
            if (p - cur.head > w) List(p) :: acc
            else (p :: cur) :: rest
          case (Nil, p) => List(List(p))
        }
        islands.reverse.map { isl =>
          (id, isl.min.toLong, isl.max.toLong + w - 1, isl.size.toLong)
        }
      }
    }.toSet
    assert(expected.nonEmpty, "replica found no spans — the pin checks nothing")
    val got = Dedup.substringSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected,
      s"operator diverges from the first-principles replica: " +
        s"extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
  }

  test("d20 conserves token mass against the d19 spans") {
    // the rewrite's covered mass must equal the span report's total
    // span length per doc (spans are disjoint islands), and stripping
    // everything/nothing must produce the documented digests
    val spans = Dedup.substringSpans(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, ss) => id -> ss.map(r =>
        r.getAs[Long]("span_end") - r.getAs[Long]("span_start") + 1).sum }
    val rw = Dedup.substringRewrite(spark, dir).collect()
    assert(rw.nonEmpty)
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    rw.foreach { r =>
      val (id, nt, nc) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_toks"),
        r.getAs[Long]("n_covered"))
      assert(nc == spans.getOrElse(id, 0L),
        s"doc $id: rewrite covered $nc != span mass ${spans.getOrElse(id, 0L)}")
      assert(nc <= nt, s"doc $id: covered $nc > $nt tokens")
      if (nc == nt) assert(r.getAs[String]("kept_md5") == emptyMd5,
        s"doc $id fully covered but kept_md5 is not md5('')")
    }
  }

  test("t34: tokenization algebra and compression bounds") {
    val rows = Curation.bpeTokenize(spark, dir).collect()
    val nDocs = graft.engine.Tables.t(spark, dir, "documents").count()
    assert(rows.length == nDocs, "a document fell out of the token card")
    rows.foreach { r =>
      val (nw, nc, nb) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_bpe"))
      assert(nw >= 1 && nc >= nw, s"degenerate counts ($nw, $nc)")
      // merging never splits: every word is >= 1 token, <= its chars
      assert(nb >= nw && nb <= nc, s"n_bpe=$nb outside [$nw,$nc]")
      // 2 one-pass rounds: a symbol is at most 4 chars, so the token
      // count cannot compress below a quarter of the char mass
      assert(4 * nb >= nc, s"n_bpe=$nb breaks the 2-round bound vs $nc chars")
    }
    // the merges DID apply: the corpus as a whole compressed
    val (totB, totC) = rows.foldLeft((0L, 0L)) { case ((b, c), r) =>
      (b + r.getAs[Long]("n_bpe"), c + r.getAs[Long]("n_chars")) }
    assert(totB < totC, "no merge ever applied — t34 degenerated to chars")
  }

  test("x26 card columns equal the standalone gates they embed") {
    val card = Pipeline.pretrainCard(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // x25: tokens/share/epochs
    Curation.epochAllocation(spark, dir).collect().foreach { r =>
      val c = card(r.getAs[String]("source"))
      assert(c.getAs[Long]("tokens") == r.getAs[Long]("tokens") &&
        c.getAs[Long]("share_e6") == r.getAs[Long]("share_e6") &&
        c.getAs[Long]("epochs_e3") == r.getAs[Long]("epochs_e3"))
    }
    // t33: drift
    TextAnalysis.sourceDrift(spark, dir).collect().foreach { r =>
      val c = card(r.getAs[String]("source"))
      assert(c.getAs[Long]("tv_e6") == r.getAs[Long]("tv_e6") &&
        c.getAs[String]("drift_term") == r.getAs[String]("drift_term"))
    }
    // s29: embedding drift + confusion pair
    Similarity.sourceEmbeddingDrift(spark, dir).collect().foreach { r =>
      val c = card(r.getAs[String]("source"))
      assert(c.getAs[Long]("emb_drift_e6") == r.getAs[Long]("cos_corpus_e6") &&
        c.getAs[String]("emb_confusion_src") ==
          r.getAs[String]("nearest_source") &&
        c.getAs[Long]("emb_confusion_e6") == r.getAs[Long]("nearest_cos_e6"))
    }
    // t32: the card's top overlap is the max est_jac_e6 of the pairs
    val pairs = TextAnalysis.sourceSimilaritySketch(spark, dir).collect()
      .flatMap { r =>
        val (a, b, e) = (r.getAs[String]("source_a"),
          r.getAs[String]("source_b"), r.getAs[Long]("est_jac_e6"))
        Seq(a -> ((e, b)), b -> ((e, a)))
      }.groupBy(_._1)
    pairs.foreach { case (src, es) =>
      val best = es.map(_._2).maxBy { case (e, p) => (e, -p.hashCode) }
      val expMax = es.map(_._2._1).max
      val c = card(src)
      assert(c.getAs[Long]("top_overlap_e6") == expMax,
        s"$src: card overlap ${c.getAs[Long]("top_overlap_e6")} != $expMax")
      // tie rule: smallest partner among the argmax set
      val expPartner = es.map(_._2).filter(_._1 == expMax).map(_._2).min
      assert(c.getAs[String]("top_overlap_src") == expPartner)
      val _ = best // maxBy kept only for clarity of intent above
    }
    // d17: intra + cross pair conservation — each off-diagonal pair
    // counts once for each endpoint, diagonals once
    val dm = Dedup.dupSourceMatrix(spark, dir).collect()
    val cardIntra = card.values.map(_.getAs[Long]("intra_dup_pairs")).sum
    val cardCross = card.values.map(_.getAs[Long]("cross_dup_pairs")).sum
    val dmIntra = dm.filter(r => r.getString(0) == r.getString(1))
      .map(_.getAs[Long]("n_pairs")).sum
    val dmCross = dm.filter(r => r.getString(0) != r.getString(1))
      .map(_.getAs[Long]("n_pairs")).sum
    assert(cardIntra == dmIntra && cardCross == 2 * dmCross,
      s"dup-pair mass not conserved: ($cardIntra,$cardCross) vs " +
        s"($dmIntra,2*$dmCross)")
  }

  test("t35 equals a first-principles replica of the classifier") {
    // feature extraction (unigrams + bigrams), hashing, bucketing,
    // the weight scramble, and the sign decision re-derived in plain
    // Scala from the raw texts — the d19-replica discipline
    val P = TextHash.P
    def rh(s: String): Long =
      if (s.isEmpty) 7L else s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    def wOf(b: Long): Long =
      ((b + 1) * 2654435761L) % P %
        (2 * TextAnalysis.ClsWeightE6 + 1) - TextAnalysis.ClsWeightE6
    val expected = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).toLowerCase.split("\\s+").toSeq
        val fts = tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
        val score = fts.map(f => wOf(rh(f) % TextAnalysis.ClsBuckets)).sum
        r.getLong(0) -> ((fts.size.toLong, score))
      }.toMap
    val rows = TextAnalysis.classifierScore(spark, dir).collect()
    assert(rows.length == expected.size, "a document fell out of t35")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nf, sc) = expected(id)
      assert(r.getAs[Long]("n_feats") == nf &&
        r.getAs[Long]("score_sum_e6") == sc,
        s"doc $id: (${r.getAs[Long]("n_feats")},${r.getAs[Long]("score_sum_e6")})" +
          s" != replica ($nf,$sc)")
      assert(r.getAs[Int]("keep_cls") == (if (sc >= 0) 1 else 0))
    }
    // the pseudo-model is non-degenerate: both decisions occur
    val keeps = rows.map(_.getAs[Int]("keep_cls")).toSet
    assert(keeps == Set(0, 1), s"degenerate classifier: decisions $keeps")
  }

  test("x27 funnel is monotone and conserves the standalone stage masses") {
    val card = Pipeline.filterFunnel(spark, dir).collect()
    assert(card.nonEmpty)
    card.foreach { r =>
      val lvls = Seq("n_docs", "n_quality", "n_clean", "n_cls", "n_unique")
        .map(c => r.getAs[Long](c))
      assert(lvls.zip(lvls.tail).forall { case (a, b) => a >= b } &&
        lvls.last >= 0, s"funnel not monotone for ${r.getAs[String]("source")}: $lvls")
    }
    // stage-1 mass is exactly t02's keep census (per-source sums to it)
    val qKeep = TextAnalysis.quality(spark, dir)
      .agg(sum("keep")).collect()(0).getLong(0)
    assert(card.map(_.getAs[Long]("n_quality")).sum == qKeep,
      "funnel stage 1 drifted from the t02 gate")
    // the dedup stage can never keep more docs than d01 has winners
    val winners = Dedup.exact(spark, dir).count()
    assert(card.map(_.getAs[Long]("n_unique")).sum <= winners)
  }

  test("x28 packs exactly t34's counts with x04's bin algebra") {
    val t34 = Curation.bpeTokenize(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe")).toMap
    val rows = Curation.bpePacking(spark, dir).collect()
    assert(rows.length == t34.size, "a document fell out of the packing")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      var run = 0L
      rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val nb = r.getAs[Long]("n_bpe")
        val st = r.getAs[Long]("start_tok")
        assert(nb == t34(id), s"doc $id: packed $nb != t34 ${t34(id)}")
        assert(st == run, s"doc $id in $src: start $st != running $run")
        assert(r.getAs[Long]("bin_first") == st / Curation.BpePackBudget &&
          r.getAs[Long]("bin_last") == (st + nb - 1) / Curation.BpePackBudget,
          s"doc $id: bin span disagrees with the concat-and-cut algebra")
        run += nb
      }
    }
  }

  test("s28 equals a first-principles greedy MMR replica") {
    // shortlist scoring, the λ=0.5 greedy argmax, the empty-set
    // sentinel, and the e6 floors re-derived in plain Scala with the
    // same sequential double fold as FloatVecDot
    val vecs = graft.engine.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    val expected = vecs.keys.filter(_ < 10).toSeq.sorted.flatMap { q =>
      var cand = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos(q, c)))
        .sortBy { case (c, r) => (-r, c) }
        .take(Similarity.MmrShortlist)
      var sel = List.empty[(Long, Double, Double)]
      for (_ <- 1 to Similarity.MmrK) {
        val scored = cand.map { case (c, r) =>
          val ms = if (sel.isEmpty) Similarity.MmrEmptySim
            else sel.map(s => cos(c, s._1)).max
          (c, r, ms)
        }
        val best = scored.minBy { case (c, r, ms) => (-(r - ms), c) }
        sel = sel :+ best
        cand = cand.filterNot(_._1 == best._1)
      }
      sel.zipWithIndex.map { case ((c, r, ms), i) =>
        (q, i + 1, c, math.floor(r * 1e6).toLong, math.floor(ms * 1e6).toLong)
      }
    }.toSet
    val got = Similarity.mmrRerank(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("pick"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rel_e6"),
        r.getAs[Long]("maxsim_e6"))).toSet
    assert(got == expected,
      s"s28 diverges from the greedy replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // diversification actually binds: some pick is NOT the next-best
    // by pure relevance (otherwise the operator degenerates to s01)
    val pureTop = Similarity.annTopK(spark, dir, k = Similarity.MmrK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val mmrPicks = got.map { case (q, p, c, _, _) => (q, p, c) }
    assert(mmrPicks != pureTop, "MMR never diverged from pure relevance")
  }

  test("s29 equals a first-principles centroid/dispersion replica") {
    // integer-e6 centroids, the algebraic SSE, the fixed float cosine
    // tree, and the nearest-other argmax re-derived in plain Scala
    val src = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = graft.engine.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1e6).toLong).toArray)
    val bySrc = vecs.groupBy { case (id, _) => src(id) }
    val dims = vecs.head._2.length
    def centroid(xs: Array[Array[Long]]): Array[Long] =
      Array.tabulate(dims)(d =>
        math.floor(xs.map(_(d)).sum.toDouble / xs.length).toLong)
    val cents = bySrc.map { case (sn, m) =>
      sn -> centroid(m.map(_._2))
    }
    val all = vecs.map(_._2)
    val g = Array.tabulate(dims)(d =>
      math.floor(all.map(_(d)).sum.toDouble / all.length).toLong)
    def dotL(a: Array[Long], b: Array[Long]): Long =
      (0 until dims).map(d => a(d) * b(d)).sum
    def cosE6(a: Array[Long], b: Array[Long]): Long =
      math.floor(dotL(a, b).toDouble * 1e6 /
        (math.sqrt(dotL(a, a).toDouble) * math.sqrt(dotL(b, b).toDouble)))
        .toLong
    val expected = bySrc.map { case (sn, m) =>
      val c = cents(sn)
      // Σ(v−m)² via the same algebraic identity, exact in BigInt
      val sse = (0 until dims).map { d =>
        val vsum = BigInt(m.map(_._2(d)).sum)
        val ssum = m.map(x => BigInt(x._2(d)) * x._2(d)).sum
        ssum - 2 * BigInt(c(d)) * vsum + BigInt(m.length) * c(d) * c(d)
      }.sum
      val (no, nc) = cents.filter(_._1 != sn)
        .map { case (on, oc) => (on, cosE6(c, oc)) }
        .minBy { case (on, v) => (-v, on) }
      (sn, m.length.toLong, cosE6(c, g), no, nc,
        (sse / (BigInt(m.length) * 1000)).toLong)
    }.toSet
    val got = Similarity.sourceEmbeddingDrift(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("cos_corpus_e6"), r.getAs[String]("nearest_source"),
        r.getAs[Long]("nearest_cos_e6"), r.getAs[Long]("dispersion_k")))
      .toSet
    assert(got == expected,
      s"s29 diverges from the replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
  }

  test("x29 equals a first-principles decontamination replica") {
    // split rule, 8-gram extraction, rolling hashes, the distinct +
    // benchmark-universe algebra, and the floor'd ratio re-derived in
    // plain Scala — and the semantic pin the hash gate can't express:
    // contaminated docs are train docs, never test/val
    val P = TextHash.P
    val n = Dedup.DecontamN
    def rh(s: String): Long =
      if (s.isEmpty) 7L else s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    val rows = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byDoc = rows.map { case (id, src, text) =>
      val t = text.toLowerCase
      val split = rh(t) % 100 match {
        case m if m < 80 => "train"
        case m if m < 90 => "val"
        case _ => "test"
      }
      val tk = t.split("\\s+", -1).toSeq
      val gs = if (tk.size >= n)
        tk.sliding(n).map(g => rh(g.mkString(" "))).toSet
      else Set.empty[Long]
      (id, src, split, gs)
    }
    val bench = byDoc.filter(_._3 == "test").flatMap(_._4).toSet
    val expected = byDoc
      .filter { case (_, _, split, gs) => split == "train" && gs.nonEmpty }
      .flatMap { case (id, src, _, gs) =>
        val nh = gs.count(bench)
        if (nh == 0) None
        else Some((id, src, gs.size.toLong, nh.toLong,
          1000000L * nh / gs.size))
      }.toSet
    assert(expected.nonEmpty,
      "replica found no contamination — the pin checks nothing")
    val got = Dedup.decontaminate(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("hit_ratio_e6"))).toSet
    assert(got == expected,
      s"x29 diverges from the replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // severity is bounded and attained sanely: every ratio in (0, 1e6]
    assert(got.forall { case (_, _, ng, nh, r) =>
      nh >= 1 && nh <= ng && r >= 1 && r <= 1000000 })
  }

  test("d21 equals a first-principles Lloyd+cosine replica and is d05-consistent") {
    // the WHOLE SemDeDup chain re-derived in plain Scala: e6-floored
    // components, 2 Lloyd rounds (argmin d2, ties -> smallest bucket,
    // empty clusters carry), within-cluster double-fold cosine, the
    // tau bar, and the eviction aggregation
    val vecs = graft.engine.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    // round-12 data-derived K (the engines' clamp rule; the floor
    // applies at this dir)
    val k = math.max(Similarity.KmeansK.toLong,
      math.min(Similarity.KmeansKMax,
        (vecs.length + Similarity.SemDedupChunkTarget - 1) /
          Similarity.SemDedupChunkTarget)).toInt
    val dims = vecs.head._2.length
    val x = vecs.map { case (id, v) =>
      id -> v.map(f => math.floor(f.toDouble * 1e6).toLong)
    }
    var cents: Map[Int, Array[Long]] =
      x.filter(_._1 < k).map { case (id, c) => id.toInt -> c }.toMap
    var asg = Map.empty[Long, Int]
    for (_ <- 1 to Similarity.KmeansRounds) {
      asg = x.map { case (id, xv) =>
        id -> cents.toSeq.map { case (b, c) =>
          (b, (0 until dims).map(d => (xv(d) - c(d)) * (xv(d) - c(d))).sum)
        }.minBy { case (b, d2) => (d2, b) }._1
      }.toMap
      val byB = x.groupBy { case (id, _) => asg(id) }
      cents = cents.map { case (b, prev) =>
        b -> byB.get(b).map { m =>
          Array.tabulate(dims)(d =>
            math.floorDiv(m.map(_._2(d)).sum, m.length.toLong))
        }.getOrElse(prev)
      }
    }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val vmap = vecs.toMap
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val evictions = x.map(_._1).groupBy(asg).toSeq.flatMap { case (b, ids) =>
      val sorted = ids.sorted
      for {
        j <- sorted.indices
        idb = sorted(j)
        csList = sorted.take(j).map { ida =>
          (ida, dot(vmap(ida), vmap(idb)) / (nrm(ida) * nrm(idb)))
        }.filter(_._2 >= Similarity.SemDedupTau)
        if csList.nonEmpty
      } yield (idb, b, csList.map(_._1).min, csList.size.toLong,
        csList.map(c => math.floor(c._2 * 1e6).toLong).max)
    }.toSet
    assert(evictions.nonEmpty, "replica evicted nothing — the pin checks nothing")
    val got = Similarity.semanticDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("bucket"),
        r.getAs[Long]("dup_of"), r.getAs[Long]("n_dups"),
        r.getAs[Long]("max_cs_e6"))).toSet
    assert(got == evictions,
      s"d21 diverges from the replica: extra=${(got -- evictions).take(3)} " +
        s"missing=${(evictions -- got).take(3)}")
    // containment: every confirmed semantic dup is a d05 brute-force
    // pair at the same bar (clustering can only SHRINK the universe)
    val d05 = Similarity.embeddingNearDups(spark, dir).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    got.foreach { case (vid, _, dupOf, _, _) =>
      assert(d05.contains((dupOf, vid)),
        s"d21 pair ($dupOf,$vid) missing from the d05 universe")
    }
  }

  test("i14 equals a first-principles pruning replica") {
    // postings, the BigInt BM25 contributions, the proportional
    // per-term cut, both top-10 rankings, and the survived flags
    // re-derived in plain Scala
    val ws = java.util.regex.Pattern.compile("\\s+")
    val probe = Similarity.HybridQueryTerms.toSet
    val docTok = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ws.split(r.getString(1).toLowerCase, -1).toSeq))
    val nn = docTok.length.toLong
    val ll = docTok.map(_._2.length.toLong).sum
    val tf = docTok.flatMap { case (id, tk) =>
      tk.filter(probe).groupBy(identity).map { case (t, hs) =>
        (t, id, tk.length.toLong, hs.length.toLong)
      }
    }
    val dfm = tf.groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    def contrib(t: String, dl: Long, c: Long): Long = {
      val df = dfm(t)
      val tfpart = (BigInt(22) * c * ll * 1000000) /
        (BigInt(10) * c * ll + BigInt(3) * ll + BigInt(9) * dl * nn)
      val idf = (BigInt(2) * (nn - df) + 1) * 1000000 / (2 * df + 1)
      (tfpart * idf / 1000000).toLong
    }
    val postings = tf.map { case (t, id, dl, c) => (t, id, contrib(t, dl, c)) }
    val keep = TextAnalysis.PruneKeepPermille
    val prunedP = postings.groupBy(_._1).toSeq.flatMap { case (t, ps) =>
      ps.sortBy { case (_, id, c) => (-c, id) }
        .take(((dfm(t) * keep + 999) / 1000).toInt)
    }
    def topK(ps: Seq[(String, Long, Long)]): Seq[(Long, Long)] =
      ps.groupBy(_._2).map { case (id, xs) => (id, xs.map(_._3).sum) }
        .toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    val fk = topK(postings.toSeq)
    val pk = topK(prunedP)
    val pset = pk.map(_._1).toSet
    val expected = fk.zip(pk).zipWithIndex.map {
      case (((fd, fs), (pd, psc)), i) =>
        (i + 1, fd, fs, pd, psc, if (pset(fd)) 1 else 0)
    }.toSet
    val got = TextAnalysis.indexPruning(spark, dir).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_full"),
        r.getAs[Long]("score_full_e6"), r.getAs[Long]("doc_pruned"),
        r.getAs[Long]("score_pruned_e6"), r.getAs[Int]("survived"))).toSet
    assert(got == expected,
      s"i14 diverges from the replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // the cut bites (some full doc falls out) without annihilating
    // the list (some doc survives) — the graded trade the report is for
    val sv = got.toSeq.map(_._6).sum
    assert(sv >= 1 && sv <= 9, s"degenerate pruning report: survived=$sv/10")
  }

  test("s30 equals a first-principles residual-PQ replica") {
    // IVF assignment, the e6-floored cell means, the double→REAL
    // residual rounding, and both PQ error sums re-derived in plain
    // Scala against the shared LCG codebooks
    val civf = graft.functions.IvfAssign.centroids
    val cb = graft.functions.Pq.codebook
    val vecs = graft.engine.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def assign(v: Array[Float]): Int =
      (0 until 16).map { k =>
        var acc = 0.0; var d = 0
        while (d < 64) { acc += v(d).toDouble * civf(k * 64 + d); d += 1 }
        (k, acc)
      }.minBy { case (k, dot) => (-dot, k) }._1
    val asg = vecs.map { case (id, v) => id -> assign(v) }.toMap
    val byB = vecs.groupBy { case (id, _) => asg(id) }
    val means = byB.map { case (b, m) =>
      b -> Array.tabulate(64)(d =>
        math.floorDiv(
          m.map(x => math.floor(x._2(d).toDouble * 1e6).toLong).sum,
          m.length.toLong))
    }
    def pqErr(v: Array[Float]): Long =
      (0 until 8).map { s =>
        val best = (0 until 16).map { k =>
          var acc = 0.0; var d = 0
          while (d < 8) {
            val x = v(s * 8 + d).toDouble - cb((s * 16 + k) * 8 + d)
            acc += x * x; d += 1
          }
          acc
        }.min
        math.floor(best * 1e6).toLong
      }.sum
    val expected = vecs.map { case (id, v) =>
      val b = asg(id)
      val res = Array.tabulate(64)(d =>
        (v(d).toDouble - means(b)(d) / 1000000.0).toFloat)
      val (er, es) = (pqErr(v), pqErr(res))
      (id, b, er, es, if (es < er) 1 else 0)
    }.toSet
    val got = Similarity.residualPqReport(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("bucket"),
        r.getAs[Long]("err_raw_e6"), r.getAs[Long]("err_res_e6"),
        r.getAs[Int]("improved"))).toSet
    assert(got == expected,
      s"s30 diverges from the replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // the audit discriminates: residual encoding helps some vectors
    // and hurts others under the raw-trained codebook — both outcomes
    // must occur or the report carries no signal
    val flags = got.map(_._5)
    assert(flags == Set(0, 1), s"degenerate residual audit: flags $flags")
  }

  test("x30 equals a first-principles sharding replica and conserves the corpus") {
    val P = TextHash.P
    def rh(s: String): Long =
      if (s.isEmpty) 7L else s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    val b = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        (id, r.getString(1).toLowerCase.split("\\s+", -1).length.toLong,
          rh(s"$id:1"))
      }
    val total = b.map(_._2).sum
    val nShards = (total + Curation.ShardBudget - 1) / Curation.ShardBudget
    val expected = b.groupBy { case (_, _, k) => k % nShards }
      .map { case (shard, xs) =>
        val toks = xs.map(_._2).sum
        (shard, nShards, xs.length.toLong, toks,
          toks * 1000000L / (total / nShards),
          xs.minBy { case (id, _, k) => (k, id) }._1)
      }.toSet
    val got = Curation.shardManifest(spark, dir).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_shards"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("dev_e6"), r.getAs[Long]("first_doc"))).toSet
    assert(got == expected,
      s"x30 diverges from the replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // conservation: every document and every token lands in a shard
    assert(got.toSeq.map(_._3).sum == b.length.toLong &&
      got.toSeq.map(_._4).sum == total,
      "sharding lost documents or tokens")
    assert(got.forall { case (s, n, _, _, _, _) => s >= 0 && s < n },
      "a shard id escaped [0, n_shards)")
  }

  test("m07/m08 cluster exactly the m04 pair graph and keep the largest payload") {
    // sf0.1: the smallest driver SF where the perceptual pair graph is
    // non-empty (m04 has no hamming<=6 pairs at sf0.001/sf0.01 — the
    // corpus simply has no ahash twins there, and the oracles agree on
    // empty) — the pin must check a populated graph or it checks nothing
    val d01 = "/root/testdata/sf0.1"
    val pairs = Multimodal.ahashPairs(spark, d01).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")))
    assert(pairs.nonEmpty, "pair graph empty — the pin checks nothing")
    // union-find replica of the clustering
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (ra min rb, ra max rb); parent(hi) = lo }
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val sizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    val got = DupCluster.ahashClusters(spark, d01).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_sz")))
    assert(got.map(x => (x._1, x._2)).toMap == expected &&
      got.forall { case (_, c, sz) => sizes(c) == sz },
      "m07 diverges from the union-find replica")
    // m08: one winner per cluster, the max-byte_len (tie -> min id) member
    val bl = Multimodal.mediaTable(spark, d01).toDF()
      .select("doc_id", "byte_len").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kb = DupCluster.keepBestMedia(spark, d01).collect()
    assert(kb.map(_.getAs[Long]("cluster_id")).toSet == sizes.keySet)
    kb.foreach { r =>
      val c = r.getAs[Long]("cluster_id")
      val members = expected.collect { case (id, cc) if cc == c => id }
      val best = members.minBy(id => (-bl(id), id))
      assert(r.getAs[Long]("rep_doc_id") == best &&
        r.getAs[Long]("rep_byte_len") == bl(best),
        s"cluster $c kept ${r.getAs[Long]("rep_doc_id")}, replica says $best")
    }
  }

  test("x31 card equals the x29 rollup it claims to embed") {
    // composition law (the x26 discipline): every card cell must be
    // derivable from the gated x29 list + the split census — the
    // card's n_contaminated per source is EXACTLY the x29 row count
    // per source, the rate divides by the train universe, and the
    // worst doc is x29's argmax (or the min-id zero-hit doc when a
    // source is clean)
    val x29 = Dedup.decontaminate(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("hit_ratio_e6")))
    val card = Dedup.decontaminationCard(spark, dir).collect()
    assert(card.nonEmpty && x29.nonEmpty)
    val bySrc = x29.groupBy(_._1)
    card.foreach { r =>
      val src = r.getAs[String]("source")
      val contaminated = bySrc.getOrElse(src, Array.empty)
      assert(r.getAs[Long]("n_contaminated") == contaminated.length.toLong,
        s"$src: card says ${r.getAs[Long]("n_contaminated")} contaminated, " +
          s"x29 lists ${contaminated.length}")
      assert(r.getAs[Long]("rate_e6") ==
        1000000L * contaminated.length / r.getAs[Long]("n_train_docs"))
      if (contaminated.nonEmpty) {
        val worst = contaminated.minBy { case (_, id, hr) => (-hr, id) }
        assert(r.getAs[Long]("worst_doc") == worst._2 &&
          r.getAs[Long]("max_hit_ratio_e6") == worst._3,
          s"$src: worst (${r.getAs[Long]("worst_doc")}," +
            s"${r.getAs[Long]("max_hit_ratio_e6")}) != x29 argmax $worst")
      } else {
        assert(r.getAs[Long]("max_hit_ratio_e6") == 0L,
          s"$src clean per x29 but card claims a nonzero max ratio")
      }
    }
    // the census covers every source (the stand-in corpus has 20)
    assert(card.length == 20, s"card has ${card.length} sources")
  }

  test("i13 rank-by-counting equals a full-sort ranking replica") {
    // tokenize (the tokens() whitespace split), tf/df/corpus stats,
    // the exact-integer BM25 formula in BigInt, and the TRUE rank via
    // a full sort — proving the window-free 1 + count(better) path
    val texts = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val probe = TextAnalysis.RetrievalEvalTerms.toSet
    // limit -1: Spark's split() keeps trailing empty tokens (they
    // never match a probe term but DO count toward dl)
    val ws = java.util.regex.Pattern.compile("\\s+")
    val docTok = texts.map { case (id, t) =>
      (id, ws.split(t.toLowerCase, -1).toSeq)
    }
    val nn = docTok.length.toLong
    val ll = docTok.map(_._2.length.toLong).sum
    val tf = docTok.flatMap { case (id, tk) =>
      tk.filter(probe).groupBy(identity).map { case (term, hits) =>
        (term, id, tk.length.toLong, hits.length.toLong)
      }
    }
    val dfm = tf.groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    def score(t: String, dl: Long, c: Long): BigInt = {
      val df = dfm(t)
      val tfpart = (BigInt(22) * c * ll * 1000000) /
        (BigInt(10) * c * ll + BigInt(3) * ll + BigInt(9) * dl * nn)
      val idf = (BigInt(2) * (nn - df) + 1) * 1000000 / (2 * df + 1)
      tfpart * idf / 1000000
    }
    val expected = dfm.keys.map { term =>
      val scored = tf.filter(_._1 == term)
        .map { case (_, id, dl, c) => (id, c, score(term, dl, c)) }
      val (relDoc, relTf, _) =
        scored.maxBy { case (id, c, _) => (c, -id) }
      val rank = scored.sortBy { case (id, _, sc) => (-sc, id) }
        .indexWhere(_._1 == relDoc) + 1L
      (term, dfm(term), relDoc, relTf, rank.toInt,
        1000000L / rank,
        if (rank == 1) 1 else 0, if (rank <= 10) 1 else 0)
    }.toSet
    val got = TextAnalysis.retrievalEval(spark, dir).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"),
        r.getAs[Long]("rel_doc"), r.getAs[Long]("rel_tf"),
        r.getAs[Int]("rank"), r.getAs[Long]("rr_e6"),
        r.getAs[Int]("hit1"), r.getAs[Int]("hit10"))).toSet
    assert(got == expected,
      s"i13 diverges from the replica: extra=${(got -- expected).take(3)} " +
        s"missing=${(expected -- got).take(3)}")
    // the eval discriminates: at least one known item is NOT at rank 1
    // (length normalization actually reorders raw tf somewhere)
    assert(got.exists(_._5 > 1), "every known item ranked first — the " +
      "eval cannot distinguish scorers on this corpus")
  }
}
