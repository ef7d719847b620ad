package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-12 classifier-chain closure that
  * the row-hash oracle can't express: the trained model must REPLAY
  * from first principles (the hard-example perceptron is exactly the
  * documented recurrence), must actually LEARN (non-degenerate
  * held-out confusion — the failure mode that exposed round 11's
  * unlearnable source labels), the label guard must survive the
  * optimizer, x33 must conserve docs/tokens against the stages it
  * composes, and the x32 manifest must survive a real
  * partitionBy("shard") write → read round trip. */
class Round12Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.01"

  /** Pure-Scala replica of the t36 chain: tokenize (split -1, the
    * proven Spark-split convention), t35's unigram+bigram features,
    * rolling hash base 31 seed 7 mod P, bucket mod ClsBuckets, the
    * always-on bias bucket, t02's quality rule as the label, then
    * [[TextAnalysis.PerceptronRounds]] class-stratified hard-example
    * rounds in plain collections. */
  private lazy val replica: (Array[(Long, Long, Map[Long, Long])],
      Map[Long, Long] => Map[Long, Long]) = {
    val P = 1000000007L
    val B = TextAnalysis.ClsBuckets
    def rh(s2: String): Long =
      s2.foldLeft(7L)((a, ch) => (a * 31 + ch.toLong) % P)
    val ws = java.util.regex.Pattern.compile("\\s+")
    val corpus = graft.engine.Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "text").collect().map { r =>
        val t = r.getString(2).toLowerCase
        val tk = ws.split(t, -1).toSeq
        val nChars = t.length.toLong
        val nPunct = t.count(c => !(c.isWhitespace ||
          ('a' to 'z').contains(c) || ('0' to '9').contains(c))).toLong
        val punctE6 =
          math.floor(nPunct.toDouble / nChars * 1e6).toLong
        val ttrE6 =
          math.floor(tk.distinct.length.toDouble / tk.length * 1e6).toLong
        val y = if (nChars >= TextAnalysis.QualityMinChars &&
          tk.length >= TextAnalysis.QualityMinToks &&
          punctE6 < TextAnalysis.QualityMaxPunctE6 &&
          ttrE6 > TextAnalysis.QualityMinTtrE6) 1L else -1L
        val fts = tk ++ (if (tk.length >= 2)
          tk.sliding(2).map(_.mkString(" ")).toSeq else Seq())
        val tf = fts.groupBy(f => rh(f) % B)
          .map { case (b, hits) => b -> hits.length.toLong } +
          (TextAnalysis.ClsBiasBucket -> 1L)
        (r.getLong(0), y, tf)
      }
    def trainFold(docs: Map[Long, Long]): Map[Long, Long] = {
      // docs: doc_id -> y for the training universe (t36 = all docs,
      // t37 = the non-holdout fold); features come from `corpus`
      val in = corpus.filter(d => docs.contains(d._1))
      var w = Map.empty[Long, Long].withDefaultValue(0L)
      for (_ <- 1 to TextAnalysis.PerceptronRounds) {
        val ym = in.map { case (id, y, tf) =>
          (id, y, tf, y * tf.map { case (b, n) => n * w(b) }.sum)
        }.filter(_._4 <= 0L)
        val sel = Seq(1L, -1L).flatMap { cls =>
          ym.filter(_._2 == cls).sortBy(d => (d._4, d._1))
            .take(TextAnalysis.ClsHardK.toInt)
        }
        val delta = sel
          .flatMap { case (_, y, tf, _) =>
            tf.map { case (b, n) => b -> y * n } }
          .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
        w = w ++ delta.map { case (b, d) => b -> (w(b) + d) }
      }
      w
    }
    (corpus, trainFold)
  }

  test("t36: the trained weights replay exactly from first principles") {
    val got = TextAnalysis.classifierTrain(spark, dir).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("w")).toMap
    assert(got.size == TextAnalysis.ClsBuckets + 1,
      "the model artifact must cover every bucket plus the bias")
    val (corpus, trainFold) = replica
    val w = trainFold(corpus.map(d => d._1 -> d._2).toMap)
    (0L to TextAnalysis.ClsBuckets).foreach { b =>
      assert(got(b) == w(b),
        s"bucket $b: engine ${got(b)} vs replica ${w(b)}")
    }
    assert(got.values.count(_ != 0L) > 0, "dead chain: all-zero model")
  }

  test("t36/t37: the model LEARNS — non-degenerate held-out confusion") {
    // the check that caught round 11: a model predicting one class
    // everywhere gates green (both engines agree) but serves nothing.
    // Require hits in ALL FOUR confusion quadrants summed over the
    // holdout fold, and held-out accuracy strictly above the best
    // CONSTANT classifier (the distillation labels are ~91-94%
    // positive, so all-positive is a strong baseline the model must
    // beat — round 11's degenerate model could not).
    val rows = TextAnalysis.classifierEval(spark, dir)
      .filter(col("holdout") === 1).collect()
    val (tp, fp, fn, tn) = rows.foldLeft((0L, 0L, 0L, 0L)) { (a, r) =>
      (a._1 + r.getAs[Long]("tp"), a._2 + r.getAs[Long]("fp"),
        a._3 + r.getAs[Long]("fn"), a._4 + r.getAs[Long]("tn"))
    }
    assert(tp > 0 && tn > 0, s"degenerate one-class model: " +
      s"tp=$tp fp=$fp fn=$fn tn=$tn")
    val n = tp + fp + fn + tn
    val majority = math.max(tp + fn, fp + tn) // best one-class score
    assert(tp + tn > majority,
      s"model no better than majority: acc=${tp + tn}/$n vs $majority")
    // quadrants tile the census and n_keep is the positive column
    val total = TextAnalysis.classifierEval(spark, dir).collect()
    total.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") +
        r.getAs[Long]("fn") + r.getAs[Long]("tn") ==
        r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_keep") ==
        r.getAs[Long]("tp") + r.getAs[Long]("fp"))
    }
  }

  test("t37: the split model replays and the holdout fold matches " +
      "the LCG rule") {
    val P = 1000000007L
    val (corpus, trainFold) = replica
    def holdout(id: Long): Boolean =
      ((id % P) * 2654435761L) % P % TextAnalysis.EvalFolds == 0L
    val w = trainFold(
      corpus.filter(d => !holdout(d._1)).map(d => d._1 -> d._2).toMap)
    // replica confusion over the holdout fold vs the gated output
    var (tp, fp, fn, tn) = (0L, 0L, 0L, 0L)
    corpus.filter(d => holdout(d._1)).foreach { case (_, y, tf) =>
      val keep = tf.map { case (b, n) => n * w(b) }.sum > 0L
      if (y > 0 && keep) tp += 1 else if (y < 0 && keep) fp += 1
      else if (y > 0) fn += 1 else tn += 1
    }
    val got = TextAnalysis.classifierEval(spark, dir)
      .filter(col("holdout") === 1)
      .agg(sum("tp"), sum("fp"), sum("fn"), sum("tn")).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) == ((tp, fp, fn, tn)),
      s"holdout confusion diverges from the replica: got $got " +
        s"vs ($tp,$fp,$fn,$tn)")
  }

  test("t36/t37: the label-space guard rides the optimized plan") {
    // the d21 discipline: if a refactor (or column pruning) drops the
    // assert_true, a degenerate testdata refresh would silently train
    // a single-class model instead of failing loudly. t36's GATED
    // plan is a checkpoint scan (the memo trains eagerly at
    // construction), so the pin goes on the training input the rounds
    // actually execute...
    // (t37's gated plan is a checkpoint scan too since its eval memo
    // — the guard executes inside both builders; the degenerate-
    // corpus test below proves it actually fires)
    val p = TextAnalysis.labeledFeatures(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("assert_true") || p.contains("raise_error"),
      s"the label guard is gone from the training input's plan:\n$p")
  }

  test("t36: the label guard FIRES on a degenerate corpus") {
    // behavioral half of the plan pin: a corpus where the quality
    // rule keeps everything must fail training loudly, not hand back
    // a single-class model (VERDICT r11 item 3's failure mode)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_degenerate_").toString
    try {
      val text = (0 until 60).map(i => s"w$i").mkString(" ") // passes t02
      val rows = (0L until 40L).map(i =>
        (i, text, "en", s"src${i % 4}", text.length.toLong))
      val sqlc = spark
      import sqlc.implicits._
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val ex = intercept[Exception] {
        TextAnalysis.classifierTrain(spark, tmp).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(ex).exists(_.contains("degenerate")),
        s"expected the label-guard message, got: $ex")
    } finally {
      Memos.invalidate() // never leak a poisoned weight memo
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("x33: assembly under the trained filter conserves docs and " +
      "tokens against the stages it composes") {
    val x33 = Pipeline.finalAssemblyTrained(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val keep = TextAnalysis.trainedKeep(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val d20 = Dedup.substringRewrite(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_covered"))).toMap
    val t34 = Curation.bpeTokenize(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe")).toMap
    assert(x33.nonEmpty, "x33 emitted nothing — the trained filter " +
      "keeps no documents (a degenerate model reached serving)")
    assert(x33.keySet.subsetOf(keep), "x33 emitted a filtered-out doc")
    // d20/t34 are corpus-total dumps, so every kept doc must appear in
    // both; .get + a labelled assert so a coverage gap fails readably
    // instead of as a bare NoSuchElementException (round-13 ADVICE fix)
    val expected = keep.filter { d =>
      val nc = d20.get(d)
      assert(nc.nonEmpty, s"doc $d kept but absent from d20's " +
        "substringRewrite output — stage coverage gap")
      val (n, c) = nc.get; n - c > 0
    }
    assert(x33.keySet == expected,
      s"docs in = kept + has-kept-tokens must balance: " +
        s"${expected.size} expected vs ${x33.size} emitted")
    x33.foreach { case (d, r) =>
      val nb = r.getAs[Long]("n_bpe")
      val tb = t34.get(d)
      assert(tb.nonEmpty, s"doc $d emitted by x33 but absent from " +
        "t34's bpeTokenize output — stage coverage gap")
      assert(nb >= 1 && nb <= tb.get, s"doc $d: n_bpe $nb vs t34 ${tb.get}")
    }
    // within each shard the intervals tile [0, mass) — x32's law
    // under the swapped filter
    x33.values.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rs) =>
      val iv = rs.map(r =>
        (r.getAs[Long]("start_tok"), r.getAs[Long]("n_bpe")))
        .toSeq.sortBy(_._1)
      var cursor = 0L
      iv.foreach { case (st, n) =>
        assert(st == cursor, s"shard $sh: gap/overlap at $st != $cursor")
        cursor = st + n
      }
    }
  }

  test("x32: the manifest survives a partitionBy(shard) write→read " +
      "round trip with doc and token conservation") {
    // VERDICT r11 item 5: nothing executed the manifest. Write the
    // shards the way a writer would — partitionBy("shard") parquet —
    // re-read, and require the round trip to conserve the document
    // set, every per-doc token count, and the per-shard masses.
    val manifest = Pipeline.finalAssembly(spark, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft_shards_").toString
    try {
      manifest.write.mode("overwrite").partitionBy("shard").parquet(out)
      val back = spark.read.parquet(out)
      // partition column survives (as the directory key) and every
      // shard directory exists on disk
      val wrote = manifest.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("shard"), r.getAs[Long]("n_bpe"),
            r.getAs[Long]("start_tok"))).toMap
      val read = back.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Any]("shard").toString.toLong, r.getAs[Long]("n_bpe"),
            r.getAs[Long]("start_tok"))).toMap
      assert(read == wrote,
        "round trip changed the manifest (docs, shards, counts or offsets)")
      val shardDirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
        .map(_.getName.stripPrefix("shard=").toLong).toSet
      assert(shardDirs == wrote.values.map(_._1).toSet,
        "shard directories diverge from the manifest's shard set")
      // per-shard mass re-derives from the re-read rows
      read.values.groupBy(_._1).foreach { case (sh, rs) =>
        val mass = rs.map(_._2).sum
        assert(rs.map(r => r._3 + r._2).max == mass,
          s"shard $sh: re-read intervals do not tile its mass")
      }
    } finally {
      // best-effort temp cleanup; the OS reaps /tmp regardless
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(out))
    }
  }
}
