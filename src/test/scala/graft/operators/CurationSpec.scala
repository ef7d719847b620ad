package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Relational
import graft.operators.Similarity

/** Semantic specs for the corpus-curation operators (Curation.scala)
  * and the round-5 SQL-surface queries — invariants the row-hash
  * oracle can't express (consistency across operators, packing
  * geometry, determinism). */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  test("normalization never grows the token stream and is deterministic") {
    val a = Curation.normalize(spark, dir).collect()
    assert(a.length == 500)
    a.foreach { r =>
      assert(r.getAs[Int]("n_toks_norm") <= r.getAs[Int]("n_toks_raw"))
    }
    val b = Curation.normalize(spark, dir).collect()
    assert(a.map(_.getString(3)).toSeq == b.map(_.getString(3)).toSeq)
  }

  test("badwords keep-flag matches its ratio rule on full coverage") {
    val rows = Curation.badwords(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val expect = if (r.getAs[Long]("banned_ratio_e6") < 80000) 1 else 0
      assert(r.getAs[Int]("keep") == expect)
      assert(r.getAs[Int]("n_banned") <= r.getAs[Int]("n_toks"))
    }
  }

  test("domain stats partition the corpus and shares sum to ~1") {
    val rows = Curation.domainStats(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 500L)
    val share = rows.map(_.getAs[Long]("share_e6")).sum
    assert(share > 999900L && share <= 1000000L, s"share sum $share")
  }

  test("contaminated docs are train-split docs sharing test shingles") {
    val contaminated = Curation.contamination(spark, dir)
    val splits = TextAnalysis.hashSplit(spark, dir).select("doc_id", "split")
    val joined = contaminated.join(splits, "doc_id").collect()
    assert(joined.length == contaminated.count())
    joined.foreach { r =>
      assert(r.getAs[String]("split") == "train")
      assert(r.getAs[Long]("n_shared_shingles") >= 1L)
    }
  }

  test("top terms: one argmax row per document, score = tf*1e6 div df") {
    val rows = Curation.topTerms(spark, dir).collect()
    assert(rows.length == 500)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 500)
    rows.foreach { r =>
      val tf = r.getAs[Long]("tf"); val df = r.getAs[Long]("df")
      assert(tf >= 1 && df >= 1 && df <= 500)
      assert(r.getAs[Long]("score") == tf * 1000000L / df)
    }
  }

  test("stratified sample respects strata and is deterministic") {
    val a = Curation.stratifiedSample(spark, dir).collect()
    assert(a.map(_.getAs[Long]("n_total")).sum == 500L)
    a.foreach { r =>
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_total"))
    }
    val b = Curation.stratifiedSample(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("packing spans are contiguous and bin-consistent per shard") {
    val rows = Curation.packing(spark, dir).collect()
    assert(rows.length == 500)
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var expectStart = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("start_tok") == expectStart,
          s"gap/overlap at doc ${r.getAs[Long]("doc_id")}")
        expectStart += r.getAs[Long]("n_toks")
        assert(r.getAs[Long]("bin_first") == r.getAs[Long]("start_tok") / 256)
        assert(r.getAs[Long]("bin_last") == (expectStart - 1) / 256)
        assert(r.getAs[Long]("bin_first") <= r.getAs[Long]("bin_last"))
      }
    }
  }

  test("pq codes: 8 subspaces per vector, codes in range") {
    val rows = Similarity.pqCodes(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("sub")).sorted.toSeq == (0 to 7))
    }
    rows.foreach { r =>
      val code = r.getAs[Int]("code")
      assert(code >= 0 && code < 16)
      assert(r.getAs[Long]("err_e6") >= 0L)
    }
  }

  test("pq adc ranking is complete, ascending, and self-free") {
    val rows = Similarity.annPqTopK(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      assert(sorted.forall(_.getAs[Long]("neighbor_id") != q))
      val adcs = sorted.map(_.getAs[Long]("adc_e6"))
      assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b })
    }
  }

  test("curation card composes consistently with standalone operators") {
    val card = Pipeline.curationCard(spark, dir).collect()
    assert(card.nonEmpty)
    card.foreach { r =>
      val toks = r.getAs[Long]("tokens_total")
      assert(r.getAs[Long]("n_bins") == (toks + 255) / 256)
      assert(Set("train", "val", "test")(r.getAs[String]("split")))
    }
    // the pipeline filters before sampling, so per-language totals
    // can never exceed the standalone stratified sample's counts
    val sampled = Curation.stratifiedSample(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_sampled")).toMap
    card.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      assert(rs.map(_.getAs[Long]("n_docs")).sum <= sampled(lang))
    }
  }

  test("resample grid is contiguous, conserves events, fills gaps") {
    val rows = TimeSeries.resampleFfill(spark, dir).collect()
    val totalEvents = spark.sql("SELECT count(*) FROM events").head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_events")).sum == totalEvents)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val hrs = rs.map(_.getAs[Long]("hr")).sorted
      assert(hrs.last - hrs.head + 1 == hrs.length, "grid has holes")
      // forward fill: every cell carries a value once the series began
      // (the first grid hour is the user's first active hour)
      var lastV: Any = null
      rs.sortBy(_.getAs[Long]("hr")).foreach { r =>
        val v = r.getAs[Any]("ffill_v_e6")
        assert(v != null)
        if (r.getAs[Long]("n_events") == 0)
          assert(v == lastV, "gap cell must repeat the previous value")
        lastV = v
      }
    }
  }

  test("z-order layout serves a 2-D box query from no more chunks than a 1-D sort") {
    val rows = Layout.zorderKeys(spark, dir).collect()
    // box = [p05, p30) of each dimension (data-driven so the test
    // holds at any SF). Deliberately off-center: a box straddling the
    // top-level bit split in both dims is the z-curve's known
    // worst-case fragmentation, not its usage pattern.
    def band(vals: Seq[Long]) = {
      val s = vals.sorted; (s(s.length / 20), s(s.length * 3 / 10))
    }
    val (tLo, tHi) = band(rows.map(_.getAs[Long]("tb")).toSeq)
    val (vLo, vHi) = band(rows.map(_.getAs[Long]("vb")).toSeq)
    val chunk = math.max(rows.length / 40, 1)
    def touched(sorted: Seq[org.apache.spark.sql.Row]): Int =
      sorted.zipWithIndex.filter { case (r, _) =>
        val t = r.getAs[Long]("tb"); val v = r.getAs[Long]("vb")
        t >= tLo && t < tHi && v >= vLo && v < vHi
      }.map(_._2 / chunk).distinct.size
    val zChunks = touched(rows.sortBy(r =>
      (r.getAs[Long]("zkey"), r.getAs[Long]("event_id"))))
    val tChunks = touched(rows.sortBy(r =>
      (r.getAs[Long]("tb"), r.getAs[Long]("event_id"))))
    val vChunks = touched(rows.sortBy(r =>
      (r.getAs[Long]("vb"), r.getAs[Long]("event_id"))))
    assert(zChunks <= math.min(tChunks, vChunks),
      s"z-order touched $zChunks chunks vs t-sort $tChunks / v-sort $vChunks")
  }

  test("pii scrub removes every digit run and pseudonymizes injectively") {
    val rows = Curation.piiScrub(spark, dir).collect()
    val nCust = graft.engine.Tables.t(spark, dir, "customer").count()
    val nSupp = graft.engine.Tables.t(spark, dir, "supplier").count()
    assert(rows.length == nCust + nSupp)
    rows.foreach { r =>
      val red = r.getAs[String]("redacted")
      assert(!red.matches(s".*${Curation.IdRunRegex}.*"),
        s"digit run survives redaction: $red")
      assert(r.getAs[Int]("n_id_runs") >= 1,
        "every fixture entity name carries an id run")
    }
    // distinct names → distinct pseudonyms (md5 collision-free here),
    // and the pseudonym must not leak the redacted-away digits
    val ps = rows.map(_.getAs[String]("pseudonym"))
    assert(ps.distinct.length == ps.length)
    assert(ps.forall(_.matches("[0-9a-f]{32}")))
  }

  test("k-anonymity classes partition customers; flag matches k=5") {
    val rows = Curation.kAnonymity(spark, dir).collect()
    val nCust = graft.engine.Tables.t(spark, dir, "customer").count()
    assert(rows.map(_.getAs[Long]("class_sz")).sum == nCust,
      "equivalence classes must partition the table")
    rows.foreach { r =>
      assert((r.getAs[Long]("class_sz") >= 5) ==
        (r.getAs[Int]("k_anonymous") == 1))
    }
    // the quasi-identifier tuple is unique per output row
    val keys = rows.map(r => (r.getAs[Int]("c_nationkey"),
      r.getAs[String]("c_mktsegment"), r.getAs[Long]("bal_bucket")))
    assert(keys.distinct.length == keys.length)
  }

  test("snapshot diff classifies exactly the constructed deltas") {
    val rows = graft.operators.Merge.snapshotDiff(spark, dir).collect()
    rows.foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      r.getAs[String]("status") match {
        case "added" =>
          assert(k % 10 == 3 && k % 10 != 7, s"added key $k not mod-3")
          assert(r.isNullAt(r.fieldIndex("old_price_c")))
        case "removed" =>
          assert(k % 10 == 7, s"removed key $k not mod-7")
          assert(r.isNullAt(r.fieldIndex("new_price_c")))
        case "changed" =>
          assert(k % 5 == 0 && k % 10 != 3 && k % 10 != 7)
          assert(r.getAs[Long]("new_price_c") ==
            r.getAs[Long]("old_price_c") + 500)
        case other => fail(s"unexpected status $other")
      }
    }
    // completeness: every key the construction perturbs is reported
    val expect = graft.engine.Tables.t(spark, dir, "orders")
      .select("o_orderkey").collect().map(_.getLong(0))
      .filter(k => k % 10 == 3 || k % 10 == 7 ||
        (k % 5 == 0 && k % 10 != 3 && k % 10 != 7)).toSet
    assert(rows.map(_.getAs[Long]("o_orderkey")).toSet == expect)
  }

  test("q43 CTE threshold really is the mean (brute-force cross-check)") {
    val all = spark.sql("""
      SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name""").collect()
    val mean = all.map(_.getAs[Double]("rev")).sum / all.length
    val expect = all.filter(_.getAs[Double]("rev") > mean)
      .map(_.getAs[String]("n_name")).toSet
    val got = Relational.q43_cte(spark, dir).collect()
      .map(_.getAs[String]("n_name")).toSet
    assert(got == expect)
  }

  test("q48 integer-moment statistics match Spark's float builtins") {
    val got = Relational.q48_moments(spark, dir).collect()
      .map(r => r.getAs[String]("flag") -> r).toMap
    spark.sql("""SELECT l_returnflag AS flag, var_samp(l_quantity) AS v,
        corr(l_quantity, l_extendedprice) AS c
      FROM lineitem GROUP BY 1""").collect().foreach { r =>
      val g = got(r.getAs[String]("flag"))
      assert(math.abs(g.getAs[Long]("var_qty_e6") / 1e6 -
        r.getAs[Double]("v")) < 0.01)
      // corr is scale-invariant, so cents vs dollars only differs by
      // the half-cent rounding — far inside this tolerance
      assert(math.abs(g.getAs[Long]("corr_e6") / 1e6 -
        r.getAs[Double]("c")) < 0.001)
    }
  }

  test("q44 unpivot emits 3 metric rows per returnflag") {
    val rows = Relational.q44_unpivot(spark, dir).collect()
    val byFlag = rows.groupBy(_.getAs[String]("l_returnflag"))
    byFlag.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[String]("metric")).sorted.toSeq ==
        Seq("n_lines", "n_orders", "sum_qty"))
    }
  }

  test("q45 lateral returns the true top-2 orders per customer") {
    val rows = Relational.q45_lateral(spark, dir).collect()
    val byCust = rows.groupBy(_.getAs[Long]("c_custkey"))
    byCust.foreach { case (_, rs) => assert(rs.length <= 2) }
    // brute-force one customer with >= 2 orders
    val sample = byCust.find(_._2.length == 2).get
    val brute = spark.sql(
      s"""SELECT o_orderkey FROM orders WHERE o_custkey = ${sample._1}
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2""").collect()
      .map(_.getLong(0)).toSet
    assert(sample._2.map(_.getAs[Long]("o_orderkey")).toSet == brute)
  }

  test("temperature sampling boosts low-resource languages monotonically") {
    val rows = Curation.temperatureSample(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, rate, kept) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("rate_e6"), r.getAs[Long]("n_sampled"))
      assert(rate >= 0 && rate <= 1000000 && kept <= n)
    }
    // α = 0.5: a larger language never gets a higher keep rate
    for (a <- rows; b <- rows
         if a.getAs[Long]("n_docs") > b.getAs[Long]("n_docs"))
      assert(a.getAs[Long]("rate_e6") <= b.getAs[Long]("rate_e6"),
        s"${a.getString(0)} (bigger) out-rates ${b.getString(0)}")
  }

  test("char diversity stats satisfy the exact-integer identities") {
    val rows = TextAnalysis.charDiversity(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, k) = (r.getAs[Int]("n_chars").toLong, r.getAs[Int]("n_distinct").toLong)
      val (top, div) = (r.getAs[Long]("top_share_e6"), r.getAs[Long]("diversity_e6"))
      assert(k >= 1 && k <= n)
      // max count >= n/k  ⇒ top share >= floor(1e6/k) (one floor of slack)
      assert(top >= 1000000L / k - 1 && top <= 1000000L)
      // Simpson D >= 1/k  ⇒ diversity <= 1e6 - floor(1e6/k) + 1
      assert(div >= 0 && div <= 1000000L - 1000000L / k + 1)
    }
  }

  test("pruning report: box mass is layout-invariant, z-order reads least") {
    val rows = Layout.pruningReport(spark, dir).collect()
    assert(rows.length == 4)
    val box = rows.map(_.getAs[Long]("n_rows_box")).distinct
    assert(box.length == 1, "true box cardinality must not depend on layout")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_files_scanned") <= r.getAs[Long]("n_files"))
      assert(r.getAs[Long]("n_rows_scanned") >= box.head,
        "a layout cannot scan fewer rows than the box holds")
    }
    val byLayout = rows.map(r => r.getString(0) -> r.getAs[Long]("n_rows_scanned")).toMap
    // the z01 locality claim as rows: both dims selective ⇒ the
    // interleaved layout reads no more than either 1-D sort
    assert(byLayout("zorder") <= byLayout("time") &&
      byLayout("zorder") <= byLayout("value"), s"z-order not best: $byLayout")
  }
}
