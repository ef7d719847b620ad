package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that don't need a SparkSession — the
  * rules that make the harness gates work, pinned so adding a query
  * can't silently break them.
  */
class ContractSpec extends AnyFunSuite {

  test("every query has a DuckDB oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without a query: ${o -- q}")
  }

  test("query id prefixes stay unique (bench short keys) ") {
    val names = SparkEntry.queries.keys.toSeq
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size == prefixes.size,
      "duplicate id prefix would force the bench line back to full names")
  }

  test("bench line never outgrows the driver tail window (self-truncating)") {
    // Bench.compactLine measures the REAL string and folds the
    // cheapest queries into other_n/other_sec until it fits — so the
    // invariant to pin is the builder's guarantee, at the current
    // query census and far past it.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val timings = names.zipWithIndex.map { case (n, i) => n -> (0.1 + i * 0.07) }
    val now = Bench.compactLine(timings, 42.0, 3, Nil, 0, "/root/testdata/sf0.1")
    assert(now.length <= Bench.MaxLineChars, s"line ${now.length} chars")
    // at the current census the heaviest queries must still be
    // in-line by name (folding, if any, eats from the cheap end)
    val heavy = names.zipWithIndex.sortBy(-_._2).take(10).map(_._1)
    heavy.foreach { n =>
      assert(now.contains("\"" + n.takeWhile(_ != '_') + "\":"),
        s"heavy query $n folded out of the bench line")
    }
    // stress: 400 synthetic queries still fit, and the fold rollup
    // preserves the census (other_n accounts for every folded entry)
    val big = (1 to 400).map(i => f"v$i%03d_synthetic" -> (i * 0.01))
    val folded = Bench.compactLine(big, 800.0, 3, Nil, 0, "/tmp/x")
    assert(folded.length <= Bench.MaxLineChars)
    assert(folded.contains("\"other_n\":"))
    // -1 (failed) entries never fold — reds stay visible
    val withRed = Bench.compactLine(big :+ ("zzz_red" -> -1.0),
      800.0, 3, Nil, 0, "/tmp/x")
    assert(withRed.contains("\"zzz\":-1"))
    assert(withRed.length <= Bench.MaxLineChars,
      s"red line ${withRed.length} chars")
    // mass failure: hundreds of reds + a full failed_runs map can't
    // be kept by name — the collapsed last resort must still fit and
    // still parse (failed_n carries the count)
    val massRed = (1 to 300).map(i => f"w$i%03d_red" -> -1.0) ++
      (1 to 100).map(i => f"v$i%03d_ok" -> (i * 0.01))
    val redRuns = (1 to 300).map(i => f"w$i%03d_red" -> 3)
    val massLine = Bench.compactLine(massRed, 1.0, 3, redRuns, 0, "/tmp/x")
    assert(massLine.length <= Bench.MaxLineChars,
      s"mass-failure line ${massLine.length} chars")
    assert(massLine.contains("\"failed_n\":300"))
    // fp_err counts unfingerprintable plans: absent at 0, present and
    // still inside the window at the census, past it, and when collapsed
    assert(!now.contains("fp_err"))
    for ((line, what) <- Seq(
        Bench.compactLine(timings, 42.0, 3, Nil, 0, "/root/testdata/sf0.1",
          fpErr = 201) -> "census",
        Bench.compactLine(big, 800.0, 3, Nil, 0, "/tmp/x", fpErr = 400) -> "400 queries",
        Bench.compactLine(massRed, 1.0, 3, redRuns, 0, "/tmp/x", fpErr = 400)
          -> "mass failure")) {
      assert(line.contains("\"fp_err\":"), s"$what line lost fp_err")
      assert(line.length <= Bench.MaxLineChars, s"$what line with fp_err ${line.length} chars")
    }
  }

  /** Minimal flat-JSON object extractor for the bench detail files:
    * returns the `"key":value` pairs of the top-level object named
    * `section` (values taken verbatim — numbers or quoted strings).
    * Enough for the fixed shape Bench.scala writes; not a parser. */
  private def jsonSection(text: String, section: String): Map[String, String] = {
    val start = text.indexOf("\"" + section + "\":{")
    if (start < 0) return Map.empty
    val open = text.indexOf('{', start)
    var depth = 0; var i = open
    while ({ // bench values never contain braces, so brace-count is exact
      if (text(i) == '{') depth += 1
      if (text(i) == '}') depth -= 1
      depth > 0
    }) i += 1
    val body = text.substring(open + 1, i)
    raw""""([^"]+)":("[^"]*"|\[[^\]]*\]|[-0-9.eE]+)""".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("bench median drift vs the committed sf0.1 baseline is attributable") {
    // Round-9 finding made executable: t19/t24 rose ~20-70% with
    // unchanged plans, attributed to host variance by prose. This
    // check does the attribution from artifacts: a query whose median
    // moved >1.5x (and >1s absolute) AGAINST an unchanged plan
    // fingerprint, while the census as a whole did NOT shift (median
    // ratio < 1.2 — i.e., not a uniform host drift), is a plan-level
    // regression the bench JSON alone can now prove or acquit.
    val cur = new java.io.File("BENCH_DETAIL.json")
    val base = new java.io.File("BENCH_SF01_BASE.json")
    assume(cur.exists && base.exists,
      "bench artifacts absent - drift attribution skipped")
    def read(f: java.io.File): String = {
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.mkString finally s.close()
    }
    val (ct, bt) = (read(cur), read(base))
    def sf(t: String): String =
      raw""""sf":"([^"]+)"""".r.findFirstMatchIn(t).map(_.group(1)).getOrElse("?")
    assume(sf(ct) == sf(bt),
      s"bench SFs differ (${sf(ct)} vs ${sf(bt)}) - not comparable")
    val (cq, bq) = (jsonSection(ct, "queries"), jsonSection(bt, "queries"))
    val (cf, bf) = (jsonSection(ct, "plan_fp"), jsonSection(bt, "plan_fp"))
    val shared = (cq.keySet & bq.keySet).toSeq.sorted
      .map(n => (n, cq(n).toDouble, bq(n).toDouble))
      .filter { case (_, c, b) => c > 0 && b > 0 }
    assume(shared.nonEmpty, "no shared queries - drift check skipped")
    val ratios = shared.map { case (_, c, b) => c / b }.sorted
    val censusRatio = ratios(ratios.size / 2)
    if (censusRatio < 1.2) { // not a uniform host shift
      // a plan that could not be fingerprinted cannot acquit its move
      val suspects = shared.filter { case (n, c, b) =>
        c > 1.5 * b && c - b > 1.0 &&
          cf.get(n).exists(fp => bf.get(n).contains(fp) || fp.startsWith("\"err"))
      }
      assert(suspects.isEmpty,
        "median moved >1.5x with an UNCHANGED (or err) plan fingerprint while " +
          s"the census held (median ratio $censusRatio): " +
          suspects.map { case (n, c, b) => s"$n $b->$c" }.mkString(", "))
    }
  }

  test("baseline ratchet: cumulative unpriced drift since epoch is bounded") {
    // VERDICT r14 item 4: each "host drift" re-baseline looked honest
    // in isolation (documented, per-query-attributed), but nothing
    // bounded the CUMULATIVE ratchet — N successive +10% drifts
    // compound into a baseline no regression can ever trip. The
    // ledger in BASELINE.md records every re-commit since the
    // round-12 epoch as (old, new, priced Δ, attributed drift); this
    // law makes it load-bearing: the rows must chain and add up, the
    // last row must match the committed artifact, and the committed
    // total must stay under 1.5× the priced-adjusted epoch
    // (epoch + Σ priced) — past that, re-baselining requires either
    // pricing the change or fixing the regression, not a ledger row.
    val baseF = new java.io.File("BENCH_SF01_BASE.json")
    val ledF = new java.io.File("BASELINE.md")
    assume(baseF.exists && ledF.exists, "baseline artifacts absent")
    def read(f: java.io.File): String = {
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.mkString finally s.close()
    }
    val md = read(ledF)
    val secs = md.split("## Baseline ratchet ledger")
    assert(secs.length == 2, "BASELINE.md lost its ratchet ledger section")
    val sec = secs(1).split("\n## ")(0)
    val rowRe = raw"\|\s*(\d+)\s*\|\s*([-+]?[0-9.]+)\s*\|\s*([-+]?[0-9.]+)" +
      raw"\s*\|\s*([-+]?[0-9.]+)\s*\|\s*([-+]?[0-9.]+)\s*\|"
    val rows = rowRe.r.findAllMatchIn(sec).map(m =>
      (m.group(1).toInt, m.group(2).toDouble, m.group(3).toDouble,
        m.group(4).toDouble, m.group(5).toDouble)).toSeq
    assert(rows.nonEmpty, "ratchet ledger table has no rows")
    // rows chain: each re-baseline starts from the previous commit
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(b._2 == a._3,
        s"ledger rounds ${a._1}->${b._1} do not chain: ${a._3} vs ${b._2}")
      case _ =>
    }
    // per-row arithmetic: new − old = priced + drift (table rounding)
    rows.foreach { r =>
      assert(math.abs((r._3 - r._2) - (r._4 + r._5)) < 0.15,
        s"ledger round ${r._1} does not add up: ${r._2}->${r._3} " +
          s"!= priced ${r._4} + drift ${r._5}")
    }
    val committed = raw""""value":\s*([0-9.]+)""".r
      .findFirstMatchIn(read(baseF)).map(_.group(1).toDouble)
    assert(committed.isDefined, "BENCH_SF01_BASE.json has no total value")
    assert(math.abs(rows.last._3 - committed.get) < 0.1,
      s"ledger is stale: last row ${rows.last._3} vs committed " +
        s"${committed.get} — a re-baseline must append its ledger row")
    val epoch = rows.head._2
    val pricedAdjusted = epoch + rows.map(_._4).sum
    assert(committed.get <= 1.5 * pricedAdjusted,
      f"cumulative unpriced drift breached the ratchet bound: committed " +
        f"${committed.get}%.1f s > 1.5 x priced-adjusted epoch " +
        f"$pricedAdjusted%.1f s — price the changes or fix the regression")
  }

  test("README census count matches the registered contract") {
    // the README is the driver-facing contract doc; its census went
    // stale twice (146 at a 148 contract) — pin it to the registry so
    // a new query forces the doc refresh in the same commit
    val n = SparkEntry.queries.size
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    // whitespace-normalize BEFORE matching: the round-8 README carried
    // "…163\nqueries" across a hard wrap and the raw-text regex sailed
    // past it — the guard must see prose the way a reader does, one
    // space between words regardless of line breaks
    val text = (try readme.mkString finally readme.close())
      .replaceAll("\\s+", " ")
    val stale = "\\b[1-9][0-9]{2,3} quer".r.findAllIn(text).toSeq
      .filterNot(_.startsWith(s"$n quer"))
    assert(text.contains(s"$n queries"),
      s"README never states the current census of $n queries")
    assert(stale.isEmpty,
      s"README carries stale census counts: $stale (contract is $n)")
  }

  test("committed bench baselines are repeat-carrying medians, " +
      "never a selected single run") {
    // VERDICT r11 finding 2: committing the faster of two repeats
    // biases every round-over-round comparison downward. The
    // committed baselines must be tools/bench_merge.py artifacts:
    // headline per-query medians FIRST (so the drift check above and
    // any flat reader see the median), with EVERY repeat embedded —
    // selection is then structurally impossible. A freshly-committed
    // single run fails here until merged.
    for (name <- Seq("BENCH_SF01_BASE.json", "BENCH_SF1.json")) {
      val f = new java.io.File(name)
      if (f.exists) {
        val s = scala.io.Source.fromFile(f, "UTF-8")
        val t = try s.mkString finally s.close()
        assert(t.contains("\"stat\": \"median_of_repeats\"") ||
          t.contains("\"stat\":\"median_of_repeats\""),
          s"$name is not a median-of-repeats artifact")
        val n = raw""""n_repeats":\s*(\d+)""".r
          .findFirstMatchIn(t).map(_.group(1).toInt).getOrElse(0)
        assert(n >= 2, s"$name carries $n repeats — need every repeat")
        val qIdx = t.indexOf("\"queries\"")
        val rIdx = t.indexOf("\"repeats\"")
        assert(qIdx >= 0 && rIdx > qIdx,
          s"$name must put the median 'queries' block before 'repeats' " +
            "so flat readers see the median")
      }
    }
  }

  /** Every `src/main` Scala source with its lines. */
  private lazy val mainSources: Seq[(Path, IndexedSeq[String])] = {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    assert(files.nonEmpty, "no sources under src/main")
    files.map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)
  }

  test("every src/main doc comment sits on the definition it documents") {
    // a doc comment followed directly by another one is dropped by
    // scaladoc: the second attaches to the definition, the first to
    // nothing — the shape a factored-out helper's doc leaves behind
    // when it is pasted between a definition and that definition's doc
    val orphans = for {
      (p, lines) <- mainSources
      i <- 1 until lines.size
      if lines(i - 1).matches(""".*\*/\s*""") && lines(i).matches("""\s*/\*\*.*""")
    } yield s"$p:${i + 1}"
    assert(orphans.isEmpty, "doc comments followed by another doc comment")
  }

  test("no src/main object declares a non-private var") {
    // an object is one instance per JVM, shared by every session in it:
    // a var there is global mutable state that any caller can write
    val header = """(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+|case\s+)*object\s+(\w+).*\{\s*""".r
    val member = """\s*((?:@\w+\s+|(?:private|protected|override|final|lazy|implicit)(?:\[\w+\])?\s+)*)var\s+(\w+).*""".r
    val privately = """(?:^|\s)private(?:\[this\])?\s""".r
    val public = for {
      (p, lines) <- mainSources
      (header(indent, obj), at) <- lines.zipWithIndex
      body = lines.drop(at + 1).takeWhile(l => !l.startsWith(s"$indent}"))
      (member(mods, name), i) <- body.zipWithIndex
      if body(i).takeWhile(_ == ' ').length == indent.length + 2
      if privately.findFirstIn(s" $mods").isEmpty
    } yield s"$obj.$name ($p:${at + i + 2})"
    assert(public.isEmpty, "objects with non-private vars")
  }

  test("no Scala source carries a control character other than newline") {
    // a raw control byte makes grep and rg treat the whole file as
    // binary, so every repo-wide search silently skips it; a literal
    // that needs one spells it as a Unicode escape instead
    val hits = for {
      p <- Files.walk(Paths.get("src")).iterator.asScala.toSeq.sorted
      if p.toString.endsWith(".scala")
      (b, i) <- Files.readAllBytes(p).zipWithIndex
      if (b >= 0 && b < 0x20 && b != '\n') || b == 0x7f
    } yield f"$p: byte $i = 0x$b%02x"
    assert(hits.isEmpty, "control characters in sources")
  }

  /** `def.param` for each default-valued parameter of a non-private,
    * non-protected def in `src` (implicit lists excluded). A light
    * scan, not a parser: parameter lists are the balanced `(...)`
    * groups after the name, split at top-level commas. */
  private def defaultParams(src: String): Seq[String] = {
    val defRe = """(?m)^[ \t]*((?:[\w\[\]@]+\s+)*)def\s+(\w+)\s*(?:\[[^\]]*\])?\s*\(""".r
    val bare = """(?<![=<>!:])=(?![=>:])""".r
    def close(i: Int): Int = { // index just past the group opening at i
      var depth = 0; var j = i
      while ({
        src(j) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ =>
        }
        j += 1
        depth > 0
      }) ()
      j
    }
    def topLevel(l: String): Seq[String] = {
      var depth = 0
      val cuts = l.indices.filter { i =>
        l(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ =>
        }
        l(i) == ',' && depth == 0
      }
      (-1 +: cuts :+ l.length).sliding(2).map { case Seq(a, b) =>
        l.substring(a + 1, b) }.toSeq
    }
    for {
      m <- defRe.findAllMatchIn(src).toSeq
      if !m.group(1).contains("private") && !m.group(1).contains("protected")
      lists = Iterator.iterate(m.end - 1) { i =>
          var j = close(i)
          while (j < src.length && src(j).isWhitespace) j += 1
          j
        }.takeWhile(i => i < src.length && src(i) == '(')
        .map(i => src.substring(i + 1, close(i) - 1)).toSeq
      l <- lists if !l.trim.startsWith("implicit")
      p <- topLevel(l) if bare.findFirstIn(p).nonEmpty
    } yield m.group(2) + "." + p.trim.takeWhile(c => c != ':' && !c.isWhitespace)
  }

  test("operators and streaming twins add no default-valued parameter") {
    // a default no caller varies is a knob whose oracle hard-codes its
    // value, so any other value gives output the gate cannot check: it
    // is a named constant in its operator object instead. A parameter
    // stays only while a caller really passes a second value.
    val kept = Set(
      "Similarity.annTopK.k", // s01 uses 10, the recall family RecallK
      // refusal guards that specs lower to make them fire
      "Similarity.embeddingNearDups.maxVectors",
      "Dedup.cosinePairs.maxDocs",
      "Dedup.cosinePairsSampled.bound",
      // the uncapped result is the specs' reference for the capped one
      "Dedup.jaccardPairs.maxShingleDf",
      "Dedup.containmentPairs.maxShingleDf",
      // specs decode real images with ImageCodec
      "Multimodal.extractFeatures.codec")
    val found = for {
      pkg <- Seq("operators", "streaming")
      p <- Files.walk(Paths.get(s"src/main/scala/graft/$pkg")).iterator.asScala
        .toSeq.sorted
      if p.toString.endsWith(".scala")
      d <- defaultParams(new String(Files.readAllBytes(p), "UTF-8"))
    } yield p.getFileName.toString.stripSuffix(".scala") + "." + d
    assert(found.toSet == kept && found.size == kept.size,
      s"default-valued parameters: added ${found.toSet -- kept}, " +
        s"removed ${kept -- found.toSet}")
  }
}
