package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.{DataType, StructField}

import graft.engine.Caches

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology:
  *  - Results are materialized through the `noop` sink, not `count()`
  *    — count() lets Catalyst prune the projected expressions away,
  *    which would "benchmark" a plan that computes nothing.
  *  - An untimed warm-up pass over every query at the smallest scale
  *    factor absorbs JVM/codegen/classloading costs that a long-lived
  *    cluster would not pay per query.
  *  - Each query is timed over `SPARK_GRAFT_BENCH_RUNS` runs (default
  *    3) and the MEDIAN is reported: this host exhibits rare
  *    multi-minute scheduler stalls (same plan, 100× wall time) that
  *    a median absorbs while still reporting honest steady-state
  *    cost. Runs are INTERLEAVED — pass 1 over all queries, then pass
  *    2, … — so one query's samples are minutes apart and a sustained
  *    stall window lands on different queries in each pass instead of
  *    swallowing all of one query's back-to-back runs. The JSON
  *    records runs + stat used.
  *  - A run that throws contributes no time (the median is over
  *    surviving runs); per-query failed-run counts appear under
  *    "failed_runs", and a query with zero surviving runs reports -1.
  *  - Queries whose median still exceeds 2× their own best sample get
  *    extra samples (bounded by one pass worth) — see the outlier
  *    re-sampling comment in main() for the rationale.
  */
object Bench {

  /** Hard budget for the printed stdout line: the driver keeps only
    * the last ~2000 chars of stdout, and sbt's trailing [success]
    * line eats ~75 (BENCH_r{1,2,4}.json all recorded "parsed": null
    * when the full-name line outgrew the window). 1850 leaves ~75 of
    * slack under the real ~1925 budget. */
  val MaxLineChars = 1850

  // Locale.ROOT: a comma-decimal default locale (de_DE, fr_FR…)
  // would render 8.496 as "8,496" and break the JSON parse the
  // compact line exists for. 10 ms resolution with trailing zeros
  // trimmed ("1.20"→"1.2", "3.00"→"3") — host noise is orders of
  // magnitude above 10 ms and BENCH_DETAIL.json keeps full precision.
  private def fmt(v: Double): String =
    if (v < 0) "-1"
    else {
      val t = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        .reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      if (t.isEmpty) "0" else t // "0.00" trims to "" otherwise
    }

  private def jsonObj[A](pairs: Seq[(String, A)])(render: A => String): String =
    pairs.map { case (k, v) => "\"" + k + "\":" + render(v) }
      .mkString("{", ",", "}")

  /** Builds the one printed JSON line, guaranteed ≤ `maxChars`: query
    * keys are unique short id prefixes ("q01_pricing_summary" →
    * "q01"), and if the full per-query map still overflows the
    * budget, the CHEAPEST queries fold into `"other_n":K,
    * "other_sec":S` until the line fits (measured on the real string,
    * not an estimate). The heavy queries — the ones a bench reader
    * compares round-over-round — are always the last to fold, and
    * BENCH_DETAIL.json always carries the full map. */
  def compactLine(results: Seq[(String, Double)], total: Double,
      runs: Int, failedRuns: Seq[(String, Int)], resampledTotal: Int,
      sfDir: String, maxChars: Int = MaxLineChars,
      noisy: Seq[(String, (Double, Double))] = Nil,
      memoBuild: Seq[(String, Double)] = Nil, fpErr: Int = 0): String = {
    def short(n: String): String = n.takeWhile(_ != '_')
    // queries whose plan could not be fingerprinted: a count, never
    // folded, so a plan failure shows in the line even when its run
    // times look normal
    val fpErrField = if (fpErr > 0) s""","fp_err":$fpErr""" else ""
    val ambiguous = results.map(_._1).groupBy(short).exists(_._2.size > 1)
    def key(n: String): String = if (ambiguous) n else short(n)
    // fold order: cheapest first (ties by name for determinism);
    // -1 failures never fold — a red must stay visible in the line
    val foldOrder = results.filter(_._2 >= 0).sortBy { case (n, v) => (v, n) }
    def build(nFold: Int): String = {
      val folded = foldOrder.take(nFold)
      val foldedSet = folded.map(_._1).toSet
      val kept = results.filterNot { case (n, _) => foldedSet(n) }
      val qs = jsonObj(kept.map { case (k, v) => key(k) -> v })(fmt)
      val extras = new StringBuilder
      if (nFold > 0)
        extras ++= s""","other_n":$nFold,"other_sec":${fmt(
            folded.map(_._2).sum)}"""
      if (failedRuns.nonEmpty)
        extras ++= ",\"failed_runs\":" + jsonObj(
          failedRuns.map { case (k, n) => key(k) -> n })(_.toString)
      if (resampledTotal > 0)
        extras ++= s""","resampled":$resampledTotal"""
      extras ++= fpErrField
      // per-query [min,max] spread for the queries whose samples
      // disagree most (capped upstream): the in-line evidence that a
      // median move is host noise (wide spread) vs a plan change
      if (noisy.nonEmpty)
        extras ++= ",\"spread\":" + jsonObj(noisy.map {
          case (k, mm) => key(k) -> mm
        }) { case (mn, mx) => s"[${fmt(mn)},${fmt(mx)}]" }
      // first-touch cost of each build-once memo frame under THIS
      // sfDir (round-14 verdict item 5): median-of-repeats correctly
      // excludes the cold build from steady-state numbers, but that
      // made cold-start cost visible only as a sample spread; here it
      // is an artifact. Memo frame names are already short.
      if (memoBuild.nonEmpty)
        extras ++= ",\"memo_build_sec\":" + jsonObj(memoBuild)(fmt)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":$qs,"runs":$runs,"stat":"median"$extras,""" +
        s""""sf":"$sfDir"}"""
    }
    // last resort, reached only under mass failure: -1 entries never
    // fold above, so a round with many reds can overflow even the
    // all-folded line. Collapse the reds and the failed_runs detail
    // into counts — the line must parse inside the driver tail window
    // (the parsed:null mode this builder exists to prevent) even when
    // everything is on fire; BENCH_DETAIL.json keeps the names.
    def buildCollapsed(): String = {
      val ok = results.filter(_._2 >= 0)
      val nRed = results.size - ok.size
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":{},"other_n":${ok.size},"other_sec":${fmt(
            ok.map(_._2).sum)},"failed_n":$nRed,""" +
        s""""failed_run_total":${failedRuns.map(_._2).sum}$fpErrField,""" +
        s""""runs":$runs,"stat":"median","sf":"$sfDir"}"""
    }
    (0 to foldOrder.size).iterator.map(build)
      .find(_.length <= maxChars)
      .getOrElse(buildCollapsed())
  }

  /** Plan fingerprint: md5 of [[planText]] over the query's executed
    * plan, built in the query's own cache scope as the timed runs are,
    * recorded per query so a bench can tell "same plan, slower host"
    * from "plan changed"; `err:<exception class>` when the plan cannot
    * be built. `SPARK_GRAFT_FP_DUMP=<dir>` writes each walk text
    * to `<dir>/<name>.txt`, so two fingerprints diff to the node. */
  def planFp(spark: SparkSession, name: String, sfDir: String): String =
    tryPlanFp(spark, name, sfDir).fold(errFp, identity)

  private[graft] def errFp(e: Throwable): String = "err:" + e.getClass.getSimpleName

  private[graft] def tryPlanFp(spark: SparkSession, name: String,
      sfDir: String): Either[Throwable, String] =
    try {
      val p = Caches.scoped(planText(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan)).getBytes("UTF-8")
      sys.env.get("SPARK_GRAFT_FP_DUMP").foreach { d =>
        new java.io.File(d).mkdirs()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$name.txt"), p)
      }
      Right(java.security.MessageDigest.getInstance("MD5").digest(p)
        .take(6).map("%02x".format(_)).mkString)
    } catch { case e: Throwable => Left(e) }

  /** The fingerprinted text: one indented line per physical node, depth
    * first over children, subquery plans and the cached plan under an
    * `InMemoryRelation`, holding the node's class name and constructor
    * arguments. Structure is node classes, expressions (text without
    * exprIds), partitionings, numbers, booleans, strings, data types and
    * case objects (join type, build side, shuffle origin). Any other value
    * (RDDs, relations, file indexes, functions) is only its class name, so
    * paths, RDD ids, call sites and lambda ids stay out, as does what AQE
    * and codegen decide per run: query-stage and codegen-stage ids, AQE
    * shuffle-read specs and `UnknownPartitioning`'s count. A node whose
    * expressions carry a distinct aggregate's `gid` column renders its
    * comma tokens as a sorted multiset with the gid literals blanked, as
    * which group gets which gid can follow allocation history. */
  private[graft] def planText(plan: SparkPlan): String = {
    val out = new StringBuilder
    def arg(a: Any): String = a match {
      case _: UnknownPartitioning => "UnknownPartitioning"
      case v @ (_: Expression | _: Partitioning | _: Number | _: Boolean |
          _: String | _: DataType | _: StructField) => v.toString
      case o: Option[_] => o.map(arg).toString
      case s: Iterable[_] => s.map(arg).mkString("[", ", ", "]")
      case p: Product if p.productArity == 0 => p.toString
      case null => "null"
      case o => o.getClass.getName.split("\\$\\$Lambda")(0)
    }
    def isPlan(a: Any): Boolean = a match { // walked, not rendered
      case _: SparkPlan => true
      case s: Iterable[_] => s.nonEmpty && s.forall(isPlan)
      case _ => false
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val args = p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: AQEShuffleReadExec => ""
        case _ => p.productIterator.filterNot(isPlan).map(arg).mkString(", ")
          .replaceAll("#\\d+L?", "#")
      }
      val gid = p.expressions.exists(_.exists {
        case a: Attribute => a.name == "gid"
        case _ => false
      })
      out ++= "  " * depth ++= p.getClass.getSimpleName ++= " " ++= (if (!gid) args
        else args.replaceAll("(?<=gid# = )\\d+", "_").split(", ").sorted.mkString(", ")) += '\n'
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec => m.relation.cachedPlan +: m.subqueries
        case _ => p.children ++ p.subqueries
      }).foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = graft.engine.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String, dir: String = sfDir): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // Warm-up at the smallest available sibling scale factor of the
    // configured data root (falls back to the root itself), so a
    // non-default SPARK_GRAFT_SF_DIR still gets a real warm-up.
    val warmDir = {
      val siblings = Option(new java.io.File(sfDir).getParentFile)
        .flatMap(p => Option(p.listFiles())).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("sf[0-9.]+"))
        .flatMap(f => f.getName.drop(2).toDoubleOption.map(_ -> f))
      if (siblings.nonEmpty) siblings.minBy(_._1)._2.toString else sfDir
    }
    // Optional comma-separated subset for local debugging runs; the
    // driver never sets it, so driver benches always cover everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    System.err.println(s"[bench] warm-up dir: $warmDir")
    names.foreach { name =>
      try Caches.scoped(materialize(name, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    }
    // Storage-memory accounting: several operators persist() shared
    // frames for the duration of the query (norms, band tables, kNN
    // graphs). This measures what that costs instead of assuming it:
    // cached bytes still resident when the query finishes, max over
    // runs, recorded per query in BENCH_DETAIL.json ("storage_mb") so
    // a frame that would not fit executor storage at the target scale
    // is a number, not a guess.
    @annotation.nowarn("cat=deprecation")
    def storageBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val storagePeak = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // One run in the query's own cache scope: its seconds, or None if
    // it threw. Elapsed time and storage are read before the scope
    // frees the query's caches, which is not part of the measured query.
    def timedRun(name: String, tag: String): Option[Double] = Caches.scoped {
      val t0 = System.nanoTime()
      val ok =
        try { materialize(name); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $tag$name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      storagePeak(name) = math.max(storagePeak(name), storageBytes())
      Option.when(ok)(dt)
    }
    for (_ <- 1 to runs; name <- names)
      timedRun(name, "").foreach(dt => samples(name) = dt :: samples(name))
    def median(ts: List[Double]): Double = ts.sorted.apply(ts.size / 2)

    // Outlier re-sampling: interleaving spreads one query's samples
    // minutes apart, but a host-stall window can still land on the
    // same query in 2 of 3 passes, leaving a median 10-50× its true
    // cost (observed: identical code measured 3.9s locally vs 59s in a
    // stalled driver run). When a query's median exceeds twice its own
    // best sample (+1s absolute floor so micro-queries don't thrash),
    // the fast sample proves the plan is cheap and the median is
    // stall-contaminated — collect extra samples until the median is
    // consistent or the extra budget (one full pass worth) runs out.
    // The median over ALL collected samples is reported; the printed
    // line carries only the total resample count (to stay inside the
    // driver's stdout tail window), per-query counts go to
    // BENCH_DETAIL.json.
    var extraBudget = names.size
    var resampled = Map.empty[String, Int].withDefaultValue(0)
    var rounds = 0
    var outliers = Seq.empty[String]
    def findOutliers(): Seq[String] = names.filter { n =>
      val ts = samples(n)
      ts.nonEmpty && median(ts) > math.max(2 * ts.min, ts.min + 1.0)
    }
    while ({ outliers = findOutliers(); outliers.nonEmpty && extraBudget > 0 && rounds < 4 }) {
      rounds += 1
      for (name <- outliers if extraBudget > 0) {
        extraBudget -= 1
        timedRun(name, "resample ").foreach { dt =>
          samples(name) = dt :: samples(name)
          resampled += name -> (resampled(name) + 1)
        }
      }
    }

    var failedRuns = Map.empty[String, Int]
    val results = names.map { name =>
      val times = samples(name)
      val nFailed = runs - math.min(runs, times.size - resampled(name))
      if (nFailed > 0) failedRuns += name -> nFailed
      if (times.isEmpty) name -> -1.0
      else name -> median(times)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // Per-query sample spread [min, max] — the executable attribution
    // for round-over-round drift: a median that moved with a wide
    // spread (and an unchanged plan fingerprint, below) is host
    // variance; a tight spread at a new level is a real change. Full
    // map goes to the detail file; the printed line carries only the
    // widest few (max/min > 1.5 with a 1s absolute floor, capped at 8
    // so the line always fits).
    val spread = names.flatMap { n =>
      val ts = samples(n)
      if (ts.isEmpty) None else Some(n -> (ts.min, ts.max))
    }
    val noisy = spread
      .filter { case (_, (mn, mx)) => mx > 1.5 * mn && mx - mn > 1.0 }
      .sortBy { case (_, (mn, mx)) => -(mx - mn) }
      .take(8)
    // The driver keeps only the last ~2000 chars of stdout and parses
    // the JSON line out of that window (BENCH_r{1,2,4}.json all show
    // "parsed": null because the full-name line outgrew it). So the
    // printed line uses the short id prefix of each query name
    // ("q01_pricing_summary" → "q01" — prefixes are unique by
    // construction) and 3-decimal seconds; the full-name, full-
    // precision record goes to BENCH_DETAIL.json next to the build.
    val memoBuild = graft.operators.Memos.buildSecFor(sfDir)
      .toSeq.sortBy(_._1)
    val fps = names.map(n => n -> planFp(spark, n, sfDir))
    val line = compactLine(results, total, runs,
      failedRuns.toSeq.sortBy(_._1), resampled.values.sum, sfDir,
      noisy = noisy, memoBuild = memoBuild,
      fpErr = fps.count(_._2.startsWith("err:")))
    try {
      val detail = jsonObj(results)(_.toString)
      val errDetail = jsonObj(failedRuns.toSeq.sortBy(_._1))(_.toString)
      val resDetail = jsonObj(resampled.toSeq.sortBy(_._1))(_.toString)
      // peak cached bytes per query, MB at 0.1 precision; zero-holding
      // queries are omitted to keep the record readable
      val stoDetail = jsonObj(storagePeak.toSeq.filter(_._2 > 0)
        .sortBy(_._1).map { case (n, b) =>
          n -> (math.round(b / 104857.6) / 10.0) })(_.toString)
      val spreadDetail = jsonObj(spread) { case (mn, mx) => s"[$mn,$mx]" }
      val fpDetail = jsonObj(fps)("\"" + _ + "\"")
      val memoDetail = jsonObj(memoBuild)(_.toString)
      val detailLine =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$detail,"runs":$runs,"stat":"median","failed_runs":$errDetail,"resampled":$resDetail,"storage_mb":$stoDetail,"spread":$spreadDetail,"memo_build_sec":$memoDetail,"plan_fp":$fpDetail,"sf":"$sfDir"}"""
      // Scale runs write to their OWN artifact (SPARK_GRAFT_BENCH_DETAIL
      // = e.g. BENCH_SF1.json) so the default sf0.1 driver run can't
      // overwrite the sf1 evidence a doc cites — the round-9 finding.
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
        "BENCH_DETAIL.json")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detailPath),
        (detailLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
