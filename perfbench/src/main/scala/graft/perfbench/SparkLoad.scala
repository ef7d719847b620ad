package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Tables
import graft.operators.Memos

/** The three Spark workloads: a closed loop of one client that runs
  * each query of the workload once per pass, in a seeded order, and
  * starts a query only after the previous one returned. */
object SparkLoad {

  /** Relational queries: scan and aggregate, an inner, a broadcast
    * and a star join, a distinct aggregate and a window. */
  val relational: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_inner", "q09_join_broadcast",
    "q14_distinct_agg", "q23_window", "q26_star_join")

  /** Operator queries whose frames take driver-side work to build: a
    * connected-components fixpoint (m07) and the memo frames of d02
    * and d19. */
  val operators: Seq[String] = Seq(
    "d02_dedup_jaccard", "d19_substring_spans", "m07_ahash_clusters")

  val WarmupPasses = 4

  def queriesOf(workload: String): Seq[String] = workload match {
    case "relational" => relational
    case "ops_warm" | "ops_cold" => operators
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.broadcastTimeout", "3600")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  @annotation.nowarn("cat=deprecation")
  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  private def memoSeconds(dir: String): Double = Memos.buildSecFor(dir).values.sum

  def run(cfg: Config): RunRecord = {
    val names = queriesOf(cfg.workload)
    val dir = cfg.dataDir
    val cold = cfg.workload == "ops_cold"
    def materialize(spark: SparkSession, name: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // Set-up, made `setups` times; setup_s is their median. The first
    // runs from JVM start: SparkContext and session start, native
    // function install, table views, and one untimed pass over the
    // workload's queries on the measured data. That pass warms the JVM,
    // writes each result for the output check, and fills the memos that
    // the ops_warm passes then hit. Each later set-up starts another
    // session on the same context and installs the native functions and
    // table views in it. The timed passes run in the first session.
    val setupSamples = mutable.ArrayBuffer.empty[Double]
    val checkErrors = mutable.Map.empty[String, String]
    val firstRunMs = mutable.LinkedHashMap.empty[String, Double]
    val spark = session(cfg.cores, cfg.workDir)
    Tables.ensure(spark, dir)
    names.foreach { n =>
      val q0 = System.nanoTime()
      try SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${cfg.workDir}/results/$n")
      catch { case e: Throwable => checkErrors(n) = String.valueOf(e.getMessage) }
      spark.catalog.clearCache()
      firstRunMs(n) = (System.nanoTime() - q0) / 1e6
    }
    setupSamples += (System.currentTimeMillis() - cfg.jvmStartMs) / 1e3
    for (_ <- 1 until cfg.setups) {
      val t0 = System.nanoTime()
      Tables.ensure(spark.newSession(), dir)
      setupSamples += (System.nanoTime() - t0) / 1e9
    }
    // Untimed passes until the JIT has compiled the hot paths: pass
    // times fall for about this many passes and then hold. A count, not
    // a time, so that a run on a slow host is as warm as one on a fast.
    val w0 = System.nanoTime()
    for (_ <- 1 to WarmupPasses) {
      names.foreach { n =>
        if (cold) Memos.invalidate()
        try materialize(spark, n) catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    }
    val warmupSeconds = (System.nanoTime() - w0) / 1e9

    val trace = new Trace(Some(spark))
    val run = trace.open("run", 0)
    val wl = trace.open(cfg.workload, run.id)
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Pass]
    var residentB = 0L
    var persistB = 0L
    var memoB = 0L
    // per frame, and per query of the traced passes
    val memoBuilt = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val queryExtra = mutable.Map.empty[String, Map[String, Double]]
      .withDefaultValue(Map.empty)
    var gcTracedMs = 0L
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var p = 0
    // A pass that starts inside the window runs to its end. A traced
    // run traces every second pass, starting with the second: the first
    // is the slowest while the JIT still compiles, so the overhead
    // compares traced passes with the untraced ones after it.
    while (elapsed < cfg.seconds || passes.size < (if (cfg.trace) 3 else 1)) {
      val traced = cfg.trace && p % 2 == 1
      val order = new Random(cfg.seed * 1000003L + p).shuffle(names)
      val framesBefore = Memos.buildSecFor(dir)
      if (traced) trace.attach()
      val gc0 = Trace.gcMillis()
      val passSpan = if (traced) trace.open(s"pass$p", wl.id) else null
      var passMs = 0.0
      order.foreach { name =>
        // ops_cold: every query pays each memo build it needs, whatever
        // ran before it in the pass
        if (cold) Memos.invalidate()
        val memo0 = memoSeconds(dir)
        val q0 = System.nanoTime()
        val ok =
          try {
            if (traced) {
              val qs = trace.openQuery(name, passSpan.id)
              try {
                val df = trace.within("build", qs.id, qs.id) {
                  val df = SparkEntry.queries(name)(spark, dir)
                  trace.recordPhases(df.queryExecution)
                  df
                }
                trace.within("write", qs.id, qs.id)(
                  df.write.format("noop").mode("overwrite").save())
              } finally trace.close(qs)
            } else materialize(spark, name)
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            false
          }
        val ms = (System.nanoTime() - q0) / 1e6
        ops += Op(name, p, ms, ok, 1)
        passMs += ms
        // storage still held when the action returned, before cleanup
        val held = storageBytes(spark)
        spark.catalog.clearCache()
        val kept = storageBytes(spark)
        residentB = math.max(residentB, held)
        persistB = math.max(persistB, held - kept)
        memoB = math.max(memoB, kept)
        if (traced) {
          val q = queryExtra(name)
          queryExtra(name) = Map(
            "memo.build_s" -> (q.getOrElse("memo.build_s", 0.0) + memoSeconds(dir) - memo0),
            "cache.persist_mb" -> math.max(q.getOrElse("cache.persist_mb", 0.0), (held - kept) / 1048576.0),
            "cache.memo_mb" -> math.max(q.getOrElse("cache.memo_mb", 0.0), kept / 1048576.0))
        }
      }
      if (traced) {
        trace.close(passSpan)
        gcTracedMs += Trace.gcMillis() - gc0
        trace.detach()
        Memos.buildSecFor(dir).foreach { case (k, v) =>
          memoBuilt(k) += v - framesBefore.getOrElse(k, 0.0)
        }
      }
      passes += Pass(p, passMs / 1e3, traced)
      p += 1
    }
    val measured = elapsed
    trace.close(wl); trace.close(run)

    val layers =
      if (!cfg.trace) Map.empty[String, Double]
      else SparkLayers(trace, passes.count(_.traced), cfg.cores, memoBuilt.toMap,
        gcTracedMs, persistB, memoB, residentB, passes.toSeq)

    val oracle = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    val detail =
      if (cfg.trace) Some(SparkLayers.perQuery(trace, passes.count(_.traced), cfg.cores,
        queryExtra.toMap))
      else None
    spark.stop()

    RunRecord(cfg.workload, setupSamples.toSeq, warmupSeconds, firstRunMs.toMap,
      ops.toSeq, passes.toSeq, measured, residentB / 1048576.0, layers,
      checks = Json.obj("oracle" -> oracle, "errors" -> checkErrors.toMap),
      spans = if (cfg.trace) Some(trace.toJson) else None,
      detail = detail)
  }
}

/** Per-layer metrics of a traced Spark run, per traced pass. */
object SparkLayers {
  val Phases = Seq("build", "write")

  private def phaseMetrics(trace: Trace, spans: Seq[Span], div: Double,
      cores: Int): Seq[(String, Double)] = {
    val cs = spans.flatMap(s => trace.counters.get(s.id))
    val wall = spans.map(_.seconds).sum
    val run = cs.map(_.taskRunMs).sum / 1e3
    def mb(f: Counters => Long) = cs.map(f).sum / 1048576.0 / div
    Seq(
      "s" -> wall / div,
      "jobs" -> cs.map(_.jobs).sum / div,
      "stages" -> cs.map(_.stages).sum / div,
      "tasks" -> cs.map(_.tasks).sum / div,
      "task_run_s" -> run / div,
      "task_cpu_s" -> cs.map(_.taskCpuNs).sum / 1e9 / div,
      "shuffle_write_mb" -> mb(_.shuffleWriteB),
      "shuffle_read_mb" -> mb(_.shuffleReadB),
      "spill_mb" -> mb(_.spillB),
      "input_mb" -> mb(_.inputB),
      "occupancy" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "driver_gap_s" -> spans.map(trace.driverGapSeconds).sum / div)
  }

  private def planning(trace: Trace, spans: Seq[Span], div: Double): Seq[(String, Double)] = {
    val ids = spans.map(_.id).toSet
    val inside = trace.phases.filter { case (_, t0, _) =>
      trace.spanAt(t0.toDouble, Phases.toSet).exists(s => ids(s.id))
    }
    Seq("analysis", "optimization", "planning").map { ph =>
      s"catalyst.${ph}_s" -> inside.collect { case (`ph`, a, b) => (b - a) / 1e3 }.sum / div
    }
  }

  def apply(trace: Trace, tracedPasses: Int, cores: Int,
      memo: Map[String, Double], gcMs: Long, persistB: Long, memoB: Long,
      residentB: Long, passes: Seq[Pass]): Map[String, Double] = {
    val div = math.max(1, tracedPasses).toDouble
    val byPhase = Phases.flatMap { ph =>
      phaseMetrics(trace, trace.spans.filter(_.name == ph).toSeq, div, cores)
        .map { case (k, v) => s"$ph.$k" -> v }
    }
    val all = trace.spans.filter(s => Phases.contains(s.name)).toSeq
    val frames = memo.map { case (f, v) => s"memo.$f.build_s" -> v / div }
    def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)
    val tracedWall = median(passes.filter(_.traced).map(_.seconds))
    val plainWall = median(passes.filter(p => !p.traced && p.index > 0).map(_.seconds))
    (byPhase ++ planning(trace, all, div) ++ frames ++ Seq(
      "memo.build_s" -> memo.values.sum / div,
      "cache.persist_mb" -> persistB / 1048576.0,
      "cache.memo_mb" -> memoB / 1048576.0,
      "resident_mb" -> residentB / 1048576.0,
      "jvm.gc_s" -> gcMs / 1e3 / div,
      "trace.overhead" -> tracedWall / plainWall)).toMap
  }

  /** Per-query record: every Spark per-layer metric for each query, per
    * traced pass; `extra` holds the memo seconds summed over the traced
    * passes and the cache peaks. */
  def perQuery(trace: Trace, tracedPasses: Int, cores: Int,
      extra: Map[String, Map[String, Double]]): Map[String, Map[String, Double]] = {
    val div = math.max(1, tracedPasses).toDouble
    val queries = trace.spans.filter(s => s.query == s.id && s.id > 0).toSeq
    queries.groupBy(_.name).map { case (name, qs) =>
      val ids = qs.map(_.id).toSet
      val children = trace.spans.filter(s => ids(s.query) && Phases.contains(s.name)).toSeq
      val layers = Phases.flatMap { ph =>
        phaseMetrics(trace, children.filter(_.name == ph), div, cores)
          .map { case (k, v) => s"$ph.$k" -> v }
      } ++ planning(trace, children, div) :+ ("s" -> qs.map(_.seconds).sum / div)
      name -> (layers.toMap ++ extra(name).map { case (k, v) =>
        k -> (if (k == "memo.build_s") v / div else v)
      })
    }
  }
}
