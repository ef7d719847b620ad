package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Round-15 census-wide guard sweep (VERDICT r14 item 3).
  *
  * The engine's scale discipline is "refuse loudly rather than serve
  * a plan whose single task is corpus-sized": a handful of named
  * guards enforce it. Before this spec each was pinned individually,
  * so a refactor could silently optimize one away (column pruning
  * eliminating the unused guard column, a memo boundary swallowing
  * it) without any test noticing. This spec closes that: ONE
  * inventory law enumerates every assert_true guard visible in the
  * 201 gated census plans after optimization, and one fire law per
  * guard MECHANISM proves the refusal actually trips, with its named
  * constant in the message, on a synthetic over-cap input.
  *
  * The full refusal inventory and where each lives:
  *  - d21 `SemDedupMaxChunk` — in-plan assert_true (×1).
  *  - i14 `PruneMaxRankedDf` — driver-side require() the moment the
  *    radix walk knows the tie counts (round 16: the walk's selection
  *    state moved to the driver, so the refusal fires at frame BUILD
  *    — before the tie window is even constructed — the d05/d15
  *    class; through round 15 it was an in-plan assert_true that
  *    could only fire after an action paid the whole walk).
  *  - t36/t37 label guard — assert_true INSIDE the clsWeightsMemo /
  *    labeledFeatures build, so gated census plans show only the
  *    checkpoint scan; it fires at memo-build time. Pinned here by
  *    firing the factored [[TextAnalysis.labelGuard]] directly.
  *  - d05 `MaxBruteForceVectors`, d15 `MaxExhaustiveCosineDocs` —
  *    driver-side require() on a parquet-metadata count at
  *    frame-BUILD time (cheaper than any plan: the quadratic join is
  *    never even constructed). Not assert_true by design; fired here
  *    on synthetic over-cap dirs.
  *  - q51 `spark.sql.cteRecursionRowLimit` — the engine's own row
  *    valve, scoped (not disarmed) by q51's builder; fired here by
  *    re-arming it below the corpus bound.
  */
class GuardSweepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  /** assert_true renders as raise_error once the optimizer replaces
    * the RuntimeReplaceable, so the post-optimization census is
    * counted on that token. */
  private def guardCount(df: DataFrame): Int = {
    val p = df.queryExecution.optimizedPlan.toString
    "raise_error".r.findAllIn(p).size + "assert_true".r.findAllIn(p).size
  }

  /** Collect every message reachable through the cause chain — the
    * in-plan raise surfaces wrapped in task/driver SparkExceptions
    * and the named constant can sit at any level. */
  private def fireMessage(body: => Unit): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
  }

  test("census inventory: every in-plan guard survives optimization") {
    val expected = Map(
      "d21_semantic_dedup" -> (1, Similarity.SemDedupMaxChunk.toString))
    val found = (for ((name, q) <- graft.SparkEntry.queries.toSeq) yield {
      val df = q(spark, dir)
      val n = guardCount(df)
      if (n > 0) {
        expected.get(name).foreach { case (_, const) =>
          assert(df.queryExecution.optimizedPlan.toString.contains(const),
            s"$name guard no longer names its constant $const")
        }
        Some(name -> n)
      } else None
    }).flatten.toMap
    assert(found == expected.view.mapValues(_._1).toMap,
      s"in-plan guard inventory drifted — found $found, expected " +
        s"${expected.view.mapValues(_._1).toMap}. A NEW guard must be " +
        "enrolled here with its constant and a fire law; a LOST guard " +
        "means the optimizer or a memo boundary swallowed a refusal.")
  }

  test("i14 tie guard fires past PruneMaxRankedDf with its constant") {
    // one term, every posting at ONE contribution value, one past the
    // cap: the radix walk reaches the value exactly and the threshold
    // tie set is the whole list — the guard must refuse at frame
    // build (the driver-side require), before any tie window serves.
    val n = TextAnalysis.PruneMaxRankedDf + 1
    val postings = spark.range(n).selectExpr("'t' as term", "id as doc_id",
      s"${n}L as df", "42L as contrib_e6")
    val msg = fireMessage(
      TextAnalysis.prunedPostings(postings).count())
    assert(msg.contains(TextAnalysis.PruneMaxRankedDf.toString) &&
      msg.contains("tie"), s"wrong refusal: $msg")
  }

  test("d21 chunk guard fires past SemDedupMaxChunk with its constant") {
    val n = Similarity.SemDedupMaxChunk + 1
    val ec = spark.range(n).selectExpr("0L as bucket", "0L as chunk")
    val msg = fireMessage(Similarity.chunkCapGuard(ec).collect())
    assert(msg.contains(Similarity.SemDedupMaxChunk.toString),
      s"wrong refusal: $msg")
  }

  test("t36 label guard fires on a single-class corpus") {
    val lab = spark.range(5).selectExpr("id as doc_id", "1L as y")
    val msg = fireMessage(TextAnalysis.labelGuard(lab).collect())
    assert(msg.contains("degenerate"), s"wrong refusal: $msg")
    // ...and an EMPTY label frame must also refuse (training on
    // nothing is an error, unlike d21's report-0-rows contract)
    val none = spark.range(0).selectExpr("id as doc_id", "1L as y")
    assert(fireMessage(TextAnalysis.labelGuard(none).collect())
      .contains("degenerate"))
  }

  /** A synthetic table dir: every sf0.001 parquet symlinked except
    * the oversized target table, which is written fresh. */
  private def overCapDir(tag: String, table: String,
      write: String => Unit): String = {
    val root = s"/tmp/graft_guard_sweep/$tag"
    val p = Paths.get(root)
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    Files.createDirectories(p)
    for (n <- graft.engine.Tables.names if n != table)
      Files.createSymbolicLink(p.resolve(s"$n.parquet"),
        Paths.get(s"$dir/$n.parquet"))
    write(s"$root/$table.parquet")
    root
  }

  test("d05 brute-force cap refuses at frame build, before any join") {
    val n = Similarity.MaxBruteForceVectors + 1
    val d = overCapDir("d05", "embeddings", out =>
      spark.range(n).selectExpr("id as vec_id",
        "array(cast(0.5 as float), cast(0.5 as float)) as embedding",
        "'x' as label").write.mode("overwrite").parquet(out))
    val msg = fireMessage(Similarity.embeddingNearDups(spark, d))
    assert(msg.contains(Similarity.MaxBruteForceVectors.toString) &&
      msg.contains(n.toString), s"wrong refusal: $msg")
  }

  test("d15 exhaustive-cosine cap refuses at frame build") {
    val n = Dedup.MaxExhaustiveCosineDocs + 1
    val d = overCapDir("d15", "documents", out =>
      spark.range(n).selectExpr("id as doc_id", "'tiny doc' as text",
        "'en' as lang", "'web' as source", "8L as n_chars")
        .write.mode("overwrite").parquet(out))
    val msg = fireMessage(Dedup.cosinePairs(spark, d))
    assert(msg.contains(Dedup.MaxExhaustiveCosineDocs.toString) &&
      msg.contains(n.toString), s"wrong refusal: $msg")
  }

  test("q51 row valve still trips when re-armed under the bound") {
    // the builder SCOPES the valve (raises it to the computed
    // 11·|orders| bound) rather than disarming it; prove the engine
    // backstop is still live by re-arming below the corpus bound
    val df = Relational.q51_recursive(spark, dir)
    val scoped = spark.conf.get("spark.sql.cteRecursionRowLimit")
    try {
      spark.conf.set("spark.sql.cteRecursionRowLimit", "100")
      val msg = fireMessage(df.count())
      assert(msg.toLowerCase.contains("recursion"), s"wrong refusal: $msg")
    } finally spark.conf.set("spark.sql.cteRecursionRowLimit", scoped)
    // the valve untripped: the same frame serves under the scoped bound
    assert(df.count() > 0)
  }
}
