package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive._
import org.apache.spark.sql.functions.{broadcast, col, max, min}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** The plan fingerprint's walk ([[Bench.planText]]) on real plans: what a
  * JVM decides per run leaves it unchanged, and each kind of plan change
  * a bench must see changes it. */
class PlanFpSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
  private def text(df: DataFrame): String = Bench.planText(df.queryExecution.executedPlan)
  private def current(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan

  test("renumbered query-stage and codegen ids keep the fingerprint") {
    val df = q("q03_join_inner")
    df.collect()
    // query stages are leaves: renumber inside each stage's plan too
    def renumber(p: SparkPlan): SparkPlan = p.transformUp {
      case w: WholeStageCodegenExec => w.copy(w.child)(w.codegenStageId + 100)
      case s: ShuffleQueryStageExec => s.copy(id = s.id + 100, plan = renumber(s.plan))
      case b: BroadcastQueryStageExec => b.copy(id = b.id + 100, plan = renumber(b.plan))
      case r: ResultQueryStageExec => r.copy(id = r.id + 100, plan = renumber(r.plan))
    }
    val fin = current(df)
    assert(fin.isInstanceOf[QueryStageExec] && renumber(fin).treeString != fin.treeString)
    assert(Bench.planText(renumber(fin)) == Bench.planText(fin))
  }

  test("q14 with its distinct groups assigned other gids keeps the fingerprint") {
    val plan = current(q("q14_distinct_agg"))
    val expand = plan.collectFirst { case e: ExpandExec => e }.get
    val gi = expand.output.indexWhere(_.name == "gid")
    def gid(projection: Seq[Expression]): Int = projection(gi).eval().asInstanceOf[Int]
    val gids = expand.projections.map(gid)
    assert(gids.distinct.size == 3, gids)
    // the group that had the i-th gid now has the (n-1-i)-th
    val remap = gids.zip(gids.reverse).toMap
    val flipped = plan.transformUp {
      case e: ExpandExec => e.copy(projections = e.projections
        .map(p => p.updated(gi, Literal(remap(gid(p))))).sortBy(gid))
    }.transformAllExpressions {
      case EqualTo(a: Attribute, Literal(g: Int, IntegerType)) if a.name == "gid" =>
        EqualTo(a, Literal(remap(g)))
    }
    assert(flipped.treeString != plan.treeString)
    assert(Bench.planText(flipped) == Bench.planText(plan))
  }

  test("a query built twice keeps its fingerprint, and no walk names the data path") {
    Seq("q01_pricing_summary", "q14_distinct_agg", "q20_scalar_subquery",
      "i14_index_pruning", "m01_multimodal_features").foreach { n =>
      val (a, b) = (q(n), q(n))
      assert(a.queryExecution.executedPlan.treeString !=
        b.queryExecution.executedPlan.treeString, n)
      assert(text(a) == text(b) && !text(a).contains(dir), s"$n:\n${text(a)}")
    }
  }

  test("a query fingerprints the same after another query as it does alone") {
    // i05 persists the split(lower(text)) token frame that t06 reads
    // uncached; start from an empty cache manager, as a fresh JVM does
    spark.catalog.clearCache()
    val alone = Bench.planFp(spark, "t06_repetition", dir)
    Bench.planFp(spark, "i05_snippets", dir)
    assert(Bench.planFp(spark, "t06_repetition", dir) == alone,
      "t06's fingerprint borrowed a frame i05 cached")
  }

  test("repartition width, join strategy, literals, aggregates and caching separate") {
    val li = graft.engine.Tables.t(spark, dir, "lineitem")
    def differ(what: String, a: DataFrame, b: DataFrame): Unit =
      assert(text(a) != text(b), what)
    differ("repartition width", li.repartition(4), li.repartition(8))
    val big = li.filter(col("l_quantity") > 10)
    differ("filter literal", big, li.filter(col("l_quantity") > 20))
    val byFlag = li.groupBy(col("l_returnflag"))
    differ("max vs min", byFlag.agg(max("l_quantity")), byFlag.agg(min("l_quantity")))
    val (orders, on) = (graft.engine.Tables.t(spark, dir, "orders"),
      col("l_orderkey") === col("o_orderkey"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try differ("broadcast hint", li.join(broadcast(orders), on), li.join(orders, on))
    finally spark.conf.set(key, saved)
    val plain = text(big)
    li.persist()
    try {
      val cached = text(li.filter(col("l_quantity") > 10))
      assert(cached != plain && !cached.contains(dir), cached)
    } finally li.unpersist(blocking = true)
  }
}
