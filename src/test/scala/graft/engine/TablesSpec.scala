package graft.engine

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkJobs, SparkEntry}

/** `Tables` infers each file's schema once per JVM: the first session
  * over a file infers it (one Spark job per table), every later session
  * registers the same views with no job, and a file rewritten in place
  * is inferred again. Runs on a private copy of sf0.001, so the first
  * session below infers even when other suites in this JVM have already
  * registered sf0.001 itself. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val src = "/root/testdata/sf0.001"

  private def copyData(): Path = {
    val d = Files.createTempDirectory("graft_tables")
    Tables.names.foreach { n =>
      Files.copy(Path.of(s"$src/$n.parquet"), d.resolve(s"$n.parquet"))
    }
    d
  }

  private lazy val dir = copyData().toString

  /** The inferring session and the cached one, with the jobs each
    * session's `ensure` ran. */
  private lazy val (first, firstJobs, second, secondJobs) = {
    val a = spark.newSession()
    val ja = SparkJobs.during(a)(Tables.ensure(a, dir))
    val b = spark.newSession()
    val jb = SparkJobs.during(b)(Tables.ensure(b, dir))
    (a, ja, b, jb)
  }

  test("the first session over a file infers; a later session runs no Spark job") {
    assert(firstJobs == Tables.names.size, s"first session ran $firstJobs jobs")
    assert(secondJobs == 0, s"second session ran $secondJobs jobs")
  }

  test("every view of the cached session has the schema a fresh read infers") {
    Tables.names.foreach { n =>
      val relation = second.table(n).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation.schema
      }
      assert(relation.contains(second.read.parquet(s"$dir/$n.parquet").schema), n)
      assert(second.table(n).schema == first.table(n).schema, n)
    }
  }

  test("the relational bench queries plan the same in both sessions") {
    Seq("q01_pricing_summary", "q03_join_inner", "q09_join_broadcast",
      "q14_distinct_agg", "q23_window", "q26_star_join").foreach { q =>
      def text(s: SparkSession) =
        Bench.planText(SparkEntry.queries(q)(s, dir).queryExecution.executedPlan)
      assert(text(second) == text(first), q)
    }
  }

  test("a file rewritten in place with another schema is inferred again") {
    val d = copyData()
    val before = spark.newSession()
    Tables.ensure(before, d.toString)
    assert(!before.table("region").columns.contains("r_extra"))
    val out = Files.createTempDirectory("graft_region").resolve("out").toString
    before.table("region").withColumn("r_extra", lit(7L))
      .coalesce(1).write.parquet(out)
    val part = Files.list(Path.of(out)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, d.resolve("region.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val after = spark.newSession()
    Tables.ensure(after, d.toString)
    assert(after.table("region").columns.contains("r_extra"))
    assert(after.table("region").select("r_extra").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
  }
}
