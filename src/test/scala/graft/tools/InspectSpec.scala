package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench

/** The `Inspect` dev main: argument checking before any session is
  * built, the plan printout, and the fingerprint dump, which must
  * agree with the bench's own fingerprints and must not pass when a
  * plan fails, naming the exception. */
class InspectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  /** Exit status, stdout and stderr of `body`. */
  private def captured(body: => Int): (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val code = Console.withOut(out)(Console.withErr(err)(body))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private def withTempFile(body: java.nio.file.Path => Unit): Unit = {
    val f = Files.createTempFile("inspect-fp", ".json")
    try body(f) finally Files.deleteIfExists(f)
  }

  test("a bad call prints usage and fails before a session is built") {
    // Sessions.local sets the shared session's shuffle width, so a
    // sentinel width that survives the call shows no session was built
    val key = "spark.sql.shuffle.partitions"
    spark.conf.set(key, "7")
    try {
      val bad = Seq(
        Seq(), Seq("audit", dir, "4", "q02_filter_project"),
        Seq("plan", dir, "4"), Seq("plan", dir, "four", "q02_filter_project"),
        Seq("plan", dir, "4", "no_such_query"), Seq("fp", dir),
        Seq("fp", dir, "out.json", "extra"), Seq("profile", dir),
        Seq("profile", dir, "0", "q02_filter_project"))
      bad.foreach { args =>
        val call = args.mkString(" ")
        val (code, _, err) = captured(Inspect.run(args.toArray))
        assert(code != 0, s"exit 0 for '$call'")
        assert(err.contains("usage: Inspect"), s"no usage for '$call'")
        assert(spark.conf.get(key) == "7", s"a session was built for '$call'")
      }
    } finally spark.conf.set(key, "4")
  }

  test("plan prints each query's physical plan") {
    val (code, out, _) = captured(Inspect.run(
      Array("plan", dir, "4", "q02_filter_project", "q09_join_broadcast")))
    assert(code == 0)
    assert(out.contains("########## q02_filter_project ##########") &&
      out.contains("########## q09_join_broadcast ##########"), out)
    assert("== Physical Plan ==".r.findAllIn(out).size == 2, out)
  }

  test("fp writes JSON whose entries are the bench's fingerprints") {
    val names = Seq("q01_pricing_summary", "q02_filter_project",
      "q09_join_broadcast", "q43_cte")
    withTempFile { f =>
      val (code, _, _) = captured(Inspect.fp(spark, dir, f.toString, names))
      assert(code == 0)
      val json = new ObjectMapper().readTree(f.toFile)
      assert(json.size == names.size)
      names.foreach { n =>
        val fp = json.get(n).asText
        assert(!fp.startsWith("err") && fp == Bench.planFp(spark, n, dir), n)
      }
    }
  }

  test("fp fails, naming the query, when a plan cannot be built") {
    withTempFile { f =>
      val (code, _, err) = captured(Inspect.fp(spark, dir, f.toString,
        Seq("q02_filter_project", "zz_planted_failure")))
      assert(code != 0)
      assert(err.contains("zz_planted_failure") &&
        err.contains("err:NoSuchElementException"), err)
      val json = new ObjectMapper().readTree(f.toFile)
      assert(json.get("zz_planted_failure").asText == "err:NoSuchElementException")
      assert(!json.get("q02_filter_project").asText.startsWith("err"))
    }
  }
}
