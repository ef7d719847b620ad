package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.checkpointAll`, the concurrent branch materialization of
  * x26: results come back in branch order, and a failing branch stops
  * its siblings instead of leaving their jobs running. */
class CheckpointAllSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  test("checkpoints come back in branch order") {
    val out = Pipeline.checkpointAll(spark, "spec",
      (1 to 5).map(i => s"b$i" -> spark.range(i).toDF()))
    assert(out.map(_.count()) == (1 to 5).map(_.toLong))
  }

  test("a failing branch rethrows its failure and cancels the slow sibling") {
    val sc = spark.sparkContext
    // two tasks of 120 rows at 0.5 s each: a minute of work unless cancelled
    val slow = spark.range(0, 240, 1, 2)
      .selectExpr("id", "reflect('java.lang.Thread', 'sleep', cast(500 as bigint)) AS z")
    val fails = spark.range(0, 1, 1, 1).selectExpr("assert_true(id < 0, 'branch boom') AS a")
    val t0 = System.nanoTime()
    val e = intercept[Throwable] {
      Pipeline.checkpointAll(spark, "spec", Seq("slow" -> slow, "fails" -> fails))
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("branch boom")), e)
    val deadline = System.nanoTime() + 10e9.toLong
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"sibling jobs still running: ${sc.statusTracker.getActiveJobIds.toSeq}")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 40, s"failure took $secs s to surface and clear")
  }
}
